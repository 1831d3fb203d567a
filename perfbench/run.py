#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. The engine runs on
``local[<cores available>]`` with one closed-loop client. Every file the
run writes goes under ``.perfbench_work/`` (deleted at exit) and, for a
traced run, the span dump under ``.perfbench_out/``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, read from Spark's
status store around each call (see tracer.py). The lines before it are
a readable report, including the per-workload figures named in
README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER_MEMORY = "2g"

_BUILD = (
    "wall_p50_s", "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
    "cpu_per_run", "driver_only_s", "shuffle_bytes", "input_bytes",
    "output_bytes", "spill_bytes", "gc_s",
)
_QUERY = (
    "wall_p50_s", "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
    "cpu_per_run", "driver_only_s", "shuffle_bytes", "input_bytes",
)
# the public calls timed per layer, and the suffixes kept for each:
# queries write nothing and do not spill, so they drop those counters
LAYER_CALLS = {
    "index.store.build_index_store": _BUILD,
    "index.segments.build_segments": _BUILD,
    **{
        f"query.executor.search.{c}": _QUERY
        for c in ("term_hot", "term_rare", "bool", "phrase", "facet", "dedup_sort")
    },
    **{f"index.wand.{k}": _QUERY for k in ("term_topk", "or_topk", "and_topk")},
}
OBSERVED = {
    "trace.overhead": "ratio",
    "trace.unattributed_stages": "count",
    "trace.evicted_stages": "count",
}
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "index_bytes_per_input_byte": "B/B",
}


def suffix_unit(suffix: str) -> str:
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_bytes"):
        return "B"
    return "ratio" if suffix == "cpu_per_run" else "count"


def per_layer_names() -> dict[str, str]:
    names = {
        f"{call}.{sfx}": suffix_unit(sfx)
        for call, sfxs in LAYER_CALLS.items()
        for sfx in sfxs
    }
    names.update(OBSERVED)
    return names


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_spark(work: str):
    from meresco_lucene_spark.session import get_spark
    from meresco_lucene_spark.shipping import ensure_shipped

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Executors import the engine inside pandas UDFs, and this run's
    # working directory does not hold the package, so it must be shipped.
    # The LuceneCore facade never ships it itself (see README.md).
    ensure_shipped(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for both the JVM
    and the Python workers it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _descendants(pid: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def layer_metrics(tracer, overhead: float) -> dict[str, float]:
    out = dict.fromkeys(per_layer_names(), 0.0)
    for call, sfxs in LAYER_CALLS.items():
        mine = [s for s in tracer.spans if s["name"] == call]
        if not mine:
            continue  # the workload makes no call into this layer
        for sfx in sfxs:
            if sfx == "wall_p50_s":
                v = statistics.median(s["wall_s"] for s in mine)
            elif sfx == "cpu_per_run":
                run = sum(s["exec_run_s"] for s in mine)
                v = sum(s["exec_cpu_s"] for s in mine) / run if run else 0.0
            else:
                v = statistics.median(s[sfx] for s in mine)
            out[f"{call}.{sfx}"] = v
    out["trace.overhead"] = overhead
    out["trace.unattributed_stages"] = tracer.unattributed_stages
    out["trace.evicted_stages"] = tracer.evicted_stages
    return out


def run(args, work: str) -> dict:
    from tracer import Tracer
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_spark(work)
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.prepare_checks()
        tracer.begin()
        i = 0
        while i < wl.min_units or sum(wl.out.ops) < args.seconds:
            wl.unit(i)
            i += 1
        # traced wall time over the same wall time less what the tracer
        # itself spent reading the status store
        measured = sum(wl.out.ops)
        overhead = measured / (measured - tracer.self_s)
        wl.finish()
        tracer.close()
        rss = vm_hwm_mb(jvm_pid()) + vm_hwm_mb("self")
    finally:
        stop_spark(spark)

    out = wl.out
    # an operation is one build of both formats (bulk_build: throughput
    # in documents indexed per second) or one query (query_mix: queries
    # answered per second); per-operation medians are in the report
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": len(out.ops) * (out.docs_per_op or 1) / sum(out.ops),
        "index_bytes_per_input_byte": out.bytes_ratio,
    }
    report = {name: (v, END_TO_END[name]) for name, v in e2e.items()}
    report.update(out.report)
    # the JVM's peak heap varies from run to run (quartile spread up to
    # 0.19 over ten runs, near the widest bound), so it is reported here
    # and not in the result line
    report["peak_rss_mb"] = (rss, "MB")
    report["failed_ratio"] = (
        out.failed / max(out.attempted, 1),
        f"of {out.attempted} operations ({out.failed} failed)",
    )
    for name, (v, unit) in report.items():
        print(f"perfbench {args.workload} seed={args.seed} {name} = {v:.6g} {unit}")
    for msg in out.failures[:20]:
        print(f"perfbench FAILED {msg}")

    if args.trace:
        metrics = layer_metrics(tracer, overhead)
        units = per_layer_names()
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "per_layer": metrics, "spans": tracer.spans}, f, indent=1)
        print(f"perfbench trace written to {os.path.relpath(path, ROOT)}; "
              f"tracing overhead {overhead:.4f}x")
    else:
        metrics, units = e2e, END_TO_END
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_build", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "meresco_lucene_spark")):
        print("perfbench: no meresco_lucene_spark package next to perfbench/; "
              "run from a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temporary file inside the checkout, and run from a
    # directory that does not hold the package, as a consumer would
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    os.chdir(work)
    try:
        result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
