"""Spans around calls into the engine, with Spark counters read from
outside the engine.

A span times one public call and attributes to it every Spark job
submitted while it ran. Attribution is by time window, not by job
group: job ids are sequential and the benchmark is the only client, so
the jobs of a call are exactly the ids handed out between its start and
its end. That also catches jobs the engine submits from its own threads
(the incremental store writes tombstones on a helper thread, outside any
job group).

Stage data is read from Spark's status store right after each call,
because the store keeps only ``spark.ui.retainedStages`` stages (1000 by
default). A stage that is gone by then is counted as evicted. Jobs that
were submitted between spans, from no timed call, are counted as
unattributed.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# stage statuses whose tasks ran; SKIPPED stages reuse earlier shuffle
# output and cost nothing
_RAN = {"COMPLETE", "FAILED", "ACTIVE"}

COUNTERS = (
    "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "shuffle_bytes",
    "input_bytes", "output_bytes", "spill_bytes", "gc_s",
)


class Tracer:
    """Records spans. When ``enabled`` is false (the end-to-end runs) a
    span only measures its wall time and Spark is never asked anything.
    ``self_s`` is the time the tracer itself spent asking Spark, which
    is what tracing adds to the traced calls' enclosing operations."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.self_s = 0.0
        self.spans: list[dict] = []
        self.unattributed_stages = 0
        self.evicted_stages = 0
        if enabled:
            self._sc = spark.sparkContext._jsc.sc()
            self._store = self._sc.statusStore()

    def begin(self) -> None:
        """Start the measured window: set-up's jobs and time are not the
        traced calls' and are not counted."""
        self.self_s = 0.0
        if self.enabled:
            self._seen = self._next_job_id()

    def _next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def _skip_gap(self) -> None:
        """Count jobs submitted since the last span as unattributed."""
        now = self._next_job_id()
        for j in range(self._seen, now):
            try:
                self.unattributed_stages += len(_stage_ids(self._store.job(j)))
            except Py4JJavaError:  # job purged from the status store
                self.evicted_stages += 1
        self._seen = now

    def _collect(self, first: int, end: int, t0: float, t1: float) -> dict:
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = end - first
        intervals = []
        for j in range(first, end):
            try:
                jd = self._store.job(j)
            except Py4JJavaError:  # job purged: count it as one lost stage
                self.evicted_stages += 1
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            start = sub.get().getTime() / 1e3 if sub.isDefined() else t0
            stop = done.get().getTime() / 1e3 if done.isDefined() else t1
            intervals.append((max(start, t0), min(stop, t1)))
            for sid in _stage_ids(jd):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    self.evicted_stages += 1
                    continue
                if st.status().toString() not in _RAN:
                    continue
                out["stages"] += 1
                out["tasks"] += int(st.numTasks())
                out["exec_run_s"] += st.executorRunTime() / 1e3
                out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_bytes"] += int(st.shuffleWriteBytes())
                out["input_bytes"] += int(st.inputBytes())
                out["output_bytes"] += int(st.outputBytes())
                out["spill_bytes"] += int(st.diskBytesSpilled())
                out["gc_s"] += st.jvmGcTime() / 1e3
        out["driver_only_s"] = max(0.0, (t1 - t0) - _union_length(intervals))
        return out

    @contextmanager
    def span(self, name: str, op_id: int, parent: str | None = None,
             counters: bool = True, **attrs):
        """Time the body; the yielded dict is the span record. A span with
        ``counters`` reads the Spark jobs of its window on exit when the
        run is traced; an enclosing operation span passes
        ``counters=False`` and leaves the jobs to its children."""
        rec = {"name": name, "op": op_id, "parent": parent, **attrs}
        counting = self.enabled and counters
        if counting:
            s0 = time.perf_counter()
            self._skip_gap()
            first = self._seen
            self.self_s += time.perf_counter() - s0
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - p0
            if self.enabled:
                t1 = time.time()
                rec.update(start=t0, end=t1)
                if counting:
                    s0 = time.perf_counter()
                    end = self._next_job_id()
                    self._seen = end
                    rec.update(self._collect(first, end, t0, t1))
                    self.self_s += time.perf_counter() - s0
                self.spans.append(rec)

    def close(self) -> None:
        if self.enabled:
            self._skip_gap()


def _stage_ids(job_data) -> list[int]:
    ids = job_data.stageIds()
    return [int(ids.apply(i)) for i in range(ids.length())]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
