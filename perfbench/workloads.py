"""The benchmark's workloads.

Each drives the engine only through its public functions, from one
closed-loop client on the driver:

- ``bulk_build``: one fresh build of a corpus in both on-disk formats;
  no query code runs.
- ``query_mix``: rounds of a seeded query mix over one store, built in
  set-up; no writes.

``setup`` runs inside the timed set-up window; ``unit`` runs one unit of
measured work and records its operations; ``finish`` runs the
correctness checks, outside every timed region, and counts each
operation that erred or answered wrongly as failed.
"""

from __future__ import annotations

import os
import random
import statistics
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from checks import Oracle, same_topk
from meresco_lucene_spark.corpus import HOT_P, HOT_TERMS, content_for_row, synthesize_corpus
from meresco_lucene_spark.index.segments import build_segments
from meresco_lucene_spark.index.store import build_index_store, open_persistent_index
from meresco_lucene_spark.query.bm25 import B_DEFAULT, K1_DEFAULT
from meresco_lucene_spark.query.executor import search
from meresco_lucene_spark.query.ir import MUST, SHOULD, Q

BULK_ROWS = 2_000
QUERY_ROWS = 2_000
TOP_K = 10
STORE_SPEC = dict(
    text_cols=["content"],
    keyword_cols=["lang", "repo"],
    facet_fields={"lang": ["lang"]},
)
SEGMENT_SPEC = dict(n_shards=32, salt_buckets=8)
# one round of the mix: every class, and every variant of a class, once,
# so that each run does the same kinds of work and only the terms vary
ROUND = (
    ("term_hot", None), ("term_rare", None), ("bool", MUST), ("bool", SHOULD),
    ("phrase", None), ("facet", None), ("dedup_sort", None),
    ("wand", "term_topk"), ("wand", "or_topk"), ("wand", "and_topk"),
)


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile, p in [0, 1]."""
    s = sorted(xs)
    pos = p * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, p) at the highest percentile that still has ten samples
    beyond it; below twenty samples that is the median."""
    p = max(0.5, 1.0 - 10.0 / len(xs))
    return percentile(xs, p), p


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


@dataclass
class Outcome:
    """Everything a workload measured and checked."""

    ops: list[float] = field(default_factory=list)  # wall s per operation
    docs_per_op: int = 0  # documents an operation indexes (0: a query)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    bytes_ratio: float = 0.0
    report: dict[str, tuple] = field(default_factory=dict)

    def verdict(self, what: str, problems: list[str]) -> None:
        """Count one checked operation; ``problems`` lists what was wrong."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.append(f"{what}: {'; '.join(problems)}")


def _hot_term(rng: random.Random) -> str:
    return rng.choices(HOT_TERMS, weights=HOT_P)[0]


def _persist_corpus(spark, rows: int, seed: int, path: str):
    synthesize_corpus(spark, rows, seed=seed).write.parquet(path)
    return spark.read.parquet(path)


class BulkBuild:
    """One fresh ``build_index_store`` and ``build_segments`` of a
    persisted corpus: a batch-indexing job, cold, once per process, as a
    user runs it. Builds were 45% of the old suite and the open ROADMAP
    items rewrite them; no query code runs here."""

    min_units = 1

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.out = Outcome(docs_per_op=BULK_ROWS)
        self.built: list[tuple] = []  # (store, segments, store dir, walls)

    def setup(self) -> None:
        self.corpus = _persist_corpus(
            self.spark, BULK_ROWS, self.seed, os.path.join(self.work, "corpus")
        )

    def prepare_checks(self) -> None:
        self.oracle = Oracle(
            os.path.join(self.work, "corpus", "*.parquet"), K1_DEFAULT, B_DEFAULT
        )

    def unit(self, i: int) -> None:
        t = self.tracer
        store_dir = os.path.join(self.work, f"store-{i}")
        with t.span("bulk_build.op", i, counters=False) as op:
            with t.span("index.store.build_index_store", i, "bulk_build.op") as s1:
                idx = build_index_store(self.corpus, store_dir, **STORE_SPEC)
            with t.span("index.segments.build_segments", i, "bulk_build.op") as s2:
                seg = build_segments(
                    self.corpus, os.path.join(self.work, f"segments-{i}"), **SEGMENT_SPEC
                )
        self.out.ops.append(op["wall_s"])
        self.built.append((idx, seg, store_dir, s1["wall_s"], s2["wall_s"]))

    def _problems(self, idx, seg) -> list[str]:
        problems = []
        n, want_df = self.oracle.n_docs, self.oracle.df(HOT_TERMS)
        if idx.num_docs() != n:
            problems.append(f"store num_docs {idx.num_docs()} != {n}")
        if seg.meta["n_docs"] != n:
            problems.append(f"segments n_docs {seg.meta['n_docs']} != {n}")
        for label, stats in (
            ("store", idx.term_stats_for("content")),
            ("segments", seg.term_stats),
        ):
            rows = stats.filter(F.col("term").isin(HOT_TERMS)).select("term", "df")
            got = {r["term"]: int(r["df"]) for r in rows.collect()}
            if got != want_df:
                bad = sorted(t for t in want_df if got.get(t) != want_df[t])
                problems.append(f"{label} df differs for {bad[:5]}")
        return problems

    def finish(self) -> None:
        with self.tracer.span("bench.check", -1):
            for i, (idx, seg, *_rest) in enumerate(self.built):
                self.out.verdict(f"build {i}", self._problems(idx, seg))
        store_dir = self.built[0][2]
        self.out.bytes_ratio = dir_bytes(store_dir) / self.oracle.content_bytes
        self.oracle.close()
        store_s = statistics.median(b[3] for b in self.built)
        seg_s = statistics.median(b[4] for b in self.built)
        self.out.report = {
            "build_p50_s": (statistics.median(self.out.ops), "s"),
            "store_build_docs_per_s": (BULK_ROWS / store_s, "1/s"),
            "segment_build_docs_per_s": (BULK_ROWS / seg_s, "1/s"),
        }


class QueryMix:
    """Rounds of a seeded query mix over one store, built and opened in
    set-up, with no writes: the read path over one generation.

    Each round issues every query class once in a seeded order (``bool``
    once with MUST and once with SHOULD, ``wand`` once per top-k entry
    point), so every run has the same class proportions. ``term_hot`` has
    a long posting list, so posting decode and scoring dominate it;
    ``term_rare`` has a one-document list, so fixed per-query driver and
    job cost dominates.
    """

    min_units = 1

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.out = Outcome()
        self.rng = random.Random(seed)
        self.used_rows: set[int] = set()
        # (round, class, variant) -> (params, answer)
        self.issued: dict[tuple, tuple] = {}
        self.store_dir = os.path.join(work, "store")

    def setup(self) -> None:
        corpus = _persist_corpus(
            self.spark, QUERY_ROWS, self.seed, os.path.join(self.work, "corpus")
        )
        build_index_store(corpus, self.store_dir, **STORE_SPEC)
        self.idx = open_persistent_index(self.spark, self.store_dir)
        # a server has served queries before the ones measured: one
        # query starts the posting decode path's Python workers
        search(self.idx, Q.term("content", HOT_TERMS[-1]))

    def prepare_checks(self) -> None:
        self.oracle = Oracle(
            os.path.join(self.work, "corpus", "*.parquet"), K1_DEFAULT, B_DEFAULT
        )

    def unit(self, i: int) -> None:
        params = self._round_params()
        order = list(ROUND)
        self.rng.shuffle(order)
        t = self.tracer
        with t.span("query_mix.round", i, counters=False):
            for cls, variant in order:
                p = params[cls, variant]
                with t.span(self._span_name(cls, p), i, "query_mix.round") as sp:
                    result = self._issue(cls, p)
                self.out.ops.append(sp["wall_s"])
                self.issued[i, cls, variant] = (p, result)

    def _round_params(self) -> dict:
        """The round's queries. Each WAND query repeats the terms of an
        exhaustive query in the same round, so the check can compare the
        two answers without issuing more queries."""
        rng = self.rng
        hot, must, should = _hot_term(rng), self._two_terms(), self._two_terms()
        # a sym_ identifier of a document not queried before: a
        # one-document posting list whose term metadata no earlier query
        # can have memoized
        row = rng.choice([r for r in range(QUERY_ROWS) if r not in self.used_rows])
        self.used_rows.add(row)
        syms = [t for t in content_for_row(self.seed, row).split() if t.startswith("sym_")]
        return {
            ("term_hot", None): {"terms": [hot]},
            ("term_rare", None): {"terms": [rng.choice(syms)]},
            ("bool", MUST): {"terms": must, "must": True},
            ("bool", SHOULD): {"terms": should, "must": False},
            ("phrase", None): {"terms": self._two_terms()},
            ("facet", None): {"terms": [_hot_term(rng)]},
            ("dedup_sort", None): {"terms": [_hot_term(rng)]},
            ("wand", "term_topk"): {"terms": [hot], "kind": "term_topk",
                                    "same_as": ("term_hot", None)},
            ("wand", "or_topk"): {"terms": should, "kind": "or_topk",
                                  "same_as": ("bool", SHOULD)},
            ("wand", "and_topk"): {"terms": must, "kind": "and_topk",
                                   "same_as": ("bool", MUST)},
        }

    def _two_terms(self) -> list[str]:
        terms = [_hot_term(self.rng)]
        while len(terms) < 2:
            t = _hot_term(self.rng)
            if t not in terms:
                terms.append(t)
        return terms

    @staticmethod
    def _span_name(cls: str, p: dict) -> str:
        if cls == "wand":
            return f"index.wand.{p['kind']}"
        return f"query.executor.search.{cls}"

    def _issue(self, cls: str, p: dict):
        idx, terms = self.idx, p.get("terms")
        if cls == "wand":
            arg = terms[0] if p["kind"] == "term_topk" else terms
            df = getattr(idx, p["kind"])("content", arg, TOP_K)
            return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]
        if cls == "bool":
            occur = MUST if p["must"] else SHOULD
            return search(idx, Q.boolean(*[(occur, Q.term("content", t)) for t in terms]))
        if cls == "phrase":
            return search(idx, Q.phrase("content", *terms))
        q = Q.term("content", terms[0])
        if cls == "facet":
            return search(idx, q, facets=[{"fieldname": "lang", "maxTerms": 10}])
        if cls == "dedup_sort":
            return search(
                idx, q, start=20, stop=30, dedup_field="repo",
                sort_keys=[{"sortBy": "path", "sortDescending": False}],
            )
        return search(idx, q)

    def _problems(self, i: int, cls: str, p: dict, r) -> list[str]:
        o, terms = self.oracle, p.get("terms")
        if cls == "wand":
            exhaustive = self.issued[(i, *p["same_as"])][1]
            full = [(h.id, h.score) for h in exhaustive.hits]
            ref = o.scores_of(terms, p["kind"] == "and_topk", [d for d, _ in r])
            return [] if same_topk(r, full, ref) else ["WAND top-k != exhaustive top-k"]
        if cls == "phrase":
            want = o.phrase_total(*terms)
            return [] if r.total == want else [f"total {r.total} != {want}"]
        if cls == "dedup_sort":
            hits, groups, page = o.dedup_page(terms[0], "repo", "path", 20, 30)
            out = []
            if (r.totalWithDuplicates, r.total) != (hits, groups):
                out.append(f"totals {(r.totalWithDuplicates, r.total)} != {(hits, groups)}")
            if [h.id for h in r.hits] != page:
                out.append("dedup page differs")
            return out
        must = p.get("must", True)
        got = [(h.id, h.score) for h in r.hits]
        total, top = o.bm25(terms, must, TOP_K)
        out = []
        if r.total != total:
            out.append(f"total {r.total} != {total}")
        if not same_topk(got, top, o.scores_of(terms, must, [d for d, _ in got])):
            out.append("top-k differs")
        if cls == "facet":
            counts = {t["term"]: t["count"] for t in r.drilldownData[0]["terms"]}
            if counts != o.facet_counts(terms[0]):
                out.append("facet counts differ")
        return out

    def finish(self) -> None:
        with self.tracer.span("bench.check", -1):
            for (i, cls, _), (p, r) in self.issued.items():
                self.out.verdict(f"round {i} {cls} {p}", self._problems(i, cls, p, r))
        self.out.bytes_ratio = dir_bytes(self.store_dir) / self.oracle.content_bytes
        self.oracle.close()
        walls = self.out.ops
        tail_v, tail_p = tail(walls)
        self.out.report = {
            "query_p50_s": (statistics.median(walls), "s"),
            f"query_tail_s(p{100 * tail_p:.0f},n={len(walls)})": (tail_v, "s"),
            "queries_per_s": (len(walls) / sum(walls), "1/s"),
        }


WORKLOADS = {"bulk_build": BulkBuild, "query_mix": QueryMix}
