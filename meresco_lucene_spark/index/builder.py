"""Inverted-index build as a declarative DataFrame pipeline.

Reference behavior being reproduced (not ported): Lucene's IndexWriter
builds, per segment, sorted (term -> postings(docID, tf, positions))
plus doc-values and norms (reference Lucene.java:160-171, 920-945).

Spark-first restatement:

    corpus DF --tokenize (Arrow UDF)--> tokens
        --posexplode--> occurrences (field, term, doc_id, pos, _dl)
        --groupBy(field, term, doc_id)--> tf + sorted positions + _bdl
                                                           [partial agg, 1 shuffle]
        --groupBy(field, term)--> df/cf term stats         [partial agg, 1 shuffle]

Everything stays in whole-stage-codegen'd built-ins except the tokenizer
(vectorized pandas UDF, Arrow-batched).  The per-doc "norm" (Lucene's
quantized document length, SmallFloat int4 round-trip) is computed at
build time and carried on every posting as ``_bdl`` (raw dl, or norm_dl
when built quantized), so query-time scoring is pure column arithmetic
over the postings alone.

The occurrence front half (:func:`occurrence_frames`) is shared with the
compressed, shard-partitioned on-disk format (delta+varint blocks,
block-max scores for WAND, lineage rows for resume) in
``index/store.py``, whose reader decodes to the same postings schema;
this module holds the session-cached DataFrame form.

Scale notes (100 TB design):
- the two groupBys are the only shuffles; both are partial-aggregated
  map-side first (Spark HashAggregate partial/final), exactly the
  reference's SubCollector/complete() pattern (SuperCollector.java:38-53);
- postings are hash-partitioned by term at the shuffle — skewed hot
  terms ("import", "return") are handled in store.py via salted
  sharding; the DataFrame form relies on AQE skew handling;
- doc ids must be *stable* (a pure function of the input, never of
  partitioning) so checkpoint resume keeps rank-identity — callers
  supply them (the testdata has doc_id; the corpus synthesizer derives
  them from (repo, path, commit) ordering).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meresco_lucene_spark.analysis.tokenizer import tokenize_expr, tokenize_udf
from meresco_lucene_spark.columns import qcol
from meresco_lucene_spark.query.bm25 import (
    K1_DEFAULT,
    B_DEFAULT,
    quantize_dl_expr,
)

# estimated input size above which the tokenize passes are spread over
# the session's parallelism (see _spread_for_tokenize)
TOKENIZE_SPREAD_MIN_BYTES = 3 << 20


def _spread_for_tokenize(df: DataFrame) -> DataFrame:
    """Give the tokenize passes the session's full parallelism — when
    the input is big enough to pay for it.

    A smallish parquet input (one file, one row group) arrives as a
    single scan partition, so every tokenize+explode pass — the
    CPU-heavy part of any build — ran on ONE core of the session
    (measured r6: the stage-1 writes of a 50k-doc store build were
    single-task, and the build halved once spread). When the input has
    fewer partitions than the default parallelism AND the optimizer's
    size estimate says the serial tokenize would dwarf one round-robin
    exchange of the raw rows, repartition to the parallelism; below the
    threshold (a small incremental batch commit) the exchange costs
    more than it saves (A/B-measured r6: +0.7s on a 1.7k-doc commit,
    −7s on a 50k-doc build — the measured crossover sits between those
    input sizes, hence TOKENIZE_SPREAD_MIN_BYTES), and a large input
    already has >= parallelism partitions and is left untouched (guide
    §2.2: scale-adaptive partitioning, no constant tuned to either
    local mode or the cluster)."""
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
        nparts = df.rdd.getNumPartitions()
        if nparts >= par:
            return df
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df
    return df.repartition(par) if est >= TOKENIZE_SPREAD_MIN_BYTES else df


def occurrence_frames(
    df: DataFrame,
    id_col: str,
    text_cols: list[str] | None = None,
    keyword_cols: list[str] | None = None,
    array_cols: list[str] | None = None,
    dutch_cols: list[str] | None = None,
    quantized: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """LAZY (occurrences, field_lengths) frames — the front half shared
    by the session index (:meth:`InvertedIndex.build`, which aggregates
    the occurrences to postings) and the store build
    (``store.build_index_store``, which derives tf and position lists
    inside its whole-shard numpy encode: no collect_list aggregate,
    whose sort-fallback/spill was that build's highest-variance stage).

    occurrences:   (field, term, doc_id, pos, _dl), one row per token
                   position. ``_dl`` is the document length, computed
                   from the SAME token array the occurrences come from
                   (SmallFloat-quantized when ``quantized``), so no
                   consumer joins the lengths table to score or encode.
    field_lengths: (field, doc_id, dl, norm_dl)"""
    text_cols = list(text_cols or [])
    keyword_cols = list(keyword_cols or [])
    array_cols = list(array_cols or [])
    dutch_cols = list(dutch_cols or [])
    df = _spread_for_tokenize(df)
    doc = F.col(id_col).alias("doc_id")

    def _dl_of(raw: Column) -> Column:
        return (quantize_dl_expr(raw) if quantized else raw).cast("long").alias("_dl")

    occ_parts: list[DataFrame] = []
    length_parts: list[DataFrame] = []
    col_plans = (
        [(c, "text") for c in text_cols]
        + [(c, "array") for c in array_cols]
        + [(c, "dutch") for c in dutch_cols]
    )
    for col, kind in col_plans:
        if kind == "array":
            tok_expr = qcol(col)
        elif kind == "dutch":
            from meresco_lucene_spark.analysis.dutch import tokenize_dutch_udf

            tok_expr = tokenize_dutch_udf(qcol(col))
        else:
            tok_expr = tokenize_expr(qcol(col))
        toks = df.select(doc, tok_expr.alias("tokens"))
        occ_parts.append(
            toks.select(
                "doc_id",
                # once per doc, not per exploded token row
                _dl_of(F.coalesce(F.size("tokens"), F.lit(0))),
                F.posexplode_outer("tokens").alias("pos", "term"),
            )
            .filter(F.col("term").isNotNull())
            .select(
                F.lit(col).alias("field"), "term", "doc_id",
                F.col("pos").cast("int").alias("pos"), "_dl",
            )
        )
        length_parts.append(
            toks.select(
                F.lit(col).alias("field"),
                "doc_id",
                F.coalesce(F.size("tokens"), F.lit(0)).cast("long").alias("dl"),
            )
        )
    for col in keyword_cols:
        kw_cols = [
            F.lit(col).alias("field"),
            qcol(col).cast("string").alias("term"),
            doc,
            F.lit(0).cast("int").alias("pos"),
            _dl_of(F.lit(1)),
        ]
        occ_parts.append(df.filter(qcol(col).isNotNull()).select(*kw_cols))
        length_parts.append(
            df.filter(qcol(col).isNotNull()).select(
                F.lit(col).alias("field"), doc, F.lit(1).cast("long").alias("dl")
            )
        )
    if not occ_parts:
        raise ValueError("at least one text or keyword column required")
    occurrences = occ_parts[0]
    for p in occ_parts[1:]:
        occurrences = occurrences.unionByName(p)
    field_lengths = length_parts[0]
    for p in length_parts[1:]:
        field_lengths = field_lengths.unionByName(p)
    field_lengths = field_lengths.withColumn("norm_dl", quantize_dl_expr(F.col("dl")))
    return occurrences, field_lengths


@dataclass
class FieldStats:
    n_docs: int
    sum_dl: int
    omit_norms: bool = False

    @property
    def avgdl(self) -> float:
        return self.sum_dl / self.n_docs if self.n_docs else 1.0


@dataclass
class InvertedIndex:
    """DataFrame-shaped inverted index over one "core".

    Tables:
      forward        : the input rows (doc_id + stored/sortable columns)
      postings       : (field, term, doc_id, tf, positions, _bdl) — the
                       store reader's decoded schema; ``_bdl`` is the
                       document length as built (norm_dl when quantized)
      field_lengths  : (field, doc_id, dl, norm_dl)
      term_stats     : (field, term, df, cf)
    plus per-field corpus stats (N, sum_dl -> avgdl).
    """

    spark: SparkSession
    id_col: str
    forward: DataFrame
    postings: DataFrame
    field_lengths: DataFrame
    term_stats: DataFrame
    stats: dict[str, FieldStats]
    n_docs: int
    k1: float = K1_DEFAULT
    b: float = B_DEFAULT
    has_positions: bool = True
    facet_fields: dict[str, list[str]] = field(default_factory=dict)
    # "BM25" (default, LuceneSettings.java:53) or "TermFrequency"
    # (search/TermFrequencySimilarity.java:40-58; per-core override, used
    # by fixture coreC in MultiLuceneTest.java:72)
    similarity: str = "BM25"
    quantized: bool = False

    # ------------------------------------------------------------------ build
    @staticmethod
    def build(
        df: DataFrame,
        id_col: str,
        text_cols: list[str] | None = None,
        keyword_cols: list[str] | None = None,
        array_cols: list[str] | None = None,
        dutch_cols: list[str] | None = None,
        positions: bool = True,
        k1: float = K1_DEFAULT,
        b: float = B_DEFAULT,
        cache: bool = True,
        facet_fields: dict[str, list[str]] | None = None,
        similarity: str = "BM25",
        quantized: bool = False,
    ) -> "InvertedIndex":
        """Build the index.

        text_cols    : analyzed full-text fields (reference TextField)
        keyword_cols : untokenized single-term fields (reference
                       StringField / ``untokenized.`` prefix convention,
                       fieldregistry.py:31-37) — tf=1, norms omitted
        array_cols   : pre-tokenized array<string> fields indexed as-is
                       (e.g. the suggestion char-ngram fields)
        dutch_cols   : Dutch-stemmed text fields (reference
                       MerescoDutchStemmingAnalyzer: original + stem per
                       token, deduped)
        facet_fields : facet dim -> list of path columns (reference
                       taxonomy facets; a 1-element list is a flat dim)
        """
        spark = df.sparkSession
        keyword_cols = list(keyword_cols or [])
        occurrences, field_lengths = occurrence_frames(
            df,
            id_col=id_col,
            text_cols=text_cols,
            keyword_cols=keyword_cols,
            array_cols=array_cols,
            dutch_cols=dutch_cols,
            quantized=quantized,
        )
        # one posting per (field, term, doc): tf, sorted positions and the
        # document length, which every occurrence of the doc carries
        aggs = [F.count("*").cast("long").alias("tf"), F.max("_dl").alias("_bdl")]
        if positions:
            aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
        postings = occurrences.groupBy("field", "term", "doc_id").agg(*aggs)
        if not positions:
            postings = postings.withColumn("positions", F.lit(None).cast("array<int>"))
        postings = postings.select("field", "term", "doc_id", "tf", "positions", "_bdl")

        term_stats = postings.groupBy("field", "term").agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )

        forward = df.withColumnRenamed(id_col, "doc_id") if id_col != "doc_id" else df

        if cache:
            postings = postings.persist()
            field_lengths = field_lengths.persist()
            term_stats = term_stats.persist()

        # Warm the postings cache CONCURRENTLY with the stats collect
        # below (guide §2.6: the two jobs are independent — the stats
        # aggregate only touches field_lengths). Build latency becomes
        # max(stats job, postings job) instead of their sum; Spark's
        # per-partition cache locks make a consumer racing the warm-up
        # compute-or-wait, never double-compute. A failed warm-up raises
        # from build.
        with ThreadPoolExecutor(max_workers=1) as pool:
            warm = pool.submit(postings.count) if cache else None
            stat_rows = (
                field_lengths.groupBy("field")
                .agg(F.count("*").alias("nd"), F.sum("dl").alias("sdl"))
                .collect()
            )
            if warm is not None:
                warm.result()
        stats: dict[str, FieldStats] = {}
        omit = set(keyword_cols)
        for r in stat_rows:
            stats[r["field"]] = FieldStats(
                n_docs=r["nd"], sum_dl=int(r["sdl"]), omit_norms=r["field"] in omit
            )
        # n_docs without a separate count job: an analyzed (text/array/
        # dutch) field emits exactly one lengths row per input row
        # (posexplode_outer keeps null/empty docs), so its nd IS the doc
        # count; keyword-only specs fall back to counting (keyword
        # lengths are null-filtered).
        full_fields = [
            c for c in (
                list(text_cols or []) + list(array_cols or [])
                + list(dutch_cols or [])
            )
            if c in stats
        ]
        n_docs = stats[full_fields[0]].n_docs if full_fields else df.count()

        return InvertedIndex(
            spark=spark,
            id_col="doc_id",
            forward=forward,
            postings=postings,
            field_lengths=field_lengths,
            term_stats=term_stats,
            stats=stats,
            n_docs=n_docs,
            k1=k1,
            b=b,
            has_positions=positions,
            facet_fields=dict(facet_fields or {}),
            similarity=similarity,
            quantized=quantized,
        )

    # --------------------------------------------------------------- helpers
    def field_stats(self, fld: str) -> FieldStats:
        if fld not in self.stats:
            # Field never indexed: empty stats (queries return no hits).
            return FieldStats(n_docs=self.n_docs, sum_dl=self.n_docs or 1)
        return self.stats[fld]

    def postings_for(self, fld: str, with_dl: bool = False) -> DataFrame:
        p = self.postings.filter(F.col("field") == fld)
        return p if with_dl else p.drop("_bdl")

    def lengths_for(self, fld: str) -> DataFrame:
        return self.field_lengths.filter(F.col("field") == fld).select(
            "doc_id", "dl", "norm_dl"
        )

    def term_stats_for(self, fld: str) -> DataFrame:
        return self.term_stats.filter(F.col("field") == fld).select("term", "df", "cf")

    def num_docs(self) -> int:
        """Reference Lucene.java:668-674 numDocs."""
        return self.n_docs

    def fieldnames(self) -> list[str]:
        """Reference Lucene.java:676-691 fieldnames."""
        return [r["field"] for r in self.postings.select("field").distinct().collect()]

    def unpersist(self) -> None:
        for d in (self.postings, self.field_lengths, self.term_stats):
            try:
                d.unpersist()
            except Exception:
                pass
