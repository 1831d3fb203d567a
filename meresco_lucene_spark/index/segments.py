"""Single-field segment store: a field-bound view over the persistent store.

This is the scale path of the engine (BASELINE.json north rule) for one
text column: ``build_segments`` is ``store.build_index_store`` with one
text field, and :class:`SegmentIndex` binds a :class:`PersistentIndex`
to that field. There is one on-disk format, one build pipeline (tokenize,
df/cf + hot-term salting, the dispersed shard exchange, the whole-shard
block encode, lineage + resume) and one reader; see store.py.

Layout under ``out_dir`` (store.py's, with a single field):
  forward/        the input rows
  field_lengths/  (field, doc_id, dl, norm_dl)
  term_stats/     (field, term, df, cf, base_shard, n_salts)
  postings/       partitioned by shard:
                  (field, term, block_id, doc_count, min_doc, max_doc,
                   block_max_score, doc_bytes, tf_bytes, dl_bytes,
                   pos_bytes)
  lineage/        one row per completed shard (resume)
  meta.json       the store's meta (field_stats, n_shards, k1, b, ...)

Reference parity note: this plays the role of Lucene's segment files +
TieredMergePolicy commits (Lucene.java:920-945, LuceneSettings.java:157-160);
one build = one commit = one queryable snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meresco_lucene_spark.index import wand
from meresco_lucene_spark.index.store import PersistentIndex, build_index_store
from meresco_lucene_spark.query.bm25 import B_DEFAULT, K1_DEFAULT


class SegmentIndex:
    """Query handle over a single-field store: every call is the store's
    own reader bound to that field."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
        self.index = PersistentIndex(spark, out_dir)
        fields = self.index.fieldnames()
        if len(fields) != 1:
            raise ValueError(f"{out_dir} is not a single-field store: {fields}")
        self.field = fld = fields[0]
        st = self.index.field_stats(fld)
        m = self.index.meta
        self.meta = {
            "n_docs": st.n_docs,
            "sum_dl": st.sum_dl,
            "avgdl": st.avgdl,
            **{
                key: m[key]
                for key in ("n_shards", "salt_buckets", "block_size",
                            "hot_df_fraction", "k1", "b", "quantized")
            },
        }
        in_field = F.col("field") == fld
        self.term_stats = self.index.term_stats.filter(in_field).drop("field")
        self.postings = self.index.blocks.filter(in_field)
        self.lengths = self.index.lengths_for(fld)

    def term_shards(self, term: str) -> list[int]:
        rows = self.index._term_meta(self.field, [term])
        if not rows:
            return []
        base, n_salts = rows[0]["base_shard"], rows[0]["n_salts"]
        return [(base + s) % self.meta["n_shards"] for s in range(n_salts)]

    def blocks_for_terms(self, terms: list[str]) -> DataFrame:
        """All blocks of a term set in ONE frame: shard+term predicates
        from the term dictionary, pushed to the parquet scan."""
        return self.index._blocks_for_meta(
            self.field, self.index._term_meta(self.field, terms)
        )

    def blocks_for_term(self, term: str) -> DataFrame:
        return self.blocks_for_terms([term])

    def term_topk(self, term: str, k: int = 10) -> DataFrame:
        """Exact BM25 top-k for one term with block-max WAND pruning."""
        return self.index.term_topk(self.field, term, k)

    def or_topk(self, terms: list[str], k: int = 10) -> DataFrame:
        """Exact disjunctive (SHOULD) BM25 top-k (wand.or_topk)."""
        return self.index.or_topk(self.field, terms, k)

    def and_topk(self, terms: list[str], k: int = 10) -> DataFrame:
        """Exact conjunctive (MUST) BM25 top-k (wand.and_topk)."""
        return self.index.and_topk(self.field, terms, k)

    def term_scores(self, term: str) -> DataFrame:
        """Exact (doc_id, score) frame for one term from the blocks."""
        rows = self.index._term_meta(self.field, [term])
        if not rows:
            return self.spark.createDataFrame([], wand.TOPK_SCHEMA)
        return wand.scores_for_blocks(
            self.index._blocks_for_meta(self.field, rows),
            {term: int(rows[0]["df"])},
            self.index._wand_params(self.field),
        )

    def term_postings(self, term: str) -> DataFrame:
        """Decode a term's blocks back to (doc_id, tf) rows."""
        return wand.decode_blocks(self.blocks_for_term(term))


def build_segments(
    corpus: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    n_shards: int | None = None,
    salt_buckets: int = 8,
    block_size: int = 128,
    hot_df_fraction: float = 0.05,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantized: bool = False,
    resume: bool = False,
    run_id: str = "run0",
) -> SegmentIndex:
    """Build (or resume) the single-field store of ``text_col`` and
    return its :class:`SegmentIndex`. Sharding, salting, block encoding,
    lineage and resume are build_index_store's."""
    build_index_store(
        corpus,
        out_dir,
        id_col=id_col,
        text_cols=[text_col],
        n_shards=n_shards,
        salt_buckets=salt_buckets,
        block_size=block_size,
        hot_df_fraction=hot_df_fraction,
        k1=k1,
        b=b,
        quantized=quantized,
        resume=resume,
        run_id=run_id,
    )
    return SegmentIndex(corpus.sparkSession, out_dir)
