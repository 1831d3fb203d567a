"""Reference answers for the benchmark's correctness checks.

``Oracle`` loads the generated corpus into DuckDB and answers the same
questions the engine answers: document frequencies, BM25 (the engine's
Lucene-8 form, as in ``entry_queries.ORACLE_PRELUDE``), facet counts,
phrase matches and dedup pages. The tokenizer
is the engine's documented rule, ``[a-z0-9_]+`` over the accent-folded,
lowercased text.
"""

from __future__ import annotations

import math

import duckdb

TOKENS = "regexp_extract_all(lower(strip_accents(content)), '[a-z0-9_]+')"


def same_score(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


class Oracle:
    def __init__(self, corpus_glob: str, k1: float, b: float):
        self.k1, self.b = k1, b
        con = self.con = duckdb.connect()
        con.execute("SET threads TO 4")
        con.execute("SET memory_limit = '1GB'")
        con.execute(
            "CREATE TABLE docs AS SELECT doc_id, repo, path, lang, content, "
            f"' ' || array_to_string({TOKENS}, ' ') || ' ' AS tokstr "
            f"FROM read_parquet('{corpus_glob}')"
        )
        con.execute(
            "CREATE TABLE tf AS SELECT doc_id, term, count(*)::BIGINT AS tf "
            f"FROM (SELECT doc_id, unnest({TOKENS}) AS term FROM docs) "
            "GROUP BY ALL"
        )
        con.execute(
            "CREATE TABLE dl AS SELECT doc_id, sum(tf)::BIGINT AS dl "
            "FROM tf GROUP BY ALL"
        )
        self.n_docs, self.avgdl, self.content_bytes = con.execute(
            "SELECT count(*), (SELECT avg(dl) FROM dl), sum(strlen(content)) "
            "FROM docs"
        ).fetchone()

    def df(self, terms: list[str]) -> dict[str, int]:
        rows = self.con.execute(
            "SELECT term, count(*) FROM tf WHERE list_contains(?, term) "
            "GROUP BY ALL",
            [terms],
        ).fetchall()
        return {t: int(n) for t, n in rows}

    def _scored(self, terms: list[str], must: bool) -> str:
        """SQL for (doc_id, score) of the docs matching the terms: all of
        them when ``must``, any of them otherwise; score is the sum of the
        matching terms' BM25 scores."""
        having = f"HAVING count(*) = {len(set(terms))}" if must else ""
        return f"""
            SELECT tf.doc_id, sum(
              ln(1 + ({self.n_docs} - d.df + 0.5) / (d.df + 0.5))
              * tf.tf / (tf.tf + {self.k1} * (1 - {self.b}
                 + {self.b} * dl.dl / {self.avgdl}))) AS score
            FROM tf JOIN dl USING (doc_id)
            JOIN (SELECT term, count(*) AS df FROM tf
                  WHERE list_contains($terms, term) GROUP BY ALL) d
              USING (term)
            GROUP BY tf.doc_id {having}"""

    def bm25(self, terms: list[str], must: bool, k: int):
        """(total, top-k [(doc_id, score)]) ordered by score desc, doc_id."""
        sql = self._scored(terms, must)
        total = self.con.execute(
            f"SELECT count(*) FROM ({sql})", {"terms": terms}
        ).fetchone()[0]
        top = self.con.execute(
            f"SELECT doc_id, score FROM ({sql}) "
            f"ORDER BY score DESC, doc_id LIMIT {k}",
            {"terms": terms},
        ).fetchall()
        return int(total), top

    def scores_of(self, terms: list[str], must: bool, doc_ids: list[int]):
        rows = self.con.execute(
            f"SELECT doc_id, score FROM ({self._scored(terms, must)}) "
            "WHERE list_contains($ids, doc_id)",
            {"terms": terms, "ids": doc_ids},
        ).fetchall()
        return dict(rows)

    def facet_counts(self, term: str) -> dict[str, int]:
        rows = self.con.execute(
            "SELECT lang, count(*) FROM docs WHERE doc_id IN "
            "(SELECT doc_id FROM tf WHERE term = ?) GROUP BY ALL",
            [term],
        ).fetchall()
        return {lang: int(n) for lang, n in rows}

    def phrase_total(self, t1: str, t2: str) -> int:
        return int(self.con.execute(
            "SELECT count(*) FROM docs WHERE contains(tokstr, ?)",
            [f" {t1} {t2} "],
        ).fetchone()[0])

    def dedup_page(self, term: str, field: str, sort_by: str, start: int,
                   stop: int):
        """(hits before dedup, groups, page doc ids): the best-scoring doc
        of each ``field`` group, ordered by ``sort_by`` then doc_id."""
        sql = self._scored([term], True)
        best = f"""
            SELECT s.doc_id, d.{sort_by} AS sk,
                   count(*) OVER (PARTITION BY d.{field}) AS n,
                   row_number() OVER (PARTITION BY d.{field}
                                      ORDER BY s.score DESC, s.doc_id) AS rn
            FROM ({sql}) s JOIN docs d USING (doc_id)"""
        hits, groups = self.con.execute(
            f"SELECT sum(n) FILTER (WHERE rn = 1), count(*) FILTER "
            f"(WHERE rn = 1) FROM ({best})",
            {"terms": [term]},
        ).fetchone()
        page = self.con.execute(
            f"SELECT doc_id FROM ({best}) WHERE rn = 1 ORDER BY sk, doc_id "
            f"LIMIT {stop - start} OFFSET {start}",
            {"terms": [term]},
        ).fetchall()
        return int(hits or 0), int(groups), [r[0] for r in page]

    def close(self) -> None:
        self.con.close()


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]],
              score_of: dict[int, float]) -> bool:
    """Top-k equality that tolerates reordering inside a tie: the score
    lists agree, every doc returned carries its reference score, no doc
    repeats, and the docs scoring above the last place agree exactly."""
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    if not all(same_score(g[1], w[1]) for g, w in zip(got, want)):
        return False
    if not all(d in score_of and same_score(s, score_of[d]) for d, s in got):
        return False
    if not got:
        return True
    last = want[-1][1]

    def above(rows):
        return {d for d, s in rows if s > last and not same_score(s, last)}

    return above(got) == above(want)
