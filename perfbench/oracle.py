"""Independent answers for the output checks: DuckDB BM25 over the
generated documents (the ``_bm25_sql`` pattern of __spark_entry__.py,
tokenized by ``functions.analyzer.duckdb_analyze_sql``), and the top-k
comparison every query check uses."""

from __future__ import annotations

import duckdb

from elasticsearch_assets_spark.functions.analyzer import duckdb_analyze_sql

K = 10
# two engines fold float sums in different orders; scores closer than
# this are the same score
TOL = 1e-6


class Bm25Oracle:
    """BM25 (k1=1.2, b=0.75) of every (doc, term) pair, precomputed once
    in DuckDB; each query is then one small aggregate."""

    def __init__(self, docs):
        """``docs``: pandas frame with doc_id, content, lang."""
        self.con = duckdb.connect()
        self.con.register("src", docs[["doc_id", "content", "lang"]])
        tok = duckdb_analyze_sql("content")
        self.con.execute(f"""
CREATE TABLE toks AS SELECT doc_id, lang, unnest({tok}) AS term FROM src;
CREATE TABLE tf AS SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM toks GROUP BY 1, 2;
CREATE TABLE dl AS SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1;
CREATE TABLE contrib AS
WITH stats AS (
  SELECT avg(dl) AS avgdl, (SELECT count(*) FROM src)::DOUBLE AS n FROM dl
),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
SELECT tf.doc_id, tf.term,
       ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
       * (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)))
       * 2.2 AS c
FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats;
CREATE TABLE langs AS SELECT DISTINCT doc_id, lang FROM src;
""")

    def scores(
        self,
        terms,
        require_all: bool = False,
        must_not=(),
        lang: str | None = None,
        plus: float = 0.0,
    ) -> dict[int, float]:
        """doc_id -> summed BM25 over ``terms`` for every matching doc."""
        terms = sorted(set(terms))
        if not terms:
            return {}
        having = f"HAVING count(*) = {len(terms)}" if require_all else ""
        where = ["term IN (SELECT unnest(?))"]
        params: list = [terms]
        if must_not:
            where.append(
                "doc_id NOT IN (SELECT doc_id FROM tf WHERE term IN "
                "(SELECT unnest(?)))"
            )
            params.append(sorted(set(must_not)))
        if lang is not None:
            where.append("doc_id IN (SELECT doc_id FROM langs WHERE lang = ?)")
            params.append(lang)
        rows = self.con.execute(
            f"SELECT doc_id, sum(c) FROM contrib WHERE {' AND '.join(where)} "
            f"GROUP BY doc_id {having}",
            params,
        ).fetchall()
        return {int(d): float(s) + plus for d, s in rows}

    def prefix_docs(self, prefix: str) -> dict[int, float]:
        """Constant-score (1.0) docs holding a term that starts with
        ``prefix`` — the ES wildcard ``prefix*``."""
        rows = self.con.execute(
            "SELECT DISTINCT doc_id FROM tf WHERE starts_with(term, ?)",
            [prefix],
        ).fetchall()
        return {int(d): 1.0 for (d,) in rows}


def same_top(got, want: dict[int, float], k: int = K) -> bool:
    """``got`` (the engine's top-k rows) equals the top-k of ``want``
    (every matching doc's score), ranked by score rounded to 4 places,
    then doc_id. When a score tie straddles the cut the two engines may
    keep different members of the tie; that counts as equal only if
    every kept doc's score matches and no dropped doc scores higher."""
    def ranked(rows):
        return sorted(
            ((int(d), round(float(s), 4)) for d, s in rows),
            key=lambda r: (-r[1], r[0]),
        )

    g = ranked(got)
    if g == ranked(want.items())[:k]:
        return True
    if len(g) != min(k, len(want)):
        return False
    kept = {d for d, _ in g}
    for d, s in got:
        if int(d) not in want or abs(float(s) - want[int(d)]) > TOL:
            return False
    cut = min(want[d] for d in kept) if kept else 0.0
    return all(s <= cut + TOL for d, s in want.items() if d not in kept)
