"""Mergeable frequency sketches: Count-Min heavy hitters over tokens.

Hot-key detection is pipeline infrastructure at 100 TB — the skew
handling in the dedup/join operators wants to KNOW the heavy hitters
(stopword-ish tokens, hot URLs, hot join keys) before choosing salting
factors, and a Count-Min sketch (Cormode & Muthukrishnan 2005) gives
them in one pass with O(d·w) state regardless of corpus size.

Spark-first shape:
- The sketch is a (row, col) → count relation of exactly d·w cells:
  one explode + groupBy with map-side combine; every task collapses to
  ≤ d·w cells before the exchange, so the shuffle is sketch-sized, not
  corpus-sized. Sketches for different partitions/days MERGE by adding
  cells — the reason production pipelines keep them as tables.
- Estimation joins a CANDIDATE set against the sketch (broadcast — the
  sketch is d·w rows). Candidates here are the distinct tokens (the
  fixture vocabulary is tiny); at 100 TB you'd feed a sampled or
  df-capped candidate set instead — the estimate path is unchanged and
  the sketch itself never depends on the candidate count.

Everything is integer arithmetic on portable hashes, so the DuckDB
oracle is exact with no float discipline needed. WIDTH (64) is sized a
few multiples above the fixture vocabulary: most cells resolve exactly
through the min over DEPTH rows, while enough collisions remain that
the CMS one-sided error (est >= exact) is genuinely exercised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transferdb_spark.ext.text import TOKENS, TOKENS_SQL
from transferdb_spark.functions.hashing import portable_hash64, portable_hash64_sql

DEPTH = 4
WIDTH = 64


def _cell(row: int, term) -> "F.Column":
    """Row-seeded column index: pmod(h(seed || term), WIDTH)."""
    return F.pmod(
        portable_hash64(F.concat(F.lit(f"cms{row}:"), term)), F.lit(WIDTH)
    ).cast("int")


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("term"))


def cms_sketch(docs: DataFrame) -> DataFrame:
    """(row, col, cnt): the d×w Count-Min sketch of token occurrences.

    ONE corpus scan: each token explodes into its DEPTH (row, col)
    cells via an array-of-structs (the same shape the probe path
    uses), not a DEPTH-way union of scans."""
    cells = _tokens(docs).select(
        F.explode(
            F.array(*[
                F.struct(F.lit(r).alias("row"), _cell(r, F.col("term")).alias("col"))
                for r in range(DEPTH)
            ])
        ).alias("c")
    )
    return (
        cells.groupBy(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("row", "col")
    )


def cms_heavy_hitters(docs: DataFrame, k: int = 20) -> DataFrame:
    """Top-k candidate tokens by CMS estimate, with the exact count and
    the sketch's one-sided overestimate alongside: (term, est, exact,
    overestimate). est >= exact always (CMS guarantee).

    Round-10 shape (guide §1.2): ONE corpus tokenize pass. The sketch
    is derived from the persisted vocab-sized exact-count relation
    instead of a second pass over the token stream — a cell's count is
    Σ exact(term) over the terms hashing into it, the identical
    integer cms_sketch computes from raw occurrences. Previously the
    tokenize+explode pipeline ran twice (once per aggregation).

    Caching: the exact-count relation is pinned with ``qpersist`` and
    stays cached after the result is collected. Long-lived sessions
    release it (with every other tracked builder cache) through
    ``cache.release_query_caches()``."""
    from transferdb_spark.cache import qpersist

    toks = _tokens(docs)
    exact = qpersist(toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact")))
    cells = exact.select(
        "exact",
        F.explode(
            F.array(*[
                F.struct(F.lit(r).alias("row"), _cell(r, F.col("term")).alias("col"))
                for r in range(DEPTH)
            ])
        ).alias("c"),
    )
    sketch = cells.groupBy(
        F.col("c.row").alias("row"), F.col("c.col").alias("col")
    ).agg(F.sum("exact").alias("cnt"))
    probes = exact.select(
        "term",
        "exact",
        F.explode(
            F.array(*[
                F.struct(F.lit(r).alias("row"), _cell(r, F.col("term")).alias("col"))
                for r in range(DEPTH)
            ])
        ).alias("p"),
    ).select("term", "exact", F.col("p.row").alias("row"), F.col("p.col").alias("col"))
    est = (
        probes.join(F.broadcast(sketch), ["row", "col"])
        .groupBy("term", "exact")
        .agg(F.min("cnt").alias("est"))
    )
    return (
        est.select(
            "term",
            "est",
            "exact",
            (F.col("est") - F.col("exact")).alias("overestimate"),
        )
        .orderBy(F.col("est").desc(), "term")
        .limit(k)
    )


def _cell_sql(row: int, expr: str) -> str:
    seeded = f"'cms{row}:' || {expr}"
    return f"CAST({portable_hash64_sql(seeded)} % {WIDTH} AS INT)"


def cms_heavy_hitters_sql(k: int = 20) -> str:
    cells = " UNION ALL ".join(
        f"SELECT {r} AS row, {_cell_sql(r, 'term')} AS col FROM toks"
        for r in range(DEPTH)
    )
    probes = " UNION ALL ".join(
        f"SELECT term, exact, {r} AS row, {_cell_sql(r, 'term')} AS col FROM exact"
        for r in range(DEPTH)
    )
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, u.tok AS term
  FROM (SELECT doc_id, {TOKENS_SQL} AS t FROM documents), UNNEST(t) AS u(tok)
),
sketch AS MATERIALIZED (
  SELECT row, col, COUNT(*) AS cnt FROM ({cells}) GROUP BY 1, 2
),
exact AS MATERIALIZED (SELECT term, COUNT(*) AS exact FROM toks GROUP BY 1),
est AS (
  SELECT term, exact, MIN(cnt) AS est
  FROM ({probes}) p JOIN sketch USING (row, col)
  GROUP BY 1, 2
)
SELECT term, est, exact, est - exact AS overestimate
FROM est
ORDER BY est DESC, term
LIMIT {k}
"""
