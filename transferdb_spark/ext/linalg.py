"""Distributed linear algebra over the embedding column.

Covariance is THE gateway statistic for embedding-space curation —
PCA whitening, anisotropy diagnostics (Ethayarajh 2019), dimension
pruning, matryoshka truncation checks. Spark-first shape: the d×d
second-moment matrix is one explode over the (i<=j) pair list and one
groupBy with map-side combine — shuffle carries d(d+1)/2 keyed rows
per partition, never the vectors; the matrix itself is model-sized
(d², driver-legal).

Cross-engine exactness: elements quantize to int64 at 2^20 (the
ext/similarity.py contract — power-of-two multiply is exact on the
float32-widened double), products and sums stay integer (DECIMAL(38,0)
accumulators: 2^40 per product × 10^12 rows at 100 TB ≈ 10^23 « 10^38,
where a BIGINT sum would overflow), so the oracle hash-matches bit for
bit with no float-order concerns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transferdb_spark.ext.similarity import QSCALE

_QEXPR = f"transform(embedding, x -> cast(floor(x * {QSCALE}d + 0.5d) as bigint))"
_Q_SQL = f"list_transform(embedding, x -> CAST(floor(x * {QSCALE}.0 + 0.5) AS BIGINT))"


def embedding_second_moments(emb: DataFrame, dims: int = 16) -> DataFrame:
    """(i, j, n, s_x, s_y, s_xy) for 1 <= i <= j <= dims — the exact
    integer sufficient statistics of the covariance block:
    cov_ij = (s_xy - s_x·s_y/n) / n, computed wherever the matrix is
    consumed (driver for PCA, SQL for the oracle)."""
    pair_structs = ", ".join(
        f"struct({i} as i, {j} as j)"
        for i in range(1, dims + 1)
        for j in range(i, dims + 1)
    )
    rows = emb.select(F.expr(_QEXPR).alias("qv")).select(
        F.explode(F.expr(f"array({pair_structs})")).alias("p"), "qv"
    )
    prod = (F.expr("qv[p.i - 1]") * F.expr("qv[p.j - 1]")).cast("decimal(38,0)")
    return (
        rows.groupBy(F.col("p.i").alias("i"), F.col("p.j").alias("j"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # accumulate EXACT in DECIMAL(38,0); cast once at the
            # output boundary — decimal→double is correctly rounded of
            # the same exact integer in both engines, so the hash
            # matches while the accumulator never overflows
            F.sum(F.expr("qv[p.i - 1]").cast("decimal(38,0)")).cast("double").alias("s_x"),
            F.sum(F.expr("qv[p.j - 1]").cast("decimal(38,0)")).cast("double").alias("s_y"),
            F.sum(prod).cast("double").alias("s_xy"),
        )
        .orderBy("i", "j")
    )


def embedding_second_moments_sql(dims: int = 16) -> str:
    pair_rows = ", ".join(
        f"({i}, {j})" for i in range(1, dims + 1) for j in range(i, dims + 1)
    )
    return f"""
WITH q AS (SELECT {_Q_SQL} AS qv FROM embeddings),
pairs(i, j) AS (VALUES {pair_rows})
SELECT i, j,
       COUNT(*) AS n,
       CAST(SUM(CAST(qv[i] AS DECIMAL(38,0))) AS DOUBLE) AS s_x,
       CAST(SUM(CAST(qv[j] AS DECIMAL(38,0))) AS DOUBLE) AS s_y,
       CAST(SUM(CAST(qv[i] AS DECIMAL(38,0)) * CAST(qv[j] AS DECIMAL(38,0))) AS DOUBLE) AS s_xy
FROM q CROSS JOIN pairs
GROUP BY i, j
ORDER BY i, j
"""
