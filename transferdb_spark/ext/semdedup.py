"""Semantic deduplication over the `embeddings` table — SemDeDup-style
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication", public literature): cluster the
embedding space with k-means, then prune near-duplicates WITHIN each
cluster by pairwise cosine, keeping one canonical copy per duplicate
neighborhood. Clustering bounds the pair work — the all-pairs cost
O(n²) becomes Σ|cluster|², which the cluster count controls.

Complements the existing dedup family: `embedding_neardup_pairs`
(hyperplane-LSH prefilter) finds high-cosine pairs; SemDeDup finds
*semantic* redundancy at a lower threshold, where LSH bucket collision
probability is too low to be a useful prefilter.

Spark-first plan shape (designed for the 100 TB case):
- k-means TRAINING is Lloyd iterations expressed as DataFrame ops:
  one narrow Arrow pass assigns each vector to its nearest centroid
  (centroid matrix lives in the UDF closure — k×64 int64s, shipped by
  task serialization like a broadcast), then posexplode + groupBy
  (cluster, dim) recomputes centroids. Partial aggregation (map-side
  combine) collapses the 64× posexplode inflation to k×64 rows per
  task before the exchange, and the driver collects exactly k×64
  integers per iteration — a legal small aggregate, not row data.
- ASSIGNMENT is a stateless narrow pass (no join, no shuffle).
- PRUNING self-joins on the cluster key — one hash shuffle keyed on
  cluster; pair work is bounded by cluster sizes, which is why k must
  scale with the corpus (SemDeDup production runs use k ≈
  n/5000-class clusters for this reason). A pathological
  giant cluster is the skew knob: AQE skew-join splitting handles the
  join side, and the k sizing keeps expected |cluster| flat as n grows.

Numeric contract (engine-exact, same scheme as ext/similarity.py):
elements quantize to qi = floor(x·2^20 + 0.5) int64; distances use the
identity argmin‖x−c‖² = argmin(‖c‖² − 2x·c) so per-pair scoring is
pure integer arithmetic (order-independent, identical across engines);
centroid updates are FLOOR integer division of per-dim sums (Python
`//` floors; the SQL twin rewrites to an exactly-divisible numerator
so truncating and flooring division agree). Ties in the argmin break
to the lowest cluster id in both engines (numpy argmin-first ==
ROW_NUMBER ordered by score, cluster).

Reference parity: the reference engine has no embedding machinery —
this is part of the LLM-data-pipeline surface beyond the reference
(brief: dedup family, embedding-cosine near-dup).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

from transferdb_spark.ext.similarity import (
    DIM,
    QSCALE,
    ROUND,
    _qmat,
    qdot_nd_udf,
)
from transferdb_spark.functions.canonical import stable_round, stable_round_sql

K = 8  # oracle-pinned test scale; production grows k with the row count
ITERS = 2  # fixed Lloyd rounds — the oracle unrolls them, so keep small
THRESHOLD = 0.3  # fixture embeddings are near-orthogonal; SemDeDup's
# paper threshold (~0.95+ on L2-normalized CLIP space) maps here to the
# same "top fraction of in-cluster cosines" regime.


def _init_centroids(emb: DataFrame, k: int) -> list[list[int]]:
    """Deterministic seed: the first k stored vectors (by vec_id),
    quantized. No RNG — the DuckDB oracle must replay training
    exactly. Production would use k-means|| over a sample; the
    deterministic seed is the oracle-reproducibility tradeoff, same
    choice as IVF's first-k pivots (similarity.py)."""
    rows = (
        emb.filter(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need at least {k} vectors to seed {k} clusters")
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return np.floor(M * QSCALE + 0.5).astype(np.int64).tolist()


def _assign_udf(cents: list[list[int]]):
    C = np.asarray(cents, dtype=np.int64)
    # ‖c‖² per centroid: int64-exact (|q| ≤ 2^20, 64 dims → ≤ 2^46)
    CN2 = (C * C).sum(axis=1)

    @pandas_udf(IntegerType())
    def assign(e: pd.Series) -> pd.Series:
        X = _qmat(e)
        if X.shape[0] == 0:
            return pd.Series([], dtype="int32")
        # score = ‖c‖² − 2·x·c ; argmin == nearest centroid. All int64,
        # exact; np.argmin returns the FIRST minimum → lowest cluster
        # id on ties, matching the SQL ROW_NUMBER tie-break.
        S = CN2[None, :] - 2 * (X @ C.T)
        return pd.Series(np.argmin(S, axis=1).astype(np.int32))

    return assign


def _qvec_struct_udf(cents: list[list[int]]):
    """cluster + quantized vector in ONE Arrow pass (the training loop
    needs both; two separate UDFs would decode the array column
    twice)."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    C = np.asarray(cents, dtype=np.int64)
    CN2 = (C * C).sum(axis=1)
    out_t = StructType(
        [
            StructField("cluster", IntegerType()),
            StructField("q", ArrayType(LongType())),
        ]
    )

    @pandas_udf(out_t)
    def assign_q(e: pd.Series) -> pd.DataFrame:
        X = _qmat(e)
        if X.shape[0] == 0:
            return pd.DataFrame({"cluster": pd.Series([], dtype="int32"), "q": []})
        S = CN2[None, :] - 2 * (X @ C.T)
        return pd.DataFrame(
            {
                "cluster": np.argmin(S, axis=1).astype(np.int32),
                "q": list(X),
            }
        )

    return assign_q


def _assign_qn_udf(cents: list[list[int]]):
    """cluster + quantized vector + exact norm in ONE Arrow pass — the
    prune stage's per-vector precompute (round-9): everything the
    in-cluster pair join needs, so no per-pair re-quantization."""
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    C = np.asarray(cents, dtype=np.int64)
    CN2 = (C * C).sum(axis=1)
    out_t = StructType(
        [
            StructField("cluster", IntegerType()),
            StructField("q", ArrayType(LongType())),
            StructField("nrm", DoubleType()),
        ]
    )

    @pandas_udf(out_t)
    def assign_qn(e: pd.Series) -> pd.DataFrame:
        X = _qmat(e)
        if X.shape[0] == 0:
            return pd.DataFrame(
                {
                    "cluster": pd.Series([], dtype="int32"),
                    "q": [],
                    "nrm": pd.Series([], dtype="float64"),
                }
            )
        S = CN2[None, :] - 2 * (X @ C.T)
        return pd.DataFrame(
            {
                "cluster": np.argmin(S, axis=1).astype(np.int32),
                "q": list(X),
                "nrm": np.sqrt((X * X).sum(axis=1).astype(np.float64)),
            }
        )

    return assign_qn


def kmeans_centroids(
    emb: DataFrame, k: int = K, iters: int = ITERS
) -> list[list[int]]:
    """Fixed-round distributed Lloyd iterations; returns the quantized
    centroid matrix (k×DIM Python ints — exact).

    Per round: narrow Arrow assign pass → posexplode → partial-agg
    shuffle of k×DIM rows → driver collect of k×DIM integers → floor
    integer division. Empty clusters keep their previous centroid
    (COALESCE in the SQL twin)."""
    cents = _init_centroids(emb, k)
    for _ in range(iters):
        aq = _qvec_struct_udf(cents)
        sums = (
            emb.select(aq(F.col("embedding")).alias("a"))
            .select(F.col("a.cluster").alias("cluster"), F.posexplode("a.q").alias("dim", "v"))
            .groupBy("cluster", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        nxt = [list(c) for c in cents]
        for r in sums:
            # Python // floors — matching the SQL twin's floor division
            nxt[r["cluster"]][r["dim"]] = r["s"] // r["n"]
        cents = nxt
    return cents


def assign_clusters(emb: DataFrame, cents: list[list[int]]) -> DataFrame:
    """vec_id, cluster — stateless narrow pass, no shuffle."""
    return emb.select(
        "vec_id", _assign_udf(cents)(F.col("embedding")).alias("cluster")
    )


def semdedup_clusters(emb: DataFrame, k: int = K, iters: int = ITERS) -> DataFrame:
    """Final k-means assignment with cluster sizes: (vec_id, cluster,
    cluster_size). The size window is one hash shuffle on the cluster
    key — the same partitioning pruning reuses, so at scale the
    exchange is shared, not repeated."""
    from pyspark.sql import Window

    cents = kmeans_centroids(emb, k, iters)
    a = assign_clusters(emb, cents)
    w = Window.partitionBy("cluster")
    return a.select(
        "vec_id",
        "cluster",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )


def semdedup_prune(
    emb: DataFrame,
    k: int = K,
    iters: int = ITERS,
    threshold: float = THRESHOLD,
) -> DataFrame:
    """Within-cluster near-duplicate pruning: a vector is DROPPED when
    some lower-vec_id vector in its cluster has cosine ≥ threshold;
    `kept_by` is the lowest such neighbor (the canonical copy),
    `cosine` is that pair's similarity. One deterministic pass — the
    keep-lowest-id rule is the same canonical-copy election as the
    exact-substring keep-one dedup (ext/dedup.py) and is the
    deterministic stand-in for SemDeDup's random/centroid-distal
    keeper choice.

    Plan: self-join keyed on cluster (hash shuffle, AQE-splittable),
    dot products via the nondeterministic-marked Arrow kernel (so
    Catalyst can't duplicate the UDF below the threshold filter —
    same trick as embedding_neardup_pairs), then a per-victim
    ROW_NUMBER window picks the lowest keeper."""
    from pyspark.sql import Window

    cents = kmeans_centroids(emb, k, iters)
    # cluster/q/nrm in ONE Arrow pass per VECTOR (round-9, guide
    # §2.3/§4.1): the in-cluster pair stage then pays a single
    # integer-dot kernel instead of three UDFs re-quantizing both
    # sides per pair — same _qmat grid, bit-identical cosines.
    aq = _assign_qn_udf(cents)
    ass = emb.select("vec_id", aq(F.col("embedding")).alias("p")).select(
        "vec_id",
        F.col("p.cluster").alias("cluster"),
        F.col("p.q").alias("q"),
        F.col("p.nrm").alias("nrm"),
    )
    n_parts = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # persist the SPREAD assignment relation for both join sides
    # (round 9): the broadcast side otherwise re-runs the Arrow
    # assign/quantize pass; the repartition keeps the fill parallel.
    ass = ass.repartition(n_parts).persist()
    a = ass.alias("a")
    b = ass.alias("b")
    dot = qdot_nd_udf(F.col("a.q"), F.col("b.q")).cast("double")
    cos = stable_round(dot / (F.col("a.nrm") * F.col("b.nrm")), ROUND)
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("b.cluster").alias("cluster"),
            F.col("a.vec_id").alias("kept_by"),
            cos.cast("double").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    w = Window.partitionBy("vec_id").orderBy("kept_by")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster", "kept_by", "cosine")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle — unrolled fixed-round k-means over the SAME integer
# contract. Dots/norms run as SUM over UNNEST(generate_series) instead
# of 64-term unrolled chains: integer SUM is order-independent, so the
# aggregation form is exactly equal to Spark's numpy int64 matmul.

_XQ = (
    "list_transform(embedding, v -> "
    f"CAST(floor(CAST(v AS DOUBLE) * {QSCALE}.0 + 0.5) AS BIGINT))"
)

# floor division that agrees across engines: subtract the positive
# remainder first so the quotient is exact (floor == truncate).
def _floordiv(s: str, n: str) -> str:
    return f"(({s}) - ((({s}) % ({n})) + ({n})) % ({n})) // ({n})"


def _kmeans_ctes(k: int, iters: int) -> str:
    """CTE chain ending in `aF` = (vec_id, cluster) final assignment,
    with `eq` = (vec_id, xq) and `nm` = (vec_id, n2) available."""
    parts = [
        f"eq AS (SELECT vec_id, {_XQ} AS xq FROM embeddings)",
        "nm AS (SELECT e.vec_id, SUM(e.xq[g.i] * e.xq[g.i]) AS n2"
        f" FROM eq e, UNNEST(generate_series(1, {DIM})) g(i) GROUP BY e.vec_id)",
        f"c0 AS (SELECT CAST(vec_id AS INT) AS cluster, xq AS q FROM eq WHERE vec_id < {k})",
    ]
    prev = "c0"
    for it in range(iters):
        a, s, c = f"a{it}", f"s{it}", f"c{it + 1}"
        parts += [
            # score = ‖c‖² − 2·x·c, exact integers; lowest cluster wins ties
            f"""{a} AS (
  SELECT vec_id, cluster FROM (
    SELECT d.vec_id, d.cluster,
           row_number() OVER (PARTITION BY d.vec_id
                              ORDER BY d.cn2 - 2 * d.dot ASC, d.cluster) AS rn
    FROM (
      SELECT e.vec_id, c.cluster,
             SUM(e.xq[g.i] * c.q[g.i]) AS dot,
             MIN(cn.n2c) AS cn2
      FROM eq e CROSS JOIN {prev} c
      JOIN (SELECT cluster, SUM(q[g2.i] * q[g2.i]) AS n2c
            FROM {prev}, UNNEST(generate_series(1, {DIM})) g2(i)
            GROUP BY cluster) cn ON cn.cluster = c.cluster,
      UNNEST(generate_series(1, {DIM})) g(i)
      GROUP BY e.vec_id, c.cluster
    ) d
  ) WHERE rn = 1
)""",
            f"""{s} AS (
  SELECT a.cluster, g.i AS dim,
         SUM(e.xq[g.i]) AS s, COUNT(*) AS n
  FROM eq e JOIN {a} a ON a.vec_id = e.vec_id,
       UNNEST(generate_series(1, {DIM})) g(i)
  GROUP BY a.cluster, g.i
)""",
            f"""{c} AS (
  SELECT p.cluster, COALESCE(u.q, p.q) AS q
  FROM {prev} p LEFT JOIN (
    SELECT cluster,
           list(CAST({_floordiv('s', 'n')} AS BIGINT) ORDER BY dim) AS q
    FROM {s} GROUP BY cluster
  ) u USING (cluster)
)""",
        ]
        prev = c
    # final assignment against the last centroids
    parts.append(
        f"""aF AS (
  SELECT vec_id, cluster FROM (
    SELECT d.vec_id, d.cluster,
           row_number() OVER (PARTITION BY d.vec_id
                              ORDER BY d.cn2 - 2 * d.dot ASC, d.cluster) AS rn
    FROM (
      SELECT e.vec_id, c.cluster,
             SUM(e.xq[g.i] * c.q[g.i]) AS dot,
             MIN(cn.n2c) AS cn2
      FROM eq e CROSS JOIN {prev} c
      JOIN (SELECT cluster, SUM(q[g2.i] * q[g2.i]) AS n2c
            FROM {prev}, UNNEST(generate_series(1, {DIM})) g2(i)
            GROUP BY cluster) cn ON cn.cluster = c.cluster,
      UNNEST(generate_series(1, {DIM})) g(i)
      GROUP BY e.vec_id, c.cluster
    ) d
  ) WHERE rn = 1
)"""
    )
    return ",\n".join(parts)


def semdedup_clusters_sql(k: int = K, iters: int = ITERS) -> str:
    return f"""
WITH {_kmeans_ctes(k, iters)}
SELECT vec_id, cluster,
       COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
FROM aF
"""


def semdedup_prune_sql(
    k: int = K, iters: int = ITERS, threshold: float = THRESHOLD
) -> str:
    cos = stable_round_sql(
        "CAST(p.dot AS DOUBLE) / (sqrt(CAST(nx.n2 AS DOUBLE)) * sqrt(CAST(ny.n2 AS DOUBLE)))",
        ROUND,
    )
    return f"""
WITH {_kmeans_ctes(k, iters)},
pr AS (
  SELECT x.vec_id AS va, y.vec_id AS vb, y.cluster AS cluster,
         SUM(ex.xq[g.i] * ey.xq[g.i]) AS dot
  FROM aF x JOIN aF y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  JOIN eq ex ON ex.vec_id = x.vec_id
  JOIN eq ey ON ey.vec_id = y.vec_id,
  UNNEST(generate_series(1, {DIM})) g(i)
  GROUP BY 1, 2, 3
),
hits AS (
  SELECT p.vb AS vec_id, p.cluster, p.va AS kept_by,
         CAST({cos} AS DOUBLE) AS cosine
  FROM pr p
  JOIN nm nx ON nx.vec_id = p.va
  JOIN nm ny ON ny.vec_id = p.vb
  WHERE {cos} >= {threshold}
)
SELECT vec_id, cluster, kept_by, cosine FROM (
  SELECT vec_id, cluster, kept_by, cosine,
         row_number() OVER (PARTITION BY vec_id ORDER BY kept_by) AS rn
  FROM hits
) WHERE rn = 1
"""


def cluster_balanced_sample(emb: DataFrame, k: int = K, iters: int = ITERS) -> DataFrame:
    """Diversity-preserving subset selection: keep ceil(sqrt(|cluster|))
    vectors per semantic cluster, elected by portable-hash order.

    The sqrt quota over-samples small clusters relative to proportional
    sampling, so the long tail of rare topics survives while
    mega-clusters are capped — the cluster-balanced selection recipe
    the data-mixing literature pairs with SemDeDup-style clustering.
    Hash election (not "first N") makes the subset independent of input
    order and identical across engines.

    Scale: one hash shuffle on the cluster key (shared with the size
    window), then per-cluster windows — parallel across k clusters,
    with |cluster| kept flat by growing k with the corpus. sqrt and ceil are
    correctly-rounded IEEE ops, so quotas are engine-exact."""
    from pyspark.sql import Window

    from transferdb_spark.functions.hashing import portable_hash64

    c = semdedup_clusters(emb, k, iters)
    w = Window.partitionBy("cluster").orderBy("h", "vec_id")
    return (
        c.withColumn("h", portable_hash64(F.col("vec_id").cast("string")))
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "quota",
            F.ceil(F.sqrt(F.col("cluster_size").cast("double"))).cast("int"),
        )
        .where(F.col("rn") <= F.col("quota"))
        .select(
            "vec_id",
            "cluster",
            F.col("cluster_size").cast("int").alias("cluster_size"),
            "quota",
        )
        .orderBy("cluster", "vec_id")
    )


def cluster_balanced_sample_sql(k: int = K, iters: int = ITERS) -> str:
    from transferdb_spark.functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("CAST(vec_id AS VARCHAR)")
    return f"""
WITH {_kmeans_ctes(k, iters)},
cs AS (
  SELECT vec_id, cluster, COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
  FROM aF
),
rk AS (
  SELECT vec_id, cluster, cluster_size,
         ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY {h}, vec_id) AS rn,
         CAST(ceil(sqrt(CAST(cluster_size AS DOUBLE))) AS INT) AS quota
  FROM cs
)
SELECT vec_id, cluster, CAST(cluster_size AS INT) AS cluster_size, quota
FROM rk WHERE rn <= quota
ORDER BY cluster, vec_id
"""


# ---------------------------------------------------------------------------
# cluster-quality audit — simplified silhouette


SIL_SCALE = 1_000_000  # silhouette quantization grid (6dp)


def _silhouette_udf(cents: list[list[int]]):
    """struct(cluster, sq) in ONE Arrow pass: own-cluster assignment +
    the quantized simplified-silhouette score. d² to every centroid is
    the exact-integer identity ‖x‖² + ‖c‖² − 2x·c; the only floats are
    the final sqrt/div, computed from identical int64 inputs on both
    engines (IEEE sqrt is correctly rounded), then snapped to the
    SIL_SCALE grid so aggregation stays exact-integer."""
    from pyspark.sql.types import LongType, StructField, StructType

    C = np.asarray(cents, dtype=np.int64)
    CN2 = (C * C).sum(axis=1)
    out_t = StructType(
        [StructField("cluster", IntegerType()), StructField("sq", LongType())]
    )

    @pandas_udf(out_t)
    def score(e: pd.Series) -> pd.DataFrame:
        X = _qmat(e)
        if X.shape[0] == 0:
            return pd.DataFrame(
                {"cluster": pd.Series([], dtype="int32"),
                 "sq": pd.Series([], dtype="int64")}
            )
        S = CN2[None, :] - 2 * (X @ C.T)
        own = np.argmin(S, axis=1)  # first-min → lowest cluster on ties
        d2 = (X * X).sum(axis=1)[:, None] + S  # exact int64 distances²
        rows = np.arange(X.shape[0])
        a2 = d2[rows, own]
        masked = d2.copy()
        masked[rows, own] = np.iinfo(np.int64).max
        b2 = masked.min(axis=1)
        hi = np.maximum(a2, b2).astype(np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            s = (np.sqrt(b2.astype(np.float64)) - np.sqrt(a2.astype(np.float64))) / np.sqrt(hi)
        s = np.where(hi == 0, 0.0, s)
        sq = np.floor(s * SIL_SCALE + 0.5).astype(np.int64)
        return pd.DataFrame({"cluster": own.astype(np.int32), "sq": sq})

    return score


def kmeans_silhouette(emb: DataFrame, k: int = K, iters: int = ITERS) -> DataFrame:
    """Per-cluster simplified silhouette (Hruschka et al.'s centroid
    variant of Rousseeuw 1987, public literature): for each vector,
    a = distance to its OWN final centroid, b = distance to the nearest
    OTHER centroid, s = (b−a)/max(a,b). The cluster-quality audit read
    next to [[semdedup_clusters]] before trusting a SemDeDup prune or a
    cluster-balanced sample: a cluster whose mean s ≈ 0 is an arbitrary
    Voronoi slice, not a semantic group.

    Scale: the full silhouette is O(n²) — a non-starter; this is the
    O(n·k) centroid form. Training is the shared fixed-round Lloyd
    loop; scoring is ONE stateless Arrow pass (centroid matrix in the
    UDF closure, k×DIM ints), then a k-row groupBy. No joins, no
    shuffle beyond the k-row aggregate — corpus size appears only in
    the scan. Since assignment IS argmin over the final centroids,
    a ≤ b and s ∈ [0, 1] here. All comparisons exact-integer; the
    per-row score snaps to the SIL_SCALE grid so sums are
    order-independent across engines."""
    cents = kmeans_centroids(emb, k, iters)
    scored = emb.select(_silhouette_udf(cents)(F.col("embedding")).alias("s")).select(
        F.col("s.cluster").alias("cluster"), F.col("s.sq").alias("sq")
    )
    return (
        scored.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("sq").alias("ssum"),
            F.min("sq").alias("smin"),
        )
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            F.col("n").cast("long").alias("n_vecs"),
            stable_round(
                F.col("ssum").cast("double") / (F.col("n") * F.lit(float(SIL_SCALE))), 6
            ).alias("mean_silhouette"),
            stable_round(F.col("smin").cast("double") / F.lit(float(SIL_SCALE)), 6).alias(
                "min_silhouette"
            ),
        )
        .orderBy("cluster")
    )


def kmeans_silhouette_sql(k: int = K, iters: int = ITERS) -> str:
    mean_s = stable_round_sql(
        f"CAST(SUM(sq) AS DOUBLE) / (COUNT(*) * {float(SIL_SCALE)})", 6
    )
    min_s = stable_round_sql(f"CAST(MIN(sq) AS DOUBLE) / {float(SIL_SCALE)}", 6)
    return f"""
WITH {_kmeans_ctes(k, iters)},
cnf AS (SELECT cluster, SUM(q[g.i] * q[g.i]) AS n2c
        FROM c{iters}, UNNEST(generate_series(1, {DIM})) g(i) GROUP BY cluster),
m2 AS (
  SELECT e.vec_id, c.cluster, MIN(cn.n2c) - 2 * SUM(e.xq[g.i] * c.q[g.i]) AS m
  FROM eq e CROSS JOIN c{iters} c
  JOIN cnf cn ON cn.cluster = c.cluster,
  UNNEST(generate_series(1, {DIM})) g(i)
  GROUP BY e.vec_id, c.cluster
),
scored AS (
  SELECT d.vec_id, f.cluster,
         MIN(CASE WHEN d.cluster = f.cluster THEN n.n2 + d.m END) AS a2,
         MIN(CASE WHEN d.cluster <> f.cluster THEN n.n2 + d.m END) AS b2
  FROM m2 d JOIN aF f USING (vec_id) JOIN nm n USING (vec_id)
  GROUP BY d.vec_id, f.cluster
),
si AS (
  SELECT cluster,
         CASE WHEN greatest(a2, b2) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(floor((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                   / sqrt(CAST(greatest(a2, b2) AS DOUBLE)) * {SIL_SCALE} + 0.5) AS BIGINT)
         END AS sq
  FROM scored
)
SELECT CAST(cluster AS INT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST({mean_s} AS DOUBLE) AS mean_silhouette,
       CAST({min_s} AS DOUBLE) AS min_silhouette
FROM si GROUP BY cluster ORDER BY cluster
"""
