"""Similarity search over the `embeddings` table (array<float>, d=64).

Baseline: brute-force cosine top-k — one narrow pass when the query is
a broadcast row. Scale path: hyperplane-LSH bucketing — deterministic
pseudo-random planes derived from the portable hash so buckets (and the
DuckDB oracle) are reproducible; candidate generation is a bucket-equi
join instead of an O(n²) cross.

Vector math runs in Arrow-vectorized pandas UDFs (numpy).
This is the one hot path where built-in expressions lose: higher-order
functions (zip_with/aggregate) evaluate interpreted per element, and
expanded 64-term arithmetic pays seconds of Janino codegen compile per
stage.

Numeric contract (engine-exact by construction): elements are
quantized to integers qi = floor(x·2^20 + 0.5) — the multiply by a
power of two is EXACT on the float32-widened double, so quantization
is deterministic — and dots / squared norms are then pure int64
arithmetic, which is order-independent and identical everywhere. The
only float ops left (int→double below 2^53, sqrt, one multiply, one
divide) are IEEE correctly-rounded and bit-identical across engines.
Float SUM CHAINS are deliberately banned from the verification
contract: DuckDB was observed evaluating the same 64-term chain
differently when it feeds a division (FMA contraction) than as a
standalone projection, so left-to-right float parity cannot be relied
on across expression contexts.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

DIM = 64
# 4 planes = 16 buckets: sized so local-test buckets hold enough
# candidates for top-k; at production scale raise planes (buckets ≈ 2^p)
# to keep per-bucket candidate counts bounded.
N_PLANES = 4
ROUND = 5
QSCALE = 1 << 20  # element quantization scale (power of 2: exact multiply)

# --- DuckDB dialect: exact integer chains over quantized elements ---


def _q_sql(elem: str) -> str:
    return f"CAST(floor(CAST({elem} AS DOUBLE) * {QSCALE}.0 + 0.5) AS BIGINT)"


DOT_SQL = " + ".join(
    f"{_q_sql('{a}[%d]' % (j + 1))} * {_q_sql('{b}[%d]' % (j + 1))}" for j in range(DIM)
)
NORM_SQL = "sqrt(CAST(" + " + ".join(
    f"{_q_sql('{a}[%d]' % (j + 1))} * {_q_sql('{a}[%d]' % (j + 1))}" for j in range(DIM)
) + " AS DOUBLE))"


def cosine_sql(a: str, b: str) -> str:
    from transferdb_spark.functions.canonical import stable_round_sql

    return stable_round_sql(
        f"CAST({DOT_SQL.format(a=a, b=b)} AS DOUBLE) / ({NORM_SQL.format(a=a)} * {NORM_SQL.format(a=b)})",
        ROUND,
    )


# --- Spark side: Arrow-batched numpy kernels ---


def _mat(s: pd.Series) -> np.ndarray:
    """(n, DIM) float64 matrix from an Arrow array-column batch."""
    if len(s) == 0:
        return np.empty((0, DIM), dtype=np.float64)
    return np.stack(s.to_numpy()).astype(np.float64)


def _qmat(s: pd.Series) -> np.ndarray:
    """(n, DIM) int64 quantized matrix — exact, order-independent math."""
    return np.floor(_mat(s) * QSCALE + 0.5).astype(np.int64)


@pandas_udf(DoubleType())
def dot_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    QA, QB = _qmat(a), _qmat(b)
    return pd.Series((QA * QB).sum(axis=1).astype(np.float64))


@pandas_udf(DoubleType())
def norm_udf(a: pd.Series) -> pd.Series:
    Q = _qmat(a)
    return pd.Series(np.sqrt((Q * Q).sum(axis=1).astype(np.float64)))


def cosine_expr(a: str, b: str):
    from transferdb_spark.functions.canonical import stable_round

    return stable_round(
        dot_udf(F.col(a), F.col(b)) / (norm_udf(F.col(a)) * norm_udf(F.col(b))), ROUND
    )


def _qdot_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact dot of two PRE-QUANTIZED int64 vectors — the pair-side
    kernel of the q/nrm precompute split (round-9, guide §2.3/§4.1):
    quantization and the two norms move to a once-per-VECTOR pass
    before the self-join, so the per-PAIR work is one integer matmul
    instead of three UDF evaluations re-quantizing both sides."""
    QA = np.stack(a.to_numpy()).astype(np.int64) if len(a) else np.empty((0, DIM), np.int64)
    QB = np.stack(b.to_numpy()).astype(np.int64) if len(b) else np.empty((0, DIM), np.int64)
    return pd.Series((QA * QB).sum(axis=1))


qdot_udf = pandas_udf(_qdot_kernel, LongType())

# Nondeterministic VARIANT for the pair-join consumers (guide §4.4:
# stops Catalyst pushing a threshold filter below the projection and
# evaluating the Arrow kernel twice per pair). A SEPARATE UDF object
# on purpose — asNondeterministic() mutates in place, so round-9's
# call-site `qdot_udf.asNondeterministic()` silently flipped
# knn_label_vote's deterministic use of the shared qdot_udf after any
# pair query ran first (round-9 advice). Values are identical either
# way; only optimizer freedom differs.
qdot_nd_udf = pandas_udf(_qdot_kernel, LongType()).asNondeterministic()


@pandas_udf(
    StructType(
        [
            StructField("bucket", IntegerType()),
            StructField("q", ArrayType(LongType())),
            StructField("nrm", DoubleType()),
        ]
    )
)
def prep_qbn_udf(emb: pd.Series) -> pd.DataFrame:
    """ONE Arrow pass per vector → (LSH bucket, quantized int64 vector,
    exact norm double): everything the banded kNN pair stage needs,
    computed once per vector instead of once per pair. Integer sums
    are order-independent, so bucket/dot/norm are bit-identical to the
    bucket_udf/dot_udf/norm_udf chain (same _qmat grid)."""
    Q = _qmat(emb)
    if Q.shape[0] == 0:
        return pd.DataFrame(
            {"bucket": pd.Series([], dtype="int32"), "q": [], "nrm": pd.Series([], dtype="float64")}
        )
    signs = _signs().astype(np.int64)
    bucket = np.zeros(len(Q), dtype=np.int32)
    for i in range(N_PLANES):
        dots = (Q * signs[i]).sum(axis=1)
        bucket += np.where(dots >= 0, 1 << i, 0).astype(np.int32)
    nrm = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
    return pd.DataFrame({"bucket": bucket, "q": list(Q), "nrm": nrm})


def embedding_norms(emb: DataFrame) -> DataFrame:
    """vec_id, l2_norm — cheap sanity operator over the vector column."""
    from transferdb_spark.functions.canonical import stable_round

    return emb.select(
        "vec_id", stable_round(norm_udf(F.col("embedding")), ROUND).alias("l2_norm")
    )


from transferdb_spark.functions.canonical import stable_round_sql as _sr_sql  # noqa: E402

EMBEDDING_NORMS_SQL = f"""
SELECT vec_id, CAST({_sr_sql(NORM_SQL.format(a='embedding'), ROUND)} AS DOUBLE) AS l2_norm
FROM embeddings
"""


def topk_bruteforce(emb: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Top-k cosine neighbours of one stored vector (excluding itself).

    The query row is broadcast — the scan stays a single narrow pass;
    ordering ties break on vec_id for determinism."""
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qvec")
    )
    return (
        emb.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            cosine_expr("embedding", "qvec").cast("double").alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def topk_bruteforce_sql(query_vec_id: int = 0, k: int = 10) -> str:
    return f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {query_vec_id})
SELECT vec_id, CAST({cosine_sql('embedding', 'qvec')} AS DOUBLE) AS cosine
FROM embeddings, q
WHERE vec_id <> {query_vec_id}
ORDER BY cosine DESC, vec_id
LIMIT {k}
"""


# --- hyperplane LSH ---
# plane(i, j) ∈ {-1, +1} from the parity of the portable hash of "i,j".
# The plane matrix is a compile-time constant, so the signs are
# precomputed here (same md5 parity both engines used to compute
# in-query) and folded into an expanded ±x_j sum — a signed add chain
# the JVM/DuckDB execute codegen'd, with zero per-row hashing.


def _plane_sign(i: int, j: int) -> int:
    h = int(hashlib.md5(f"{i},{j}".encode()).hexdigest()[:10], 16)
    return 1 - 2 * (h % 2)


def _signed_dot(i: int, elem: str) -> str:
    """±quantized-element add chain for plane i (exact BIGINT sum);
    elem holds '{j}' (1-based)."""
    parts = []
    for j in range(DIM):
        t = _q_sql(elem.format(j=j + 1))
        if j == 0:
            parts.append(t if _plane_sign(i, 0) > 0 else f"-{t}")
        else:
            parts.append(("+ " if _plane_sign(i, j) > 0 else "- ") + t)
    return " ".join(parts)


_SIGNS_CACHE: dict[int, np.ndarray] = {}


def _signs(n_planes: int = N_PLANES) -> np.ndarray:
    if n_planes not in _SIGNS_CACHE:
        _SIGNS_CACHE[n_planes] = np.array(
            [[_plane_sign(i, j) for j in range(DIM)] for i in range(n_planes)],
            dtype=np.float64,
        )
    return _SIGNS_CACHE[n_planes]


def derived_planes(
    n_rows: int, target_bucket_rows: int = 4096, lo: int = N_PLANES, hi: int = 24
) -> int:
    """Shared plane-count formula (both engines evaluate it identically):
    n <= target -> lo; else clamp(ceil(log2(n/target)), lo, hi)."""
    import math

    if n_rows <= target_bucket_rows:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_rows / target_bucket_rows))))


def ann_topk_lsh_auto(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    target_bucket_rows: int = 16,
    max_planes: int = 12,
) -> DataFrame:
    """ANN top-k with the plane count DERIVED from table stats instead
    of the fixed test-scale N_PLANES — the production sizing path.

    The count is parquet-metadata cheap; derived_planes keeps expected
    bucket occupancy ≈ target_bucket_rows. max_planes=12 here (not the
    production 24) purely to bound the oracle twin's expanded SQL —
    the formula itself is scale-free. At the fixture scales this
    derives 5 planes (500 rows) and 7 planes (2000 rows), so the
    parametric path is genuinely exercised by the correctness gate."""
    n = emb.count()
    planes = derived_planes(n, target_bucket_rows, hi=max_planes)
    udf = make_bucket_udf(planes)
    with_b = emb.select(
        "vec_id", "embedding", udf(F.col("embedding")).alias("bucket")
    )
    q = with_b.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket")
    )
    return (
        with_b.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", cosine_expr("embedding", "qvec").cast("double").alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def _auto_bucket_ctes(query_vec_id: int, target_bucket_rows: int, max_planes: int) -> str:
    """Shared p/b/q CTE text: the derived plane count as a scalar
    subquery, every bucket bit up to max_planes gated on `i < planes`."""
    t = target_bucket_rows
    planes_sql = (
        f"(SELECT CASE WHEN COUNT(*) <= {t} THEN {N_PLANES} "
        f"ELSE GREATEST({N_PLANES}, LEAST({max_planes}, "
        f"CAST(CEIL(LOG2(COUNT(*) / {t}.0)) AS INT))) END FROM embeddings)"
    )
    bits = []
    for i in range(max_planes):
        dot = _signed_dot(i, "CAST(embedding[{j}] AS DOUBLE)")
        bits.append(
            f"(CASE WHEN {i} < p.planes AND ({dot}) >= 0 THEN {1 << i} ELSE 0 END)"
        )
    bucket = " + ".join(bits)
    return f"""
WITH p AS (SELECT {planes_sql} AS planes),
b AS (SELECT vec_id, embedding, CAST(({bucket}) AS INT) AS bucket FROM embeddings, p),
q AS (SELECT embedding AS qvec, bucket AS qbucket FROM b WHERE vec_id = {query_vec_id})"""


def ann_topk_lsh_auto_sql(
    query_vec_id: int = 0,
    k: int = 10,
    target_bucket_rows: int = 16,
    max_planes: int = 12,
) -> str:
    """Oracle twin: the plane count comes from the SAME formula as a
    scalar subquery, and every bit up to max_planes is gated on
    `i < planes` — so one static SQL string adapts to any table size,
    exactly like the Spark side's derived_planes(count)."""
    return f"""{_auto_bucket_ctes(query_vec_id, target_bucket_rows, max_planes)}
SELECT vec_id, CAST({cosine_sql('embedding', 'qvec')} AS DOUBLE) AS cosine
FROM b, q
WHERE bucket = qbucket AND vec_id <> {query_vec_id}
ORDER BY cosine DESC, vec_id
LIMIT {k}
"""


def ann_topk_multiprobe_auto(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    target_bucket_rows: int = 16,
    max_planes: int = 12,
) -> DataFrame:
    """Auto-sized multi-probe: derived plane count + Hamming-1 probe
    set. The production recall knob — more planes (smaller buckets)
    cost recall, the 1-bit probes buy it back at (1+planes)/2^planes
    of the scan."""
    n = emb.count()
    planes = derived_planes(n, target_bucket_rows, hi=max_planes)
    udf = make_bucket_udf(planes)
    with_b = emb.select(
        "vec_id", "embedding", udf(F.col("embedding")).alias("bucket")
    )
    q = with_b.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket")
    )
    probe = F.col("bucket") == F.col("qbucket")
    for i in range(planes):
        probe = probe | (
            F.col("bucket") == F.col("qbucket").bitwiseXOR(F.lit(1 << i))
        )
    return (
        with_b.join(F.broadcast(q), probe)
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", cosine_expr("embedding", "qvec").cast("double").alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def ann_topk_multiprobe_auto_sql(
    query_vec_id: int = 0,
    k: int = 10,
    target_bucket_rows: int = 16,
    max_planes: int = 12,
) -> str:
    # probes beyond the derived plane count degenerate to the base
    # bucket equality (xor with 0) — harmless duplicates under OR
    probes = " OR ".join(
        ["b.bucket = q.qbucket"]
        + [
            f"b.bucket = xor(q.qbucket, CASE WHEN {i} < p.planes THEN {1 << i} ELSE 0 END)"
            for i in range(max_planes)
        ]
    )
    return f"""{_auto_bucket_ctes(query_vec_id, target_bucket_rows, max_planes)}
SELECT b.vec_id, CAST({cosine_sql('b.embedding', 'q.qvec')} AS DOUBLE) AS cosine
FROM b, q, p
WHERE ({probes}) AND b.vec_id <> {query_vec_id}
ORDER BY cosine DESC, b.vec_id
LIMIT {k}
"""


def make_bucket_udf(n_planes: int):
    """bucket_udf for an explicit plane count (production path —
    the module-level bucket_udf pins N_PLANES for the oracle twin)."""

    @pandas_udf(IntegerType())
    def _bucket(emb: pd.Series) -> pd.Series:
        Q = _qmat(emb)
        signs = _signs(n_planes).astype(np.int64)
        out = np.zeros(len(Q), dtype=np.int32)
        for i in range(n_planes):
            dots = (Q * signs[i]).sum(axis=1)
            out += np.where(dots >= 0, 1 << i, 0).astype(np.int32)
        return pd.Series(out)

    return _bucket


@pandas_udf(IntegerType())
def bucket_udf(emb: pd.Series) -> pd.Series:
    """LSH bucket id = Σ bit_i · 2^i over N_PLANES sign bits.

    Signed integer sums over quantized elements ≡ the SQL ±q_j BIGINT
    chain exactly (integer math is order-independent), so bucket ids
    match the oracle by construction."""
    Q = _qmat(emb)
    signs = _signs().astype(np.int64)
    out = np.zeros(len(Q), dtype=np.int32)
    for i in range(N_PLANES):
        dots = (Q * signs[i]).sum(axis=1)
        out += np.where(dots >= 0, 1 << i, 0).astype(np.int32)
    return pd.Series(out)


def _bucket_sql() -> str:
    bits = []
    for i in range(N_PLANES):
        dot = _signed_dot(i, "CAST(embedding[{j}] AS DOUBLE)")
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(bits)


def lsh_buckets(emb: DataFrame, n_planes: int | None = None) -> DataFrame:
    """vec_id, bucket — one narrow pass, no shuffle.

    n_planes=None keeps the oracle-pinned test-scale default; production
    passes derived_planes(count) to bound bucket occupancy."""
    udf = bucket_udf if n_planes is None else make_bucket_udf(n_planes)
    return emb.select("vec_id", udf(F.col("embedding")).alias("bucket"))


def lsh_bucket_histogram(emb: DataFrame) -> DataFrame:
    """Bucket occupancy — the health check for the LSH index."""
    return (
        lsh_buckets(emb).groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")).orderBy("bucket")
    )


def lsh_bucket_histogram_sql() -> str:
    return f"""
SELECT CAST(({_bucket_sql()}) AS INT) AS bucket, COUNT(*) AS cnt
FROM embeddings
GROUP BY 1 ORDER BY 1
"""


def ann_topk_lsh(emb: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """ANN top-k: exact cosine *within the query's LSH bucket* only.

    The bucket join replaces the full scan — at 100 TB with B buckets
    the candidate set is ~n/B; recall is tuned by N_PLANES (and can be
    extended to multi-probe by unioning neighbouring buckets)."""
    with_b = emb.select(
        "vec_id", "embedding", bucket_udf(F.col("embedding")).alias("bucket")
    )
    q = with_b.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket")
    )
    return (
        with_b.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", cosine_expr("embedding", "qvec").cast("double").alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def ann_topk_lsh_sql(query_vec_id: int = 0, k: int = 10) -> str:
    return f"""
WITH b AS (SELECT vec_id, embedding, CAST(({_bucket_sql()}) AS INT) AS bucket FROM embeddings),
q AS (SELECT embedding AS qvec, bucket AS qbucket FROM b WHERE vec_id = {query_vec_id})
SELECT vec_id, CAST({cosine_sql('embedding', 'qvec')} AS DOUBLE) AS cosine
FROM b, q
WHERE bucket = qbucket AND vec_id <> {query_vec_id}
ORDER BY cosine DESC, vec_id
LIMIT {k}
"""


def ann_recall_eval(emb: DataFrame, n_queries: int = 8, k: int = 10) -> DataFrame:
    """Index-quality evaluation: recall@k of the LSH bucket search
    against brute-force cosine for the first `n_queries` stored
    vectors. This is the operator that answers "is N_PLANES right for
    this corpus?" — run it on a sample before committing an index
    configuration at scale.

    Plan shape: the query set is broadcast to both arms; the exact arm
    is one narrow scan × n_queries (row_number windows partitioned by
    query), the ANN arm prunes to the query's bucket first. The final
    recall join touches n_queries×k rows. At 100 TB the exact arm is
    the expensive one by design — that's why it runs on a query SAMPLE
    while the index serves the full corpus.

    Determinism: cosines are engine-exact (quantized int64 contract)
    and ties break on vec_id, so both engines rank identically.
    """
    from pyspark.sql import Window

    with_b = emb.select(
        "vec_id", "embedding", bucket_udf(F.col("embedding")).alias("bucket")
    )
    q = with_b.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")

    exact = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", cosine_expr("embedding", "qvec").cast("double").alias("cosine")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id")
    )
    ann = (
        with_b.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("qid")),
        )
        .select(
            "qid", "vec_id", cosine_expr("embedding", "qvec").cast("double").alias("cosine")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id")
    )
    from transferdb_spark.functions.canonical import stable_round

    hits = (
        exact.join(ann, ["qid", "vec_id"], "inner")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        q.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
            stable_round(F.coalesce("n_hits", F.lit(0)) / F.lit(k), 5)
            .cast("double")
            .alias("recall_at_k"),
        )
        .orderBy("qid")
    )


def ann_recall_eval_sql(n_queries: int = 8, k: int = 10) -> str:
    return f"""
WITH b AS (SELECT vec_id, embedding, CAST(({_bucket_sql()}) AS INT) AS bucket FROM embeddings),
q AS (SELECT vec_id AS qid, embedding AS qvec, bucket AS qbucket FROM b WHERE vec_id < {n_queries}),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY CAST({cosine_sql('e.embedding', 'q.qvec')} AS DOUBLE) DESC, e.vec_id) AS rn
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.qid
  ) WHERE rn <= {k}
),
ann AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, b.vec_id,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY CAST({cosine_sql('b.embedding', 'q.qvec')} AS DOUBLE) DESC, b.vec_id) AS rn
    FROM b CROSS JOIN q
    WHERE b.bucket = q.qbucket AND b.vec_id <> q.qid
  ) WHERE rn <= {k}
),
hits AS (
  SELECT exact.qid, COUNT(*) AS n_hits
  FROM exact JOIN ann ON exact.qid = ann.qid AND exact.vec_id = ann.vec_id
  GROUP BY exact.qid
)
SELECT q.qid, CAST(COALESCE(hits.n_hits, 0) AS INT) AS n_hits,
       CAST({_sr_sql(f"COALESCE(hits.n_hits, 0) / {k}.0", 5)} AS DOUBLE) AS recall_at_k
FROM q LEFT JOIN hits ON q.qid = hits.qid
ORDER BY q.qid
"""


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH prefilter:
    pairs sharing a bucket, kept when exact cosine ≥ threshold.

    Norms are computed once per vector before the pair join — the
    per-pair work is a single dot product (the pair count, not the
    vector count, dominates at scale).

    Two plan details matter: (1) the dot UDF is marked
    nondeterministic so Catalyst cannot push the threshold filter
    below the projection and evaluate the Arrow kernel TWICE per pair
    (once in the filter, once in the output); (2) the probe side is
    round-robin repartitioned — the dim side is broadcast, so the
    probe needs no co-partitioning, and without this a single-file
    local read would funnel every pair evaluation through one task."""
    # q/nrm precompute (round-9, guide §2.3/§4.1): one Arrow pass per
    # VECTOR yields bucket+quantized vector+norm; the pair stage pays a
    # single integer-dot kernel instead of re-quantizing both sides.
    with_b = emb.select(
        "vec_id", prep_qbn_udf(F.col("embedding")).alias("p")
    ).select(
        "vec_id",
        F.col("p.bucket").alias("bucket"),
        F.col("p.q").alias("q"),
        F.col("p.nrm").alias("nrm"),
    )
    n_parts = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # persist the SPREAD relation and feed both join sides from it
    # (round 9): the broadcast side cannot reuse the other side's
    # shuffle stages, so without the cache the Arrow prep pass ran
    # once per side; the repartition keeps the fill pass parallel.
    with_b = with_b.repartition(n_parts).persist()
    a, c = with_b.alias("a"), with_b.alias("b")
    from transferdb_spark.functions.canonical import stable_round

    dot = qdot_nd_udf(F.col("a.q"), F.col("b.q")).cast("double")
    cos = stable_round(dot / (F.col("a.nrm") * F.col("b.nrm")), ROUND)
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.cast("double").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_sql(threshold: float = 0.95) -> str:
    dot = DOT_SQL.format(a="x.embedding", b="y.embedding")
    return f"""
WITH bk AS (SELECT vec_id, embedding, CAST(({_bucket_sql()}) AS INT) AS bucket,
                   {NORM_SQL.format(a='embedding')} AS nrm
            FROM embeddings)
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       CAST({_sr_sql(f"CAST(({dot}) AS DOUBLE) / (x.nrm * y.nrm)", ROUND)} AS DOUBLE) AS cosine
FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE {_sr_sql(f"CAST(({dot}) AS DOUBLE) / (x.nrm * y.nrm)", ROUND)} >= {threshold}
"""


# --- IVF (inverted-file) ANN ---
# Pivots are the first N_CELLS stored vectors (deterministic — no
# k-means RNG to reproduce in the oracle). Every vector is assigned to
# its max-dot pivot; a query probes the N_PROBE nearest cells and runs
# exact cosine only there. At 100 TB: assignment is a narrow Arrow
# pass with the (N_CELLS × DIM) pivot matrix in the UDF closure
# (broadcast by task serialization), and the probe filter prunes the
# candidate scan to ~n·N_PROBE/N_CELLS rows before any pair work.

N_CELLS = 16
N_PROBE = 4


def _pivot_matrix(emb: DataFrame, n_cells: int = N_CELLS) -> np.ndarray:
    rows = (
        emb.filter(F.col("vec_id") < n_cells)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    return np.array([r["embedding"] for r in rows], dtype=np.float64)


def _cell_ids(Q: np.ndarray, qpivots: np.ndarray) -> np.ndarray:
    """argmax-dot cell per row; ties -> lowest pivot id (oracle order).

    Integer dot products over quantized rows/pivots: exact, so tie
    handling and ordering match the SQL BIGINT chains by construction."""
    D = Q @ qpivots.T  # (n, n_cells) int64, exact
    return np.argmax(D, axis=1).astype(np.int32)  # first max = lowest pid


def _quantize(M: np.ndarray) -> np.ndarray:
    return np.floor(M * QSCALE + 0.5).astype(np.int64)


def ivf_assign(emb: DataFrame, pivots: np.ndarray) -> DataFrame:
    """vec_id, embedding, cell — one narrow Arrow pass."""
    qpivots = _quantize(pivots)

    @pandas_udf(IntegerType())
    def cell_udf(e: pd.Series) -> pd.Series:
        return pd.Series(_cell_ids(_qmat(e), qpivots))

    return emb.select("vec_id", "embedding", cell_udf(F.col("embedding")).alias("cell"))


def ann_topk_ivf(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_probe: int = N_PROBE,
    n_cells: int = N_CELLS,
) -> DataFrame:
    """IVF ANN top-k: exact cosine within the probed cells only.

    n_cells defaults to the oracle-pinned test scale; production sizes
    it from the row count (about count / 4096 cells) to bound per-cell
    candidate work."""
    pivots = _pivot_matrix(emb, n_cells)
    q_row = emb.filter(F.col("vec_id") == query_vec_id).select("embedding").collect()
    qvec = np.array([q_row[0]["embedding"]], dtype=np.float64)
    qq, qp = _quantize(qvec)[0], _quantize(pivots)
    qdots = [(int((qq * qp[pid]).sum()), pid) for pid in range(len(qp))]
    probe = [pid for _, pid in sorted(qdots, key=lambda t: (-t[0], t[1]))[:n_probe]]

    cells = ivf_assign(emb, pivots).filter(F.col("cell").isin(probe))
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qvec")
    )
    return (
        cells.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .select("vec_id", cosine_expr("embedding", "qvec").cast("double").alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def ann_topk_ivf_sql(query_vec_id: int = 0, k: int = 10, n_probe: int = N_PROBE) -> str:
    dot_ep = DOT_SQL.format(a="e.embedding", b="p.pvec")
    dot_qp = DOT_SQL.format(a="q.qvec", b="p.pvec")
    return f"""
WITH pivots AS (
  SELECT vec_id AS pid, embedding AS pvec FROM embeddings WHERE vec_id < {N_CELLS}
),
qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {query_vec_id}),
assign AS (
  SELECT e.vec_id, e.embedding, p.pid,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY {dot_ep} DESC, p.pid) AS rn
  FROM embeddings e CROSS JOIN pivots p
),
cells AS (SELECT vec_id, embedding, pid AS cell FROM assign WHERE rn = 1),
probed AS (
  SELECT pid AS cell FROM (
    SELECT p.pid, row_number() OVER (ORDER BY {dot_qp} DESC, p.pid) AS rn
    FROM pivots p CROSS JOIN qv q
  ) WHERE rn <= {n_probe}
)
SELECT c.vec_id, CAST({cosine_sql('c.embedding', 'q.qvec')} AS DOUBLE) AS cosine
FROM cells c JOIN probed USING (cell) CROSS JOIN qv q
WHERE c.vec_id <> {query_vec_id}
ORDER BY cosine DESC, c.vec_id
LIMIT {k}
"""


def ann_topk_lsh_multiprobe(
    emb: DataFrame, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """Multi-probe LSH ANN: search the query's bucket plus every
    bucket at Hamming distance 1 (one plane flipped) — recall recovers
    toward brute force at (1 + N_PLANES)/2^N_PLANES of the scan cost."""
    with_b = emb.select(
        "vec_id", "embedding", bucket_udf(F.col("embedding")).alias("bucket")
    )
    q = with_b.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qvec"), F.col("bucket").alias("qbucket")
    )
    probe = F.col("bucket") == F.col("qbucket")
    for i in range(N_PLANES):
        probe = probe | (
            F.col("bucket") == F.col("qbucket").bitwiseXOR(F.lit(1 << i))
        )
    return (
        with_b.join(F.broadcast(q), probe)
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", cosine_expr("embedding", "qvec").cast("double").alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def ann_topk_lsh_multiprobe_sql(query_vec_id: int = 0, k: int = 10) -> str:
    probes = " OR ".join(
        ["b.bucket = q.qbucket"]
        + [f"b.bucket = xor(q.qbucket, {1 << i})" for i in range(N_PLANES)]
    )
    return f"""
WITH b AS (SELECT vec_id, embedding, CAST(({_bucket_sql()}) AS INT) AS bucket FROM embeddings),
q AS (SELECT embedding AS qvec, bucket AS qbucket FROM b WHERE vec_id = {query_vec_id})
SELECT b.vec_id, CAST({cosine_sql('b.embedding', 'q.qvec')} AS DOUBLE) AS cosine
FROM b, q
WHERE ({probes}) AND b.vec_id <> {query_vec_id}
ORDER BY cosine DESC, b.vec_id
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# kNN label vote — label-noise audit / auto-labeling QA (the Confident
# Learning-style check): for every vector, the majority label among
# its k nearest LSH-bucket neighbours, vs its own label. A vector
# whose neighbourhood consistently disagrees is a labeling-error (or
# decision-boundary) candidate; the same relation IS kNN label
# propagation when the input's own labels are the seed set.


def knn_label_vote(emb: DataFrame, k: int = 5) -> DataFrame:
    """(vec_id, label, knn_label, votes, n_neighbors) — majority label
    of the k nearest in-bucket neighbours (exact quantized cosine;
    candidate set bounded by the LSH bucket, never all-pairs, so the
    self-join cost is Σ bucket² — the standard banded-kNN shape that
    survives 10^10 vectors with derived_planes). Vectors alone in
    their bucket have no neighbours and drop out (an ANN index that
    cannot produce candidates cannot vote). Deterministic ties:
    neighbour rank (cosine DESC, vec_id ASC), vote rank
    (votes DESC, label ASC)."""
    from pyspark.sql import Window

    from transferdb_spark.functions.canonical import stable_round

    # q/nrm precompute (round-9, guide §2.3/§4.1): bucket, quantized
    # vector and norm come from ONE Arrow pass per VECTOR; the in-bucket
    # self-join then pays a single integer-dot kernel per PAIR instead
    # of three UDFs re-quantizing both sides — same _qmat grid, so
    # every cosine is bit-identical to the cosine_expr chain.
    b = emb.select(
        "vec_id", "label", prep_qbn_udf(F.col("embedding")).alias("p")
    ).select(
        "vec_id", "label",
        F.col("p.bucket").alias("bucket"),
        F.col("p.q").alias("q"),
        F.col("p.nrm").alias("nrm"),
    )
    # persist a SPREAD copy for both join sides (round 9): without the
    # cache the Arrow prep pass ran once per broadcast-join side; the
    # repartition keeps the fill pass parallel on few-split scans.
    n_parts = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    b = b.repartition(n_parts).persist()
    a, n = b.alias("a"), b.alias("n")
    pairs = a.join(
        n,
        (F.col("a.bucket") == F.col("n.bucket"))
        & (F.col("a.vec_id") != F.col("n.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.label").alias("label"),
        F.col("n.label").alias("nlabel"),
        F.col("n.vec_id").alias("nid"),
        stable_round(
            qdot_udf(F.col("a.q"), F.col("n.q")).cast("double")
            / (F.col("a.nrm") * F.col("n.nrm")),
            ROUND,
        ).cast("double").alias("cos"),
    )
    wn = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("nid"))
    knn = pairs.withColumn("rn", F.row_number().over(wn)).where(F.col("rn") <= k)
    votes = knn.groupBy("vec_id", "label", "nlabel").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = Window.partitionBy("vec_id").orderBy(F.desc("votes"), F.asc("nlabel"))
    wt = Window.partitionBy("vec_id")
    return (
        votes.withColumn("n_neighbors", F.sum("votes").over(wt))
        .withColumn("rk", F.row_number().over(wv))
        .where(F.col("rk") == 1)
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            F.col("nlabel").cast("int").alias("knn_label"),
            F.col("votes").cast("long").alias("votes"),
            F.col("n_neighbors").cast("long").alias("n_neighbors"),
        )
        .orderBy("vec_id")
    )


def knn_label_vote_sql(k: int = 5) -> str:
    return f"""
WITH b AS MATERIALIZED (
  SELECT vec_id, embedding, label, CAST(({_bucket_sql()}) AS INT) AS bucket
  FROM embeddings),
pairs AS (
  SELECT a.vec_id, a.label, n.label AS nlabel, n.vec_id AS nid,
         CAST({cosine_sql('a.embedding', 'n.embedding')} AS DOUBLE) AS cos
  FROM b a JOIN b n ON a.bucket = n.bucket AND a.vec_id <> n.vec_id),
knn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nid) AS rn
    FROM pairs)
  WHERE rn <= {k}),
votes AS (
  SELECT vec_id, label, nlabel, COUNT(*) AS votes
  FROM knn GROUP BY vec_id, label, nlabel)
SELECT vec_id, CAST(label AS INT) AS label, CAST(nlabel AS INT) AS knn_label,
       CAST(votes AS BIGINT) AS votes, CAST(n_neighbors AS BIGINT) AS n_neighbors
FROM (
  SELECT *, SUM(votes) OVER (PARTITION BY vec_id) AS n_neighbors,
         row_number() OVER (PARTITION BY vec_id ORDER BY votes DESC, nlabel) AS rk
  FROM votes)
WHERE rk = 1
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# int8 scalar quantization audit — the compression step every
# billion-vector store applies (symmetric per-vector int8: code_j =
# round(127 * x_j / max|x|)). All accounting stays in EXACT integer
# arithmetic over the engine-shared QSCALE grid: the squared error of
# code_j against 127*q_j is (127*q_j - code_j*m)^2 in units of
# (m/127)^2 — no float chain ever crosses the engine boundary.


def _int8_exprs() -> tuple[str, str, str, str]:
    q = f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {QSCALE}.0 + 0.5) AS BIGINT))"
    m = "array_max(transform(q, v -> abs(v)))"
    # round-half-away-from-zero in pure integers: (2*127*|v| + m) div (2m)
    code = (
        "IF(m = 0L, 0L, IF(v < 0L, -1L, 1L) * ((254L * abs(v) + m) DIV (2L * m)))"
    )
    sse = (
        f"aggregate(q, 0L, (acc, v) -> acc + "
        f"(127L * v - ({code}) * m) * (127L * v - ({code}) * m))"
    )
    nmax = f"aggregate(q, 0L, (acc, v) -> acc + IF(abs({code}) = 127L, 1L, 0L))"
    return q, m, sse, nmax


def embedding_int8_stats(emb: DataFrame) -> DataFrame:
    """(vec_id, max_q, sse_q, n_maxcode) — per-vector int8 quantization
    audit, exact integers end to end. max_q is the vector's scale
    anchor on the QSCALE grid, sse_q the total squared reconstruction
    error in grid units (divide by 127^2 for (m·unit)^2), n_maxcode
    how many dims saturate the code range. Narrow projection — rides
    the scan partitioning at any scale."""
    q, m, sse, nmax = _int8_exprs()
    return (
        emb.select("vec_id", F.expr(q).alias("q"))
        .select("vec_id", "q", F.expr(m).alias("m"))
        .select(
            "vec_id",
            F.col("m").cast("long").alias("max_q"),
            F.expr(sse).cast("long").alias("sse_q"),
            F.expr(nmax).cast("long").alias("n_maxcode"),
        )
        .orderBy("vec_id")
    )


def embedding_int8_stats_sql() -> str:
    q_elem = f"CAST(floor(CAST(x AS DOUBLE) * {QSCALE}.0 + 0.5) AS BIGINT)"
    code = (
        "CASE WHEN m = 0 THEN 0 ELSE "
        "(CASE WHEN v < 0 THEN -1 ELSE 1 END) * ((254 * abs(v) + m) // (2 * m)) END"
    )
    return f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> {q_elem}) AS q
  FROM embeddings),
withm AS (
  SELECT vec_id, q, list_max(list_transform(q, v -> abs(v))) AS m FROM q)
SELECT vec_id,
       CAST(m AS BIGINT) AS max_q,
       CAST(list_sum(list_transform(q, v ->
            (127 * v - ({code}) * m) * (127 * v - ({code}) * m))) AS BIGINT) AS sse_q,
       CAST(list_sum(list_transform(q, v ->
            CASE WHEN abs({code}) = 127 THEN 1 ELSE 0 END)) AS BIGINT) AS n_maxcode
FROM withm
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# Matryoshka truncation audit — how much of each vector's energy the
# first MRL_HEAD dimensions carry. The question every embedding-store
# owner asks before truncating stored dims (MRL, Kusupati et al. 2022,
# public literature): if we keep only the head, what fraction of
# squared norm — and therefore of dot-product mass — survives?

MRL_HEAD = 16  # truncation prefix length audited (of the stored dim)


def embedding_energy_ratio(emb: DataFrame, head: int = MRL_HEAD) -> DataFrame:
    """Per-label truncation-fidelity rollup: (label, n_vecs,
    energy_ratio, min_ratio) where energy_ratio is the label's pooled
    head-energy share Σ‖x[:head]‖² / Σ‖x‖² and min_ratio the worst
    single vector (the one a truncated index will hurt most).

    Exactness contract (house rule, same grid as the int8 audit):
    elements are quantized to BIGINTs on the QSCALE grid, per-vector
    energies are exact integer folds, and the per-LABEL sums accumulate
    as DECIMAL(38,0) — int64 would overflow near 10⁹ vectors at this
    grid — so no float summation ever crosses the engine boundary;
    doubles appear only in the two output divisions."""
    from transferdb_spark.functions.canonical import stable_round

    q = (
        f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {QSCALE}.0 + 0.5)"
        " AS BIGINT))"
    )
    head_e = f"aggregate(slice(q, 1, {head}), 0L, (acc, v) -> acc + v * v)"
    tot_e = "aggregate(q, 0L, (acc, v) -> acc + v * v)"
    per = (
        emb.select("label", F.expr(q).alias("q"))
        .select("label", F.expr(head_e).alias("he"), F.expr(tot_e).alias("te"))
        .withColumn(
            "r",
            F.when(
                F.col("te") > 0, stable_round(F.col("he") / F.col("te"), 6)
            ),
        )
    )
    return (
        per.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            stable_round(
                F.sum(F.col("he").cast("decimal(38,0)")).cast("double")
                / F.sum(F.col("te").cast("decimal(38,0)")).cast("double"),
                6,
            ).alias("energy_ratio"),
            F.min("r").alias("min_ratio"),
        )
        .orderBy("label")
    )


def embedding_energy_ratio_sql(head: int = MRL_HEAD) -> str:
    from transferdb_spark.functions.canonical import stable_round_sql

    q_elem = f"CAST(floor(CAST(x AS DOUBLE) * {QSCALE}.0 + 0.5) AS BIGINT)"
    return f"""
WITH q AS (
  SELECT label, list_transform(embedding, x -> {q_elem}) AS q
  FROM embeddings),
per AS (
  SELECT label,
         CAST(list_sum(list_transform(q[1:{head}], v -> v * v)) AS BIGINT) AS he,
         CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS te
  FROM q)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST({stable_round_sql("CAST(SUM(he) AS DOUBLE) / CAST(SUM(te) AS DOUBLE)", 6)} AS DOUBLE) AS energy_ratio,
       MIN(CASE WHEN te > 0 THEN CAST({stable_round_sql("he / te", 6)} AS DOUBLE) END) AS min_ratio
FROM per
GROUP BY label
ORDER BY label
"""
