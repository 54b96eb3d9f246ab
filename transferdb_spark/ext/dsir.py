"""Data selection via importance resampling — DSIR-style (Xie et al.
2023, "Data Selection for Language Models via Importance Resampling",
public literature): score every raw document by how target-like it is
under hashed n-gram bag-of-words language models, then keep the
highest-importance examples. The standard recipe for "give me the slice
of the 100 TB crawl that looks like my curated target corpus".

Model: unigram + bigram features hashed into B buckets; per-bucket
add-one-smoothed probabilities under the TARGET distribution p and the
RAW distribution q; a document's importance weight is
Σ_tokens [ln p(bucket) − ln q(bucket)]. Selection here is deterministic
top-k by weight (ties on doc_id) — the reproducible stand-in for the
paper's Gumbel-top-k resampling, same substitution as the engine's
other hash-gated samplers.

Spark-first plan shape (the 100 TB case):
- feature extraction is pure JVM expressions (split / transform /
  md5-bucket) — no Python in the hot path;
- bucket statistics are ONE pass: explode → groupBy(bucket) with
  conditional sums, map-side combine collapsing the token stream to
  ≤B rows per task before the exchange;
- the weight table (≤B rows) is BROADCAST to the scoring join, so
  scoring is explode → broadcast hash join → groupBy(doc_id) — a
  single shuffle keyed on doc_id, again with partial aggregation;
- selection is orderBy+limit → TakeOrderedAndProject (per-partition
  top-k, no global sort).

Numeric contract: bucket counts are exact integers; each per-bucket
log-ratio is computed ONCE (B evaluations total, not per token),
scaled by 10^6 and floor(+0.5)-rounded to BIGINT, so per-document
scores are exact integer sums — order-independent and identical across
engines. ln() is the only non-correctly-rounded op; it sits behind the
10^-6 rounding grid where a 1-ulp engine difference flips a bucket
weight only on an exact grid tie (~10^-10 odds per bucket, and only B
buckets). Ordering for top-k uses the exact integer score.

Reference parity: no reference analogue — LLM-data-pipeline surface
(brief: quality scoring / sampling family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from transferdb_spark.ext.text import TOKENS, TOKENS_SQL
from transferdb_spark.functions.hashing import portable_hash64, portable_hash64_sql

B = 1024  # hashed feature buckets (paper uses 10^4; fixture-scaled)
SCALE = 1_000_000  # log-weight fixed-point scale
TARGET_SOURCE = "src0"  # fixture's stand-in for the curated target set
TOP_K = 50

# unigrams + adjacent bigrams over the shared whitespace tokenization.
# Spark side builds grams from a MATERIALIZED `toks` column —
# element_at(<split expr>, i) inside a lambda re-evaluates the split
# per index (Spark does not hoist subexpressions out of lambda
# bodies), turning bigram construction O(n_tokens^2); zip_with over
# two slices of the bound column is O(n). DuckDB's optimizer hoists
# the list expression, so the SQL twin keeps the direct form.
_GRAMS = (
    "concat(toks, zip_with(slice(toks, 1, size(toks) - 1), "
    "slice(toks, 2, size(toks) - 1), (a, b) -> concat(a, ' ', b)))"
)
_GRAMS_SQL = (
    f"list_concat({TOKENS_SQL}, "
    f"CASE WHEN len({TOKENS_SQL}) >= 2 THEN "
    f"list_transform(generate_series(1, len({TOKENS_SQL}) - 1), "
    f"i -> ({TOKENS_SQL})[i] || ' ' || ({TOKENS_SQL})[i + 1]) "
    "ELSE [] END)"
)


def _bucket(term: Column) -> Column:
    return F.pmod(portable_hash64(term), F.lit(B)).cast("int")


def _bucket_sql(expr: str) -> str:
    return f"CAST({portable_hash64_sql(expr)} % {B} AS INT)"


def _terms(docs: DataFrame) -> DataFrame:
    """(doc_id, is_target, bucket) — one row per token occurrence."""
    from transferdb_spark.ext.text import spread_narrow

    return (
        spread_narrow(docs).select(
            "doc_id",
            (F.col("source") == TARGET_SOURCE).cast("int").alias("is_target"),
            F.expr(TOKENS).alias("toks"),
        )
        .select("doc_id", "is_target", F.explode(F.expr(_GRAMS)).alias("term"))
        .select("doc_id", "is_target", _bucket(F.col("term")).alias("bucket"))
    )


def _bucket_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, is_target, bucket, c) — per-doc bucket occurrence
    counts, PERSISTED (round 10, guide §1.2): the tokenize + bigram
    build + md5-bucket explode is the expensive stage of every DSIR
    query, and both consumers (the model aggregation over buckets and
    the per-doc scoring pass) previously re-ran it from the scan. One
    pass now feeds both. The cached relation is the pre-aggregated
    count table (≤ distinct buckets per doc, not the raw token
    stream), so the cache and the exchange that fills it carry less
    than the exploded relation they replace; builder-scoped persist
    per the cache.py contract."""
    from transferdb_spark.cache import qpersist

    return qpersist(
        _terms(docs)
        .groupBy("doc_id", "is_target", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _weights_from_counts(counts_by_doc: DataFrame) -> DataFrame:
    """(bucket, w) — fixed-point log-importance per feature bucket.

    Conditional sums over the shared per-doc count relation; the
    totals join is a 1-row broadcast. Output is ≤B rows however large
    the corpus."""
    counts = counts_by_doc.groupBy("bucket").agg(
        F.sum(F.col("is_target") * F.col("c")).alias("t"),
        F.sum((1 - F.col("is_target")) * F.col("c")).alias("r"),
    )
    totals = counts.agg(
        F.sum("t").alias("tt"), F.sum("r").alias("rt")
    )
    # identical expression shape to the SQL twin: ln of one quotient
    # per distribution, subtracted, then fixed-point rounded.
    w = F.floor(
        (
            F.log(F.col("t").cast("double") + 1.0)
            - F.log((F.col("tt") + B).cast("double"))
            - F.log(F.col("r").cast("double") + 1.0)
            + F.log((F.col("rt") + B).cast("double"))
        )
        * SCALE
        + F.lit(0.5)
    ).cast("bigint")
    return counts.crossJoin(F.broadcast(totals)).select("bucket", w.alias("w"))


def doc_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, is_target, n_grams, score) for every document.

    score = Σ per-token bucket weight / 10^6 — the exact integer sum
    crosses to DOUBLE only at the output boundary. Both passes (model
    + scoring) read the shared _bucket_counts cache; per-occurrence
    sums become Σ c·w over the count table — identical integers."""
    counts_by_doc = _bucket_counts(docs)
    scored = (
        counts_by_doc
        .join(F.broadcast(_weights_from_counts(counts_by_doc)), "bucket")
        .groupBy("doc_id", "is_target")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.col("c") * F.col("w")).alias("sw"),
        )
    )
    return scored.select(
        "doc_id",
        "is_target",
        F.col("n_grams").cast("int").alias("n_grams"),
        (F.col("sw").cast("double") / SCALE).alias("score"),
    )


def select_top(docs: DataFrame, k: int = TOP_K) -> DataFrame:
    """Top-k most target-like RAW documents (target rows excluded —
    they define the distribution, they are not candidates). Ordering
    uses the exact integer score; ties break on doc_id."""
    counts_by_doc = _bucket_counts(docs)
    scored = (
        counts_by_doc
        .filter(F.col("is_target") == 0)
        .join(F.broadcast(_weights_from_counts(counts_by_doc)), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("w")).alias("sw"))
    )
    return (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .orderBy(F.desc("sw"), "doc_id")
        .limit(k)
        .select(
            "doc_id",
            "source",
            (F.col("sw").cast("double") / SCALE).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins


def _weights_ctes() -> str:
    return f"""
tm AS (
  SELECT doc_id,
         CASE WHEN source = '{TARGET_SOURCE}' THEN 1 ELSE 0 END AS is_target,
         {_bucket_sql('u.term')} AS bucket
  FROM (SELECT doc_id, source, {_GRAMS_SQL} AS g FROM documents),
       UNNEST(g) AS u(term)
),
cnt AS (
  SELECT bucket,
         CAST(SUM(is_target) AS BIGINT) AS t,
         CAST(SUM(1 - is_target) AS BIGINT) AS r
  FROM tm GROUP BY bucket
),
tot AS (SELECT CAST(SUM(t) AS BIGINT) AS tt, CAST(SUM(r) AS BIGINT) AS rt FROM cnt),
w AS (
  SELECT bucket,
         CAST(floor((ln(CAST(t AS DOUBLE) + 1.0)
                     - ln(CAST(tt + {B} AS DOUBLE))
                     - ln(CAST(r AS DOUBLE) + 1.0)
                     + ln(CAST(rt + {B} AS DOUBLE))) * {SCALE} + 0.5) AS BIGINT) AS w
  FROM cnt CROSS JOIN tot
)"""


def doc_scores_sql() -> str:
    return f"""
WITH {_weights_ctes()}
SELECT tm.doc_id,
       CAST(MIN(tm.is_target) AS INT) AS is_target,
       CAST(COUNT(*) AS INT) AS n_grams,
       CAST(SUM(w.w) AS DOUBLE) / {SCALE} AS score
FROM tm JOIN w USING (bucket)
GROUP BY tm.doc_id
"""


def select_top_sql(k: int = TOP_K) -> str:
    return f"""
WITH {_weights_ctes()},
sc AS (
  SELECT tm.doc_id, CAST(SUM(w.w) AS BIGINT) AS sw
  FROM tm JOIN w USING (bucket)
  WHERE tm.is_target = 0
  GROUP BY tm.doc_id
)
SELECT sc.doc_id, d.source, CAST(sc.sw AS DOUBLE) / {SCALE} AS score
FROM sc JOIN documents d ON d.doc_id = sc.doc_id
ORDER BY sc.sw DESC, sc.doc_id
LIMIT {k}
"""
