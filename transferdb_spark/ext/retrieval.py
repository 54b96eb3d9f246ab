"""Lexical retrieval over the documents table: distributed BM25 top-k.

The LLM-pipeline counterpart to the embedding ANN stack in
ext/similarity.py — keyword retrieval for decontamination lookups,
targeted corpus probes ("find training docs about X"), and hybrid
(lexical + vector) dedup candidates. The reference engine has no text
retrieval; this is engine-depth beyond its surface, built Spark-first.

Scale design (100 TB):
- Postings are built per-row with an ARRAY filter BEFORE explode, so
  only query-term hits leave the scan — the shuffle is bounded by the
  query's posting lists, never the corpus. Document length rides along
  from the same row; no join back to a full-corpus length relation.
- tf aggregation keys on (doc_id, term): doc_id is high-cardinality,
  so a stopword-ish query term produces a large but UNSKEWED partial
  aggregation (map-side combine collapses per-doc duplicates first).
- Corpus scalars (N, total token count) are one broadcast row; per-term
  document frequencies are |q| rows, broadcast-joined.
- Top-k compiles to TakeOrderedAndProject (no global sort).

Cross-engine exactness (the oracle gate hash-compares values): ln() is
the only non-correctly-rounded operation, so — same discipline as
ext/dsir.py — idf is quantized ONCE to BIGINT micro-units right at the
ln boundary. Every other step (integer tf/dl/df, IEEE divides and
multiplies written in the same expression shape on both engines,
stable_round → DECIMAL(18,6) before the order-sensitive SUM) is
bit-deterministic across Spark and DuckDB. The weight/idf expressions
live in ONE Spark builder and ONE SQL builder shared by every scorer
here — tuning k1/b or the quantization cannot diverge between the
word, phrase, and hybrid paths or between an engine and its oracle.

Query terms are normalized (strip + lower) to the token alphabet and
compared as Column literals Spark-side / quote-escaped literals
SQL-side, so terms with quotes or stray spacing cannot break parsing
or silently miss the lowercased token stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from transferdb_spark.ext.text import TOKENS
from transferdb_spark.functions.canonical import stable_round, stable_round_sql

# default query: three common terms + one rare ('dup') so the idf term
# visibly reorders results vs raw tf
DEFAULT_QUERY = ("spark", "window", "merge", "dup")
K1 = 1.2
B = 0.75
IDF_SCALE = 1_000_000


def _norm_terms(query_terms: tuple[str, ...]) -> list[str]:
    """Dedup + normalize to the token alphabet (the corpus is matched
    lowercased, so 'Spark' must mean 'spark')."""
    out = []
    for w in query_terms:
        w = w.strip().lower()
        if w and w not in out:
            out.append(w)
    if not out:
        raise ValueError("empty query after normalization")
    return out


def _sql_str(w: str) -> str:
    """Standard-SQL single-quoted literal (quote doubling — DuckDB
    does not backslash-process plain strings)."""
    return "'" + w.replace("'", "''") + "'"


def _tokens(docs: DataFrame) -> DataFrame:
    # THE house tokenization (ext/text.py TOKENS == TOKENS_SQL), reused
    # by expression so retrieval can never drift from text/classifier/
    # sketches tokenization
    return docs.select("doc_id", F.expr(TOKENS).alias("t"))


def _idf_micro(n_docs: Column, df: Column) -> Column:
    """Lucene-style BM25 idf ln(1 + (N-df+0.5)/(df+0.5)), quantized to
    BIGINT micro-units at the ln boundary (see module docstring)."""
    raw = F.log(
        F.lit(1.0)
        + (n_docs.cast("double") - df.cast("double") + F.lit(0.5))
        / (df.cast("double") + F.lit(0.5))
    )
    return F.floor(raw * F.lit(float(IDF_SCALE)) + F.lit(0.5)).cast("long")


def _bm25_weight(tf: Column, dl: Column, sum_dl: Column, n_docs: Column) -> Column:
    """tf·(k1+1) / (tf + k1·(1-b + b·dl/avgdl)) — the ONE Spark-side
    builder; the SQL twin below must keep the same expression shape."""
    return (tf.cast("double") * F.lit(K1 + 1.0)) / (
        tf.cast("double")
        + F.lit(K1)
        * (
            F.lit(1.0 - B)
            + F.lit(B) * (dl.cast("double") / (sum_dl.cast("double") / n_docs.cast("double")))
        )
    )


def _contrib(idf_micro: Column, w: Column) -> Column:
    """Per-hit score contribution, quantized for order-free summation."""
    return stable_round(
        idf_micro.cast("double") * w / F.lit(float(IDF_SCALE)), 6
    ).cast("decimal(18,6)")


def _w_expr_sql(tf: str = "tf", dl: str = "dl") -> str:
    return (
        f"(CAST({tf} AS DOUBLE) * {K1 + 1.0}) / "
        f"(CAST({tf} AS DOUBLE) + {K1} * ({1.0 - B} + {B} * "
        f"(CAST({dl} AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"
    )


def _idf_expr_sql(df: str = "df") -> str:
    return (
        f"CAST(floor(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST({df} AS DOUBLE) + 0.5)"
        f" / (CAST({df} AS DOUBLE) + 0.5)) * {float(IDF_SCALE)} + 0.5) AS BIGINT)"
    )


def _contrib_sql(idf: str, w: str) -> str:
    return stable_round_sql(f"CAST({idf} AS DOUBLE) * {w} / {float(IDF_SCALE)}", 6)


# TOKENS_SQL (ext/text.py) per-query over the `documents` view — the
# import keeps the two engines' tokenizer contract in ONE place
from transferdb_spark.ext.text import TOKENS_SQL as _TOKENS_SQL

_TOKS_CTE = f"SELECT doc_id, {_TOKENS_SQL} AS t FROM documents"


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    k: int = 20,
    exclude_doc_id: int | None = None,
) -> DataFrame:
    """Top-k documents by BM25(k1=1.2, b=0.75) for a bag of query terms.

    Returns (doc_id, n_terms, score) ordered by score DESC, doc_id —
    the doc_id tiebreak makes the LIMIT boundary deterministic.
    exclude_doc_id removes one doc from the CORPUS (stats included)
    before scoring — the hybrid path's self-match exclusion, applied
    here so it never eats a candidate slot."""
    terms = _norm_terms(query_terms)
    if exclude_doc_id is not None:
        docs = docs.where(F.col("doc_id") != exclude_doc_id)
    toks = _tokens(docs)

    # corpus scalars: one row, broadcast via the 1-row cross join
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("t")).alias("sum_dl"),
    )

    term_set = F.array(*[F.lit(w) for w in terms])
    hits = toks.select(
        "doc_id",
        F.size("t").alias("dl"),
        F.explode(
            F.filter("t", lambda x: F.array_contains(term_set, x))
        ).alias("term"),
    )
    tf = hits.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf_micro", _idf_micro(F.col("n_docs"), F.col("df")))
        .withColumn(
            "w", _bm25_weight(F.col("tf"), F.col("dl"), F.col("sum_dl"), F.col("n_docs"))
        )
        .withColumn("contrib", _contrib(F.col("idf_micro"), F.col("w")))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms"),
            F.sum("contrib").cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )


def bm25_topk_sql(
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    k: int = 20,
    exclude_doc_id: int | None = None,
) -> str:
    """DuckDB oracle twin of bm25_topk (same expression shapes)."""
    terms = _norm_terms(query_terms)
    in_list = ", ".join(_sql_str(w) for w in terms)
    excl = f" WHERE doc_id <> {int(exclude_doc_id)}" if exclude_doc_id is not None else ""
    contrib = _contrib_sql(_idf_expr_sql(), _w_expr_sql())
    return f"""
WITH toks AS (
  {_TOKS_CTE}{excl}
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(len(t)) AS sum_dl FROM toks),
hits AS (
  SELECT doc_id, len(t) AS dl, u.tok AS term
  FROM toks, UNNEST(list_filter(t, x -> x IN ({in_list}))) AS u(tok)
),
tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM hits GROUP BY 1, 2, 3),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_terms,
       CAST(SUM(CAST({contrib} AS DECIMAL(18,6))) AS DOUBLE) AS score
FROM tf JOIN dfreq USING (term) CROSS JOIN stats
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {k}
"""


def hybrid_search_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    query_vec_id: int = 0,
    n_candidates: int = 50,
    k: int = 10,
) -> DataFrame:
    """Hybrid retrieval: lexical recall, semantic precision.

    Stage 1 takes the BM25 top-N as a candidate set (cheap, posting-
    list-bounded) over the corpus MINUS the query doc (excluded before
    the limit so the self-match never eats a candidate slot); stage 2
    re-ranks the N survivors by embedding cosine to the query vector.
    Only N rows ever touch the vector kernel — at 100 TB the candidate
    stage is what scales (or swaps for the LSH/IVF ANN index in
    ext/similarity.py), while the re-rank is a broadcast join over a
    model-sized set. Returns (doc_id, bm25, cosine) ordered by cosine
    DESC, doc_id."""
    from transferdb_spark.ext.similarity import cosine_expr

    cands = bm25_topk(
        docs, query_terms, k=n_candidates, exclude_doc_id=query_vec_id
    )
    q = emb.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qvec")
    )
    return (
        emb.join(F.broadcast(cands), emb["vec_id"] == cands["doc_id"])
        .join(F.broadcast(q))
        .select(
            "doc_id",
            F.col("score").alias("bm25"),
            cosine_expr("embedding", "qvec").cast("double").alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(k)
    )


def hybrid_search_topk_sql(
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    query_vec_id: int = 0,
    n_candidates: int = 50,
    k: int = 10,
) -> str:
    from transferdb_spark.ext.similarity import cosine_sql

    return f"""
WITH bm AS MATERIALIZED (
  {bm25_topk_sql(query_terms, n_candidates, exclude_doc_id=query_vec_id)}
),
q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {query_vec_id})
SELECT bm.doc_id,
       bm.score AS bm25,
       CAST({cosine_sql('e.embedding', 'qvec')} AS DOUBLE) AS cosine
FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id CROSS JOIN q
ORDER BY cosine DESC, doc_id
LIMIT {k}
"""


PROX_WINDOW = 8  # max token distance that earns a proximity boost


def bm25_proximity_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    k: int = 20,
) -> DataFrame:
    """BM25 + term-proximity boost (Rasolofo & Savoy 2003 shape).

    The bag score is the same BM25 as bm25_topk, but computed WITHOUT
    an explode: per-term tf comes from row-local position arrays
    (filter over sequence(1, len)), so the whole per-doc feature block
    — every tf, dl, and every pairwise minimum token distance — is one
    narrow projection with zero shuffle. For each unordered pair of
    query terms co-occurring within PROX_WINDOW tokens, the boost adds
    min(idf_a, idf_b) / d² (d = minimum absolute position distance) —
    documents where rare query terms sit NEAR each other outrank
    bag-equal documents where they are scattered.

    Scale: the per-doc block is O(dl · m) row-local work (m = #terms,
    ≤ a handful); the only aggregation is the 1-row corpus-stats
    relation (n_docs, sum_dl, per-term df) broadcast back. Candidate
    rows (≥1 term present) flow straight to TakeOrderedAndProject.
    Exactness: every summand is built in ONE fixed expression order
    per row (no order-sensitive SUM anywhere), idf is micro-quantized
    at the ln boundary, and the result is stable_round(·, 6).

    Returns (doc_id, n_terms, score) ordered by score DESC, doc_id.
    """
    terms = _norm_terms(query_terms)
    m = len(terms)
    toks = _tokens(docs)

    def positions(w: str) -> Column:
        return F.filter(
            F.sequence(F.lit(1), F.size("t")),
            lambda i: F.element_at("t", i.cast("int")) == F.lit(w),
        )

    cols = [F.col("doc_id"), F.size("t").alias("dl")]
    cols += [positions(w).alias(f"p{i}") for i, w in enumerate(terms)]
    # persisted before the two consumers (stats agg + scored filter):
    # same Catalyst filter-collapse hazard as the phrase path above —
    # without it the position lambdas re-evaluate once per consumer.
    per_doc = toks.select(*cols).persist()

    stats_aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    ] + [
        F.sum((F.size(f"p{i}") > 0).cast("long")).alias(f"df{i}") for i in range(m)
    ]
    stats = per_doc.agg(*stats_aggs)

    any_hit = None
    for i in range(m):
        c = F.size(f"p{i}") > 0
        any_hit = c if any_hit is None else (any_hit | c)
    hits = per_doc.where(any_hit).crossJoin(F.broadcast(stats))

    idf = {i: _idf_micro(F.col("n_docs"), F.col(f"df{i}")) for i in range(m)}
    bag = None
    n_terms = None
    for i in range(m):
        tf = F.size(f"p{i}").cast("long")
        contrib = F.when(
            tf > 0,
            _contrib(idf[i], _bm25_weight(tf, F.col("dl"), F.col("sum_dl"), F.col("n_docs"))).cast(
                "double"
            ),
        ).otherwise(F.lit(0.0))
        bag = contrib if bag is None else bag + contrib
        present = (tf > 0).cast("int")
        n_terms = present if n_terms is None else n_terms + present

    def _min_dist(pi: str, pj: str) -> Column:
        # the outer lambda MUST stay single-argument: F.transform
        # dispatches on lambda arity, and a second (even defaulted)
        # parameter selects the (element, index) form
        return F.array_min(
            F.flatten(
                F.transform(pi, lambda p: F.transform(pj, lambda q: F.abs(p - q)))
            )
        )

    prox = F.lit(0.0)
    for i in range(m):
        for j in range(i + 1, m):
            d = _min_dist(f"p{i}", f"p{j}")
            pair_idf = F.least(idf[i], idf[j]).cast("double") / F.lit(float(IDF_SCALE))
            prox = prox + F.when(
                d.isNotNull() & (d <= F.lit(PROX_WINDOW)),
                pair_idf / (d.cast("double") * d.cast("double")),
            ).otherwise(F.lit(0.0))

    return (
        hits.select(
            "doc_id",
            n_terms.alias("n_terms"),
            stable_round(bag + prox, 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )


def bm25_proximity_topk_sql(
    query_terms: tuple[str, ...] = DEFAULT_QUERY, k: int = 20
) -> str:
    """DuckDB oracle twin of bm25_proximity_topk (identical expression
    shapes: position arrays, fixed-order summands, micro-quantized idf)."""
    terms = _norm_terms(query_terms)
    m = len(terms)
    pos = ",\n         ".join(
        f"list_filter(generate_series(1, len(t)), i -> t[i] = {_sql_str(w)}) AS p{i}"
        for i, w in enumerate(terms)
    )
    dfs = ", ".join(
        f"SUM(CASE WHEN len(p{i}) > 0 THEN 1 ELSE 0 END) AS df{i}" for i in range(m)
    )
    idf = {i: _idf_expr_sql(f"df{i}") for i in range(m)}
    bag_parts = []
    for i in range(m):
        w = _w_expr_sql(tf=f"len(p{i})")
        bag_parts.append(
            f"CASE WHEN len(p{i}) > 0 THEN "
            f"CAST(CAST({_contrib_sql(idf[i], w)} AS DECIMAL(18,6)) AS DOUBLE) ELSE 0.0 END"
        )
    bag = " + ".join(bag_parts)
    n_terms = " + ".join(f"CASE WHEN len(p{i}) > 0 THEN 1 ELSE 0 END" for i in range(m))
    prox_parts = []
    for i in range(m):
        for j in range(i + 1, m):
            d = (
                f"list_min(flatten(list_transform(p{i}, "
                f"p -> list_transform(p{j}, q -> abs(p - q)))))"
            )
            pair_idf = f"CAST(least({idf[i]}, {idf[j]}) AS DOUBLE) / {float(IDF_SCALE)}"
            prox_parts.append(
                f"CASE WHEN {d} IS NOT NULL AND {d} <= {PROX_WINDOW} "
                f"THEN ({pair_idf}) / (CAST({d} AS DOUBLE) * CAST({d} AS DOUBLE)) "
                "ELSE 0.0 END"
            )
    prox = " + ".join(prox_parts)
    any_hit = " OR ".join(f"len(p{i}) > 0" for i in range(m))
    return f"""
WITH toks AS (
  {_TOKS_CTE}
),
per_doc AS MATERIALIZED (
  SELECT doc_id, len(t) AS dl,
         {pos}
  FROM toks
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {dfs} FROM per_doc)
SELECT doc_id,
       CAST({n_terms} AS INT) AS n_terms,
       CAST({stable_round_sql(f"({bag}) + ({prox})", 6)} AS DOUBLE) AS score
FROM per_doc CROSS JOIN stats
WHERE {any_hit}
ORDER BY score DESC, doc_id
LIMIT {k}
"""


RRF_K = 60  # Cormack et al. 2009 constant


def _rank_by_count(df: DataFrame, score_col: str) -> DataFrame:
    """rank = 1 + |strict predecessors| under (score DESC, doc_id ASC).

    The input is a top-N relation (N = model-sized candidate count), so
    the inequality self-join is a broadcast nested-loop over N×N rows —
    bounded by the candidate budget, never the corpus — and avoids the
    Exchange-SinglePartition Window funnel a row_number() would compile
    to. The (score, doc_id) order is a strict total order, so ranks are
    dense and deterministic."""
    left = df.select(
        F.col("doc_id").alias("_id"), F.col(score_col).alias("_s")
    )
    right = df.select(
        F.col("doc_id").alias("_id2"), F.col(score_col).alias("_s2")
    )
    pred = (F.col("_s2") > F.col("_s")) | (
        (F.col("_s2") == F.col("_s")) & (F.col("_id2") < F.col("_id"))
    )
    return (
        left.join(F.broadcast(right), pred, "left")
        .groupBy("_id", "_s")
        .agg((F.count("_id2") + F.lit(1)).cast("int").alias("rank"))
        .select(F.col("_id").alias("doc_id"), F.col("_s").alias(score_col), "rank")
    )


def rrf_fusion_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    query_vec_id: int = 0,
    n_candidates: int = 20,
    k: int = 10,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of the
    lexical BM25 top-N and the semantic cosine top-N:

        rrf(d) = Σ_lists 1 / (rrf_k + rank_list(d))    (missing → 0)

    Rank-based fusion needs no score normalization across the two
    heterogeneous scorers, and — because ranks are small integers —
    the fused score is two correctly-rounded divides added in a fixed
    order: trivially exact across engines. This is the production
    hybrid shape at corpus scale: each list is an independent top-N
    (posting-bounded BM25; brute-force here, similarity's
    ann_topk_lsh_auto / ann_topk_multiprobe_auto when the corpus
    outgrows it — the fusion is list-source-agnostic), and the fusion
    itself touches only 2N rows.

    Returns (doc_id, lex_rank, sem_rank, rrf) ordered by rrf DESC,
    doc_id; the query doc is excluded from BOTH lists."""
    from transferdb_spark.ext.similarity import topk_bruteforce

    lex = _rank_by_count(
        bm25_topk(docs, query_terms, k=n_candidates, exclude_doc_id=query_vec_id),
        "score",
    ).select("doc_id", F.col("rank").alias("lex_rank"))
    # topk_bruteforce excludes the query row itself (self-match)
    sem = _rank_by_count(
        topk_bruteforce(emb, query_vec_id, k=n_candidates).withColumnRenamed(
            "vec_id", "doc_id"
        ),
        "cosine",
    ).select("doc_id", F.col("rank").alias("sem_rank"))
    return _rrf_fuse(lex, sem, k, rrf_k)


def _rrf_fuse(lex: DataFrame, sem: DataFrame, k: int, rrf_k: int) -> DataFrame:
    """Full-outer fuse of two ranked lists (missing list → 0 term)."""
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        F.col("lex_rank").cast("int").alias("lex_rank"),
        F.col("sem_rank").cast("int").alias("sem_rank"),
        stable_round(
            F.coalesce(
                F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("lex_rank").cast("double")),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("sem_rank").cast("double")),
                F.lit(0.0),
            ),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(k)


def rrf_fusion_ann_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    query_vec_id: int = 0,
    n_candidates: int = 20,
    k: int = 10,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """rrf_fusion_topk with the CORPUS-SCALE semantic list: the cosine
    top-N comes from the auto-sized multi-probe LSH index
    (ext/similarity.ann_topk_multiprobe_auto) instead of the
    brute-force scan — the fusion itself is identical, proving the
    list-source-agnostic claim with an oracle-checked query. At 100 TB
    both lists are sub-scans: BM25 is posting-bounded, the ANN side
    touches (1+planes)/2^planes of the embedding table."""
    from transferdb_spark.ext.similarity import ann_topk_multiprobe_auto

    lex = _rank_by_count(
        bm25_topk(docs, query_terms, k=n_candidates, exclude_doc_id=query_vec_id),
        "score",
    ).select("doc_id", F.col("rank").alias("lex_rank"))
    sem = _rank_by_count(
        ann_topk_multiprobe_auto(emb, query_vec_id, k=n_candidates).withColumnRenamed(
            "vec_id", "doc_id"
        ),
        "cosine",
    ).select("doc_id", F.col("rank").alias("sem_rank"))
    return _rrf_fuse(lex, sem, k, rrf_k)


def rrf_fusion_ann_topk_sql(
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    query_vec_id: int = 0,
    n_candidates: int = 20,
    k: int = 10,
    rrf_k: int = RRF_K,
) -> str:
    """Oracle twin: the semantic CTE is the multi-probe-auto SQL (same
    derived plane count and probe set), the fusion text is shared."""
    from transferdb_spark.ext.similarity import ann_topk_multiprobe_auto_sql

    bm = bm25_topk_sql(query_terms, n_candidates, exclude_doc_id=query_vec_id)
    sem = ann_topk_multiprobe_auto_sql(query_vec_id, n_candidates)
    return f"""
WITH lex0 AS MATERIALIZED (
  {bm}
),
sem0 AS MATERIALIZED (
  SELECT vec_id AS doc_id, cosine FROM ({sem})
),
{_rrf_tail_sql(rrf_k, k)}
"""


def _rrf_tail_sql(rrf_k: int, k: int) -> str:
    """Count-based rank CTEs + fusion select, shared by both RRF
    twins (the Spark side shares _rank_by_count/_rrf_fuse the same
    way — list sources vary, fusion text does not)."""
    rrf = stable_round_sql(
        f"COALESCE(1.0 / ({float(rrf_k)} + CAST(lex_rank AS DOUBLE)), 0.0)"
        f" + COALESCE(1.0 / ({float(rrf_k)} + CAST(sem_rank AS DOUBLE)), 0.0)",
        6,
    )
    return f"""lex AS (
  SELECT a.doc_id,
         CAST(1 + COUNT(b.doc_id) AS INT) AS lex_rank
  FROM lex0 a LEFT JOIN lex0 b
    ON b.score > a.score OR (b.score = a.score AND b.doc_id < a.doc_id)
  GROUP BY a.doc_id
),
sem AS (
  SELECT a.doc_id,
         CAST(1 + COUNT(b.doc_id) AS INT) AS sem_rank
  FROM sem0 a LEFT JOIN sem0 b
    ON b.cosine > a.cosine OR (b.cosine = a.cosine AND b.doc_id < a.doc_id)
  GROUP BY a.doc_id
)
SELECT doc_id,
       lex_rank, sem_rank,
       CAST({rrf} AS DOUBLE) AS rrf
FROM lex FULL OUTER JOIN sem USING (doc_id)
ORDER BY rrf DESC, doc_id
LIMIT {k}"""


def rrf_fusion_topk_sql(
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    query_vec_id: int = 0,
    n_candidates: int = 20,
    k: int = 10,
    rrf_k: int = RRF_K,
) -> str:
    """DuckDB oracle twin of rrf_fusion_topk — same count-based rank
    (not row_number) so tie semantics are expression-identical."""
    from transferdb_spark.ext.similarity import cosine_sql

    bm = bm25_topk_sql(query_terms, n_candidates, exclude_doc_id=query_vec_id)
    return f"""
WITH lex0 AS MATERIALIZED (
  {bm}
),
sem0 AS MATERIALIZED (
  SELECT e.vec_id AS doc_id,
         CAST({cosine_sql('e.embedding', 'q.qvec')} AS DOUBLE) AS cosine
  FROM embeddings e
  CROSS JOIN (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {query_vec_id}) q
  WHERE e.vec_id <> {query_vec_id}
  ORDER BY cosine DESC, doc_id
  LIMIT {n_candidates}
),
{_rrf_tail_sql(rrf_k, k)}
"""


def bm25_phrase_topk(
    docs: DataFrame,
    phrase: tuple[str, ...] = ("table", "scan"),
    k: int = 20,
) -> DataFrame:
    """Exact-phrase retrieval: the phrase scores as ONE BM25 term whose
    tf is the row-local occurrence count (consecutive-token match) —
    positional matching costs zero shuffle; only docs containing the
    phrase reach the df aggregation and the ordered take. The match
    predicate is built from Column literals (no string interpolation),
    so phrase words with quotes are safe.

    Returns (doc_id, tf, score) ordered by score DESC, doc_id."""
    words = [w.strip().lower() for w in phrase if w.strip()]
    if not words:
        raise ValueError("empty phrase")
    m = len(words)

    def match(i: Column) -> Column:
        cond = F.element_at("t", (i + F.lit(0)).cast("int")) == F.lit(words[0])
        for j, w in enumerate(words[1:], start=1):
            cond = cond & (F.element_at("t", (i + F.lit(j)).cast("int")) == F.lit(w))
        return cond

    # Spark's sequence(1, 0) DESCENDS where DuckDB's generate_series
    # (1, 0) is empty — the when() keeps both at 0 for short docs
    count = F.when(
        F.size("t") >= m,
        F.size(F.filter(F.sequence(F.lit(1), F.size("t") - F.lit(m - 1)), match)),
    ).otherwise(F.lit(0))

    toks = _tokens(docs)
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("t")).alias("sum_dl"),
    )
    # persisted BEFORE the tf>0 filter and the two consumers below:
    # Catalyst otherwise collapses the filter INTO this projection and
    # re-evaluates the phrase-match lambda once per consumer — measured
    # 40x on the bench (0.15s -> 6.3s). Three narrow columns per doc;
    # same session-lifetime persist precedent as the MinHash signature
    # relation (ext/dedup.py), deduped across invocations by the SQL
    # cache manager.
    per_doc = toks.select(
        "doc_id", F.size("t").alias("dl"), count.alias("tf")
    ).persist()
    hits = per_doc.where(F.col("tf") > 0)
    dfreq = hits.agg(F.count(F.lit(1)).alias("df"))
    scored = (
        hits.crossJoin(F.broadcast(dfreq))
        .crossJoin(F.broadcast(stats))
        .withColumn("idf_micro", _idf_micro(F.col("n_docs"), F.col("df")))
        .withColumn(
            "w", _bm25_weight(F.col("tf"), F.col("dl"), F.col("sum_dl"), F.col("n_docs"))
        )
    )
    return (
        scored.select(
            "doc_id",
            F.col("tf").cast("int").alias("tf"),
            stable_round(
                F.col("idf_micro").cast("double") * F.col("w") / F.lit(float(IDF_SCALE)),
                6,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )


def bm25_phrase_topk_sql(
    phrase: tuple[str, ...] = ("table", "scan"), k: int = 20
) -> str:
    words = [w.strip().lower() for w in phrase if w.strip()]
    m = len(words)
    eqs = " AND ".join(f"t[i + {j}] = {_sql_str(w)}" for j, w in enumerate(words))
    count_expr = (
        f"CASE WHEN len(t) >= {m} THEN "
        f"len(list_filter(generate_series(1, len(t) - {m - 1}), i -> {eqs})) "
        "ELSE 0 END"
    )
    score = _contrib_sql(_idf_expr_sql(), _w_expr_sql())
    return f"""
WITH toks AS (
  {_TOKS_CTE}
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(len(t)) AS sum_dl FROM toks),
hits AS (
  SELECT doc_id, len(t) AS dl, {count_expr} AS tf
  FROM toks
),
ph AS (SELECT * FROM hits WHERE tf > 0),
dfreq AS (SELECT COUNT(*) AS df FROM ph)
SELECT doc_id, CAST(tf AS INT) AS tf, CAST({score} AS DOUBLE) AS score
FROM ph CROSS JOIN dfreq CROSS JOIN stats
ORDER BY score DESC, doc_id
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Positional postings + multi-phrase retrieval (retrieval rung 3)
# ---------------------------------------------------------------------------

DEFAULT_PHRASES = (("table", "scan"), ("window", "merge"), ("big", "query", "value"))


def _phrase_words(phrase: tuple[str, ...]) -> list[str]:
    words = [w.strip().lower() for w in phrase if w.strip()]
    if not words:
        raise ValueError("empty phrase")
    return words


def positional_postings(
    docs: DataFrame, terms: tuple[str, ...] | None = None
) -> DataFrame:
    """(term, doc_id, dl, positions) — the positional inverted index;
    positions are 1-based, ascending.

    Two shapes, one output contract:
    - terms given (QUERY-TIME PROBE): positions are extracted row-
      locally (one array filter per term — O(dl·|terms|), no token
      explode), so at most |terms| narrow rows per document leave the
      scan and the groupBy shuffle DOES NOT EXIST — the output is a
      pure projection. This is what the multi-phrase scorer uses: the
      corpus is touched once, and only query-term postings move.
    - terms=None (INDEX BUILD): the full index via posexplode +
      groupBy(term, doc_id) — ONE corpus-wide shuffle, amortized
      across every future query by materializing the result (e.g.
      state.snapshots.write_snapshot, or bucketBy(term) so probes
      are shuffle-free joins). Build-once/probe-many is the 100-TB
      shape; the probe path above is its zero-infrastructure twin.
    """
    toks = _tokens(docs)
    if terms is not None:
        words = sorted({w.strip().lower() for w in terms if w.strip()})

        def is_word(w: str):
            # single-argument lambda REQUIRED: a second (even
            # defaulted) parameter flips F.filter to the (element,
            # index) form and the index column shadows the bound word
            def pred(i: Column) -> Column:
                return F.element_at("t", i.cast("int")) == F.lit(w)

            return pred

        entries = F.array(
            *[
                F.struct(
                    F.lit(w).alias("term"),
                    F.filter(
                        F.sequence(F.lit(1), F.size("t")), is_word(w)
                    ).alias("positions"),
                )
                for w in words
            ]
        )
        flat = toks.select(
            "doc_id", F.size("t").alias("dl"), F.inline(entries)
        )
        return flat.where(F.size("positions") > 0).select(
            "term", "doc_id", "dl", "positions"
        )
    per = toks.select(
        "doc_id", F.size("t").alias("dl"), F.posexplode("t").alias("pos0", "term")
    )
    return (
        per.select("term", "doc_id", "dl", (F.col("pos0") + F.lit(1)).alias("pos"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )


def bm25_multiphrase_topk(
    docs: DataFrame,
    phrases: tuple[tuple[str, ...], ...] = DEFAULT_PHRASES,
    k: int = 20,
    index: DataFrame | None = None,
    exclude_doc_id: int | None = None,
) -> DataFrame:
    """Multi-phrase BM25 over positional postings: each phrase scores
    as one BM25 term (tf = exact consecutive-occurrence count, df =
    docs containing the phrase), and a document's score is the sum of
    its phrase contributions.

    This is the postings-probe design the single-phrase scanner
    (bm25_phrase_topk) grows into at corpus scale: instead of
    re-walking every document's token array per phrase, the probe
    extracts postings for the UNION of phrase words once (row-local,
    see positional_postings), then each phrase is an m-way doc_id join
    of its words' posting lists — shuffle bounded by the posting
    sizes of the query's words, never the corpus — and adjacency is a
    row-local position intersection (p, p+1, …, p+m−1). Per-phrase
    dfs and corpus stats are 1-row broadcasts.

    Exactness: contributions are micro-quantized-idf × weight,
    stable_round'ed to DECIMAL(18,6) per phrase, then summed as
    decimals (exact, order-free) and cast to DOUBLE only at the
    output boundary.

    Build-once/probe-many: pass ``index`` (a MATERIALIZED full
    positional_postings(docs) relation — e.g. read back from a
    snapshot, or a bucketBy("term") table so probes join shuffle-free)
    and the corpus text is never re-tokenized; only the filter on the
    query's words touches the index (term-predicate pushdown prunes
    the scan). Without it, postings are extracted row-locally from
    the corpus (the zero-infrastructure twin).

    Returns (doc_id, n_phrases, score) ordered by score DESC, doc_id.
    """
    plist = [_phrase_words(p) for p in phrases]
    if not plist:
        raise ValueError("no phrases")
    all_words = tuple(sorted({w for ws in plist for w in ws}))

    if exclude_doc_id is not None:
        # corpus-level exclusion (stats included) — same contract as
        # bm25_topk: the fusion path's self-match removal must not eat
        # a candidate slot or skew df/sum_dl vs the other lists
        docs = docs.where(F.col("doc_id") != exclude_doc_id)
    toks = _tokens(docs)
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("t")).alias("sum_dl"),
    )
    # persisted: consumed once per distinct phrase word below, and
    # Catalyst would otherwise re-run the position extraction per
    # consumer (same collapse hazard as the phrase/proximity paths).
    if index is not None:
        if exclude_doc_id is not None:
            index = index.where(F.col("doc_id") != exclude_doc_id)
        post = index.where(F.col("term").isin(*all_words)).persist()
    else:
        post = positional_postings(docs, terms=all_words).persist()

    per_phrase = []
    for words in plist:
        side = (
            post.where(F.col("term") == words[0])
            .select("doc_id", "dl", F.col("positions").alias("q0"))
        )
        for j, w in enumerate(words[1:], start=1):
            nxt = post.where(F.col("term") == w).select(
                "doc_id", F.col("positions").alias(f"q{j}")
            )
            side = side.join(nxt, "doc_id")

        def make_adjacent(m: int):
            # the lambda handed to F.filter MUST be single-argument:
            # arity dispatch would otherwise select the (element,
            # index) form (same trap as _min_dist above)
            def adjacent(p: Column) -> Column:
                cond = F.lit(True)
                for j in range(1, m):
                    cond = cond & F.array_contains(F.col(f"q{j}"), p + F.lit(j))
                return cond

            return adjacent

        tf = F.size(F.filter("q0", make_adjacent(len(words)))).cast("long")
        hits = (
            side.select("doc_id", "dl", tf.alias("tf")).where(F.col("tf") > 0)
        )
        dfreq = hits.agg(F.count(F.lit(1)).alias("df"))
        scored = (
            hits.crossJoin(F.broadcast(dfreq))
            .crossJoin(F.broadcast(stats))
            .select(
                "doc_id",
                _contrib(
                    _idf_micro(F.col("n_docs"), F.col("df")),
                    _bm25_weight(
                        F.col("tf"), F.col("dl"), F.col("sum_dl"), F.col("n_docs")
                    ),
                ).alias("contrib"),
            )
        )
        per_phrase.append(scored)

    allp = per_phrase[0]
    for s in per_phrase[1:]:
        allp = allp.unionByName(s)
    return (
        allp.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_phrases"),
            F.sum("contrib").cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )


def bm25_multiphrase_topk_sql(
    phrases: tuple[tuple[str, ...], ...] = DEFAULT_PHRASES,
    k: int = 20,
    exclude_doc_id: int | None = None,
) -> str:
    plist = [_phrase_words(p) for p in phrases]
    all_words = sorted({w for ws in plist for w in ws})
    in_list = ", ".join(_sql_str(w) for w in all_words)
    excl = (
        f" WHERE doc_id <> {int(exclude_doc_id)}" if exclude_doc_id is not None else ""
    )

    phrase_ctes = []
    unions = []
    for n, words in enumerate(plist):
        joins = f"(SELECT doc_id, dl, positions AS q0 FROM plist WHERE term = {_sql_str(words[0])}) p0"
        for j, w in enumerate(words[1:], start=1):
            joins += (
                f"\n    JOIN (SELECT doc_id, positions AS q{j} FROM plist "
                f"WHERE term = {_sql_str(w)}) p{j} USING (doc_id)"
            )
        adj = " AND ".join(
            f"list_contains(q{j}, p + {j})" for j in range(1, len(words))
        ) or "TRUE"
        score = _contrib_sql(_idf_expr_sql(), _w_expr_sql())
        phrase_ctes.append(
            f"""ph{n} AS (
  SELECT doc_id, dl, len(list_filter(q0, p -> {adj})) AS tf
  FROM {joins}
),
hits{n} AS (SELECT doc_id, dl, tf FROM ph{n} WHERE tf > 0),
df{n} AS (SELECT COUNT(*) AS df FROM hits{n}),
sc{n} AS (
  SELECT doc_id, CAST({score} AS DECIMAL(18,6)) AS contrib
  FROM hits{n} CROSS JOIN df{n} CROSS JOIN stats
)"""
        )
        unions.append(f"SELECT * FROM sc{n}")
    ctes = ",\n".join(phrase_ctes)
    union_sql = " UNION ALL ".join(unions)
    return f"""
WITH toks AS (
  {_TOKS_CTE}{excl}
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(len(t)) AS sum_dl FROM toks),
post AS (
  SELECT doc_id, len(t) AS dl, g.i AS pos, t[g.i] AS term
  FROM toks, UNNEST(generate_series(1, len(t))) AS g(i)
  WHERE t[g.i] IN ({in_list})
),
plist AS (
  SELECT term, doc_id, dl, list_sort(list(pos)) AS positions
  FROM post GROUP BY term, doc_id, dl
),
{ctes}
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_phrases, CAST(SUM(contrib) AS DOUBLE) AS score
FROM ({union_sql}) u
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {k}
"""


def bm25_slop_phrase_topk(
    docs: DataFrame,
    phrase: tuple[str, ...] = ("table", "merge"),
    slop: int = 3,
    k: int = 20,
) -> DataFrame:
    """Ordered-window ("slop") phrase retrieval over positional
    postings: a hit at position p of the first word exists when the
    words appear IN ORDER with at most ``slop`` extra tokens between
    the first and last match — i.e. the greedy strictly-increasing
    chain n₁ = min{x ∈ q₁ : x > p}, n₂ = min{x ∈ q₂ : x > n₁}, …
    ends with n_{m−1} − p ≤ (m−1) + slop. The greedy-min chain has
    the minimal possible end, so the test is EXACT existence, not a
    heuristic; with slop=0 it reduces to the consecutive-match tf of
    bm25_phrase_topk (m−1 strictly-increasing steps reach p+m−1 only
    when every gap is 1), which a differential pytest pins.

    tf = number of such starting positions; the phrase then scores as
    one BM25 term exactly like bm25_phrase_topk. Same postings-probe
    scale shape as bm25_multiphrase_topk: only the phrase's words
    leave the scan, the m-way doc_id join is bounded by posting sizes,
    and the chain walk is row-local array math.

    Returns (doc_id, tf, score) ordered by score DESC, doc_id."""
    words = _phrase_words(phrase)
    if slop < 0:
        raise ValueError("slop must be >= 0")
    m = len(words)

    toks = _tokens(docs)
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("t")).alias("sum_dl"),
    )
    post = positional_postings(docs, terms=tuple(words)).persist()
    side = post.where(F.col("term") == words[0]).select(
        "doc_id", "dl", F.col("positions").alias("q0")
    )
    for j, w in enumerate(words[1:], start=1):
        nxt = post.where(F.col("term") == w).select(
            "doc_id", F.col("positions").alias(f"q{j}")
        )
        side = side.join(nxt, "doc_id")

    def chain_hit(p: Column) -> Column:
        # nested higher-order functions capture the outer lambda
        # variable; array_min(empty) is NULL, which null-propagates
        # through > and the final comparison (filter drops non-true)
        prev = p
        for j in range(1, m):
            prev = F.array_min(
                F.filter(F.col(f"q{j}"), _gt(prev))
            )
        return prev - p <= F.lit(m - 1 + slop)

    tf = (
        F.size(F.filter("q0", chain_hit)).cast("long")
        if m > 1
        else F.size("q0").cast("long")
    )
    hits = side.select("doc_id", "dl", tf.alias("tf")).where(F.col("tf") > 0)
    dfreq = hits.agg(F.count(F.lit(1)).alias("df"))
    scored = (
        hits.crossJoin(F.broadcast(dfreq))
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.col("tf").cast("int").alias("tf"),
            stable_round(
                _idf_micro(F.col("n_docs"), F.col("df")).cast("double")
                * _bm25_weight(F.col("tf"), F.col("dl"), F.col("sum_dl"), F.col("n_docs"))
                / F.lit(float(IDF_SCALE)),
                6,
            ).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(k)


def _gt(prev: Column):
    # single-argument lambda factory (arity-dispatch trap, see above)
    def pred(x: Column) -> Column:
        return x > prev

    return pred


def bm25_slop_phrase_topk_sql(
    phrase: tuple[str, ...] = ("table", "merge"), slop: int = 3, k: int = 20
) -> str:
    words = _phrase_words(phrase)
    m = len(words)
    in_list = ", ".join(_sql_str(w) for w in sorted(set(words)))

    joins = f"(SELECT doc_id, dl, positions AS q0 FROM plist WHERE term = {_sql_str(words[0])}) p0"
    for j, w in enumerate(words[1:], start=1):
        joins += (
            f"\n    JOIN (SELECT doc_id, positions AS q{j} FROM plist "
            f"WHERE term = {_sql_str(w)}) p{j} USING (doc_id)"
        )
    # unrolled greedy chain, innermost-first: n1 = min(q1 > p), ...
    chain = "p"
    for j in range(1, m):
        chain = f"list_min(list_filter(q{j}, x{j} -> x{j} > {chain}))"
    if m > 1:
        tf_expr = (
            f"len(list_filter(q0, p -> coalesce({chain} - p <= {m - 1 + slop}, false)))"
        )
    else:
        tf_expr = "len(q0)"
    score = _contrib_sql(_idf_expr_sql(), _w_expr_sql())
    return f"""
WITH toks AS (
  {_TOKS_CTE}
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(len(t)) AS sum_dl FROM toks),
post AS (
  SELECT doc_id, len(t) AS dl, g.i AS pos, t[g.i] AS term
  FROM toks, UNNEST(generate_series(1, len(t))) AS g(i)
  WHERE t[g.i] IN ({in_list})
),
plist AS (
  SELECT term, doc_id, dl, list_sort(list(pos)) AS positions
  FROM post GROUP BY term, doc_id, dl
),
ph AS (
  SELECT doc_id, dl, {tf_expr} AS tf
  FROM {joins}
),
hits AS (SELECT doc_id, dl, tf FROM ph WHERE tf > 0),
dfreq AS (SELECT COUNT(*) AS df FROM hits)
SELECT doc_id, CAST(tf AS INT) AS tf, CAST({score} AS DOUBLE) AS score
FROM hits CROSS JOIN dfreq CROSS JOIN stats
ORDER BY score DESC, doc_id
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Three-list RRF: phrase + term + semantic (retrieval rung 4)
# ---------------------------------------------------------------------------


def rrf_fusion_phrase_topk(
    docs: DataFrame,
    emb: DataFrame,
    phrases: tuple[tuple[str, ...], ...] = DEFAULT_PHRASES,
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    query_vec_id: int = 0,
    n_candidates: int = 20,
    k: int = 10,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of THREE independent top-N lists:

      1. phrase  — multi-phrase BM25 over positional postings
                   (bm25_multiphrase_topk: exact adjacency, postings-
                   bounded joins),
      2. lexical — bag-of-terms BM25 (bm25_topk: posting-bounded),
      3. semantic — cosine top-N from the auto-sized multi-probe LSH
                   index (sub-scan of the embedding table).

    RRF needs no score normalization, so a third scorer slots in
    without calibrating phrase-BM25 against term-BM25 against cosine —
    that is exactly why production hybrid stacks fuse by rank
    (Cormack, Clarke & Büttcher 2009). Each list is independently
    top-N-bounded and the fusion touches ≤ 3N rows: adding the phrase
    list costs one more postings probe, not a corpus pass. The query
    doc is excluded from ALL three lists at the corpus level (never
    eats a candidate slot).

    Returns (doc_id, phr_rank, lex_rank, sem_rank, rrf) ordered by
    rrf DESC, doc_id; a doc missing from a list contributes 0 for it.
    """
    from transferdb_spark.ext.similarity import ann_topk_multiprobe_auto

    phr = _rank_by_count(
        bm25_multiphrase_topk(
            docs, phrases, k=n_candidates, exclude_doc_id=query_vec_id
        ),
        "score",
    ).select("doc_id", F.col("rank").alias("phr_rank"))
    lex = _rank_by_count(
        bm25_topk(docs, query_terms, k=n_candidates, exclude_doc_id=query_vec_id),
        "score",
    ).select("doc_id", F.col("rank").alias("lex_rank"))
    sem = _rank_by_count(
        ann_topk_multiprobe_auto(emb, query_vec_id, k=n_candidates).withColumnRenamed(
            "vec_id", "doc_id"
        ),
        "cosine",
    ).select("doc_id", F.col("rank").alias("sem_rank"))

    def term(col: str) -> Column:
        return F.coalesce(
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(col).cast("double")),
            F.lit(0.0),
        )

    fused = (
        phr.join(lex, "doc_id", "full_outer")
        .join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.col("phr_rank").cast("int").alias("phr_rank"),
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("sem_rank").cast("int").alias("sem_rank"),
            stable_round(
                term("phr_rank") + term("lex_rank") + term("sem_rank"), 6
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(k)


def rrf_fusion_phrase_topk_sql(
    phrases: tuple[tuple[str, ...], ...] = DEFAULT_PHRASES,
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    query_vec_id: int = 0,
    n_candidates: int = 20,
    k: int = 10,
    rrf_k: int = RRF_K,
) -> str:
    """Oracle twin: all three list CTEs are the already-hash-checked
    SQL twins of their scorers; ranks are the same count-joins and
    the fused score the same fixed-order coalesced sum."""
    from transferdb_spark.ext.similarity import ann_topk_multiprobe_auto_sql

    phr = bm25_multiphrase_topk_sql(
        phrases, k=n_candidates, exclude_doc_id=query_vec_id
    )
    bm = bm25_topk_sql(query_terms, n_candidates, exclude_doc_id=query_vec_id)
    sem = ann_topk_multiprobe_auto_sql(query_vec_id, n_candidates)
    rrf = stable_round_sql(
        f"COALESCE(1.0 / ({float(rrf_k)} + CAST(phr_rank AS DOUBLE)), 0.0)"
        f" + COALESCE(1.0 / ({float(rrf_k)} + CAST(lex_rank AS DOUBLE)), 0.0)"
        f" + COALESCE(1.0 / ({float(rrf_k)} + CAST(sem_rank AS DOUBLE)), 0.0)",
        6,
    )
    return f"""
WITH phr0 AS MATERIALIZED (
  SELECT doc_id, score FROM ({phr})
),
lex0 AS MATERIALIZED (
  {bm}
),
sem0 AS MATERIALIZED (
  SELECT vec_id AS doc_id, cosine FROM ({sem})
),
phr AS (
  SELECT a.doc_id,
         CAST(1 + COUNT(b.doc_id) AS INT) AS phr_rank
  FROM phr0 a LEFT JOIN phr0 b
    ON b.score > a.score OR (b.score = a.score AND b.doc_id < a.doc_id)
  GROUP BY a.doc_id
),
lex AS (
  SELECT a.doc_id,
         CAST(1 + COUNT(b.doc_id) AS INT) AS lex_rank
  FROM lex0 a LEFT JOIN lex0 b
    ON b.score > a.score OR (b.score = a.score AND b.doc_id < a.doc_id)
  GROUP BY a.doc_id
),
sem AS (
  SELECT a.doc_id,
         CAST(1 + COUNT(b.doc_id) AS INT) AS sem_rank
  FROM sem0 a LEFT JOIN sem0 b
    ON b.cosine > a.cosine OR (b.cosine = a.cosine AND b.doc_id < a.doc_id)
  GROUP BY a.doc_id
)
SELECT doc_id,
       phr_rank, lex_rank, sem_rank,
       CAST({rrf} AS DOUBLE) AS rrf
FROM phr
FULL OUTER JOIN lex USING (doc_id)
FULL OUTER JOIN sem USING (doc_id)
ORDER BY rrf DESC, doc_id
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# RM3 pseudo-relevance feedback (Lavrenko & Croft 2001 relevance
# models; the RM3 interpolation popularized by the Indri/Anserini
# baselines — public IR literature)

RM3_N_FB = 10  # feedback depth
RM3_N_EXP = 5  # expansion terms
RM3_LAMBDA = 0.5  # weight of an expansion term relative to an original
RM_SCALE = 1_000_000  # P(w|d) quantization (integer micro-units)


def rm3_expansion_terms(
    docs: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    n_fb: int = RM3_N_FB,
    n_exp: int = RM3_N_EXP,
) -> list[str]:
    """Expansion vocabulary from the BM25 top-n_fb feedback docs.

    Relevance-model weight per candidate term w is
    Σ_{d∈F} (tf(w,d)·10⁶ div dl(d)) — the per-doc term likelihood
    P(w|d) quantized to integer micro-units BEFORE the sum, so term
    election is pure integer arithmetic and bit-identical across
    engines (same stance as IDF_SCALE above). Original query terms and
    tokens shorter than 3 chars (stopword guard) are excluded; ties
    break on the term itself. Returns ≤ n_exp terms.

    The returned list is a driver-side value on purpose: n_exp is
    model-sized (≤ tens), and inlining the terms as literals lets the
    final scoring pass keep the filter-before-explode posting-list
    bound — the whole point of the BM25 scan shape at 100 TB."""
    terms = _norm_terms(query_terms)
    fb_ids = bm25_topk(docs, tuple(terms), k=n_fb).select("doc_id")
    fbtf = (
        _tokens(docs)
        .join(F.broadcast(fb_ids), "doc_id")
        .select("doc_id", F.size("t").alias("dl"), F.explode("t").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    cand = (
        fbtf.where(~F.col("term").isin(terms) & (F.length("term") >= 3))
        .withColumn("rm", F.expr(f"tf * {RM_SCALE} div dl"))
        .groupBy("term")
        .agg(F.sum("rm").alias("rm_micro"))
        .orderBy(F.col("rm_micro").desc(), "term")
        .limit(n_exp)
    )
    return [r["term"] for r in cand.collect()]


def rm3_bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    n_fb: int = RM3_N_FB,
    n_exp: int = RM3_N_EXP,
    lam: float = RM3_LAMBDA,
    k: int = 20,
) -> DataFrame:
    """BM25 re-scored with the RM3-expanded query: original terms
    weigh 1.0, expansion terms weigh ``lam``. Two posting-bounded
    passes (feedback, final) plus one model-sized explode over the
    n_fb feedback docs — no full-corpus term explode anywhere.

    Returns (doc_id, n_terms, score) ordered score DESC, doc_id."""
    terms = _norm_terms(query_terms)
    exp = [w for w in rm3_expansion_terms(docs, tuple(terms), n_fb, n_exp)
           if w not in terms]
    all_terms = terms + exp
    toks = _tokens(docs)
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("t")).alias("sum_dl"),
    )
    term_set = F.array(*[F.lit(w) for w in all_terms])
    hits = toks.select(
        "doc_id",
        F.size("t").alias("dl"),
        F.explode(F.filter("t", lambda x: F.array_contains(term_set, x))).alias("term"),
    )
    tf = hits.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    wt = F.when(F.col("term").isin(terms), F.lit(1.0)).otherwise(F.lit(float(lam)))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf_micro", _idf_micro(F.col("n_docs"), F.col("df")))
        .withColumn(
            "w", _bm25_weight(F.col("tf"), F.col("dl"), F.col("sum_dl"), F.col("n_docs"))
        )
        .withColumn(
            "contrib",
            stable_round(
                F.col("idf_micro").cast("double") * F.col("w") * wt
                / F.lit(float(IDF_SCALE)),
                6,
            ).cast("decimal(18,6)"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_terms"),
            F.sum("contrib").cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )


def rm3_bm25_topk_sql(
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    n_fb: int = RM3_N_FB,
    n_exp: int = RM3_N_EXP,
    lam: float = RM3_LAMBDA,
    k: int = 20,
) -> str:
    """DuckDB oracle twin of rm3_bm25_topk. The oracle derives the
    SAME expansion terms dynamically (integer rm_micro election over
    the BM25 feedback CTE) — the Spark side inlines them as literals
    for the posting-list scan bound, the SQL side joins the cand
    relation; both elections are pure integer + (DESC, term) order, so
    they cannot diverge."""
    terms = _norm_terms(query_terms)
    in_list = ", ".join(_sql_str(w) for w in terms)
    contrib0 = _contrib_sql(_idf_expr_sql(), _w_expr_sql())
    contrib = stable_round_sql(
        f"CAST({_idf_expr_sql()} AS DOUBLE) * {_w_expr_sql()} * wt / {float(IDF_SCALE)}",
        6,
    )
    return f"""
WITH toks AS MATERIALIZED (
  {_TOKS_CTE}
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(len(t)) AS sum_dl FROM toks),
hits0 AS (
  SELECT doc_id, len(t) AS dl, u.tok AS term
  FROM toks, UNNEST(list_filter(t, x -> x IN ({in_list}))) AS u(tok)
),
tf0 AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM hits0 GROUP BY 1, 2, 3),
df0 AS (SELECT term, COUNT(*) AS df FROM tf0 GROUP BY 1),
fb AS (
  SELECT doc_id
  FROM tf0 JOIN df0 USING (term) CROSS JOIN stats
  GROUP BY doc_id
  ORDER BY CAST(SUM(CAST({contrib0} AS DECIMAL(18,6))) AS DOUBLE) DESC, doc_id
  LIMIT {n_fb}
),
fbtf AS (
  SELECT toks.doc_id, len(t) AS dl, u.tok AS term, COUNT(*) AS tf
  FROM toks JOIN fb USING (doc_id), UNNEST(t) AS u(tok)
  GROUP BY 1, 2, 3
),
cand AS (
  SELECT term, SUM(tf * {RM_SCALE} // dl) AS rm_micro
  FROM fbtf
  WHERE term NOT IN ({in_list}) AND length(term) >= 3
  GROUP BY term
  ORDER BY rm_micro DESC, term
  LIMIT {n_exp}
),
weights AS (
  SELECT term, 1.0 AS wt FROM (VALUES ({"), (".join(_sql_str(w) for w in terms)})) v(term)
  UNION ALL
  SELECT term, {float(lam)} AS wt FROM cand WHERE term NOT IN ({in_list})
),
hits AS (
  SELECT toks.doc_id, len(t) AS dl, u.tok AS term
  FROM toks, UNNEST(t) AS u(tok)
  WHERE u.tok IN (SELECT term FROM weights)
),
tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM hits GROUP BY 1, 2, 3),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_terms,
       CAST(SUM(CAST({contrib} AS DECIMAL(18,6))) AS DOUBLE) AS score
FROM tf JOIN dfreq USING (term) JOIN weights USING (term) CROSS JOIN stats
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# hard-negative mining — the training-pair generator for retrieval /
# embedding models (DPR / sentence-transformers lineage, public
# literature): take the query's top-ranked docs as positives, then
# mine the NEXT ranks for docs that score high lexically but are NOT
# near-duplicates of any positive — lexically confusable, semantically
# distinct. False negatives (near-dups of a positive) are the known
# failure mode; the Jaccard gate removes them.

HN_POOL = 30  # candidate ranks mined after the positives
HN_MAX_JACCARD = 0.5  # near-dup gate vs any positive


def hard_negatives_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    n_pos: int = 3,
    k: int = 10,
    max_jaccard: float = HN_MAX_JACCARD,
) -> DataFrame:
    """(doc_id, score, max_jaccard) — top-k hard negatives.

    Scale: the BM25 pool is posting-bounded and LIMITed to
    n_pos + HN_POOL rows, so the rank window, the positives broadcast,
    and the pool × n_pos Jaccard cross are all model-sized; the only
    corpus-scale work is the BM25 pass itself. Jaccard is exact over
    distinct token sets: |∩| / (|a| + |b| - |∩|), one IEEE divide,
    rounded half-up at 6dp (oracle discipline)."""
    from pyspark.sql.window import Window

    terms = _norm_terms(query_terms)
    pool = bm25_topk(docs, tuple(terms), k=n_pos + HN_POOL)
    # rank window over <= n_pos + HN_POOL rows: single-partition by
    # construction and bounded by the LIMIT above — not a scale risk
    ranked = pool.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("score").desc(), "doc_id"))
    )
    ts = docs.select("doc_id", F.array_distinct(F.expr(TOKENS)).alias("ts"))
    pos = (
        ranked.where(F.col("rank") <= n_pos)
        .join(ts, "doc_id")
        .select(F.col("doc_id").alias("pos_id"), F.col("ts").alias("pos_ts"))
    )
    cand = (
        ranked.where(F.col("rank") > n_pos)
        .join(ts, "doc_id")
        .select("doc_id", "score", "ts")
    )
    inter = F.size(F.array_intersect(F.col("ts"), F.col("pos_ts"))).cast("double")
    union = (
        F.size("ts").cast("double") + F.size("pos_ts").cast("double") - inter
    )
    jacc = stable_round(inter / union, 6)
    return (
        cand.join(F.broadcast(pos))
        .groupBy("doc_id", "score")
        .agg(F.max(jacc).alias("max_jaccard"))
        .where(F.col("max_jaccard") <= F.lit(float(max_jaccard)))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )


def hard_negatives_topk_sql(
    query_terms: tuple[str, ...] = DEFAULT_QUERY,
    n_pos: int = 3,
    k: int = 10,
    max_jaccard: float = HN_MAX_JACCARD,
) -> str:
    terms = _norm_terms(query_terms)
    in_list = ", ".join(_sql_str(w) for w in terms)
    contrib = _contrib_sql(_idf_expr_sql(), _w_expr_sql())
    inter = "CAST(len(list_filter(c.ts, x -> list_contains(p.ts, x))) AS DOUBLE)"
    union = f"(CAST(len(c.ts) AS DOUBLE) + CAST(len(p.ts) AS DOUBLE) - {inter})"
    jacc = stable_round_sql(f"{inter} / {union}", 6)
    return f"""
WITH toks AS MATERIALIZED (
  {_TOKS_CTE}
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(len(t)) AS sum_dl FROM toks),
hits AS (
  SELECT doc_id, len(t) AS dl, u.tok AS term
  FROM toks, UNNEST(list_filter(t, x -> x IN ({in_list}))) AS u(tok)
),
tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM hits GROUP BY 1, 2, 3),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
pool AS (
  SELECT doc_id,
         CAST(SUM(CAST({contrib} AS DECIMAL(18,6))) AS DOUBLE) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
  GROUP BY doc_id
  ORDER BY score DESC, doc_id
  LIMIT {n_pos + HN_POOL}
),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM pool
),
ts AS (SELECT doc_id, list_distinct(t) AS ts FROM toks),
pos AS (
  SELECT r.doc_id AS pos_id, ts.ts
  FROM ranked r JOIN ts ON ts.doc_id = r.doc_id
  WHERE r.rank <= {n_pos}
),
cand AS (
  SELECT r.doc_id, r.score, ts.ts
  FROM ranked r JOIN ts ON ts.doc_id = r.doc_id
  WHERE r.rank > {n_pos}
)
SELECT c.doc_id, c.score, MAX({jacc}) AS max_jaccard
FROM cand c CROSS JOIN pos p
GROUP BY c.doc_id, c.score
HAVING MAX({jacc}) <= {float(max_jaccard)}
ORDER BY c.score DESC, c.doc_id
LIMIT {k}
"""
