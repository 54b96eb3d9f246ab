"""Deduplication operators over `documents` (north-star extension).

Scale design (100 TB):
- exact: hash-groupBy — map-side partial agg, shuffle carries one row
  per distinct digest.
- n-gram Jaccard, containment and the source-pair matrices: one
  inverted-index self-join (`posting_pairs`) — shuffle keyed on the
  posting key; hot shingles are the skew risk, bounded by the df cap
  of the default path and by AQE skew split.
- MinHash+LSH: signatures are computed *within the row* (array
  expressions, no explode until banding), then candidates emerge from
  a band-hash groupBy — O(docs × bands) shuffle rows instead of O(n²)
  comparisons.

Everything is Spark built-in expressions; the DuckDB twins reproduce
the exact same hashes/signatures for the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transferdb_spark.ext.text import TOKENS, TOKENS_SQL
from transferdb_spark.functions.canonical import stable_round, stable_round_sql

SHINGLE_K = 3
NUM_HASHES = 12
BANDS = 4  # rows per band r = NUM_HASHES // BANDS = 3


def _h64(expr: str) -> str:
    """Portable 40-bit hash of a string SQL expression (Spark dialect)."""
    return f"cast(conv(substr(md5({expr}), 1, 10), 16, 10) as bigint)"


def _h64_duck(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 10)) AS BIGINT)"


# --- shingling (shared contract) ---
#
# Performance note: Spark evaluates lambda bodies of higher-order
# functions *interpreted* (no whole-stage codegen), and an outer
# expression referenced inside a lambda is re-evaluated per element.
# The Spark side therefore stages tokens → shingles → hashes as
# materialized columns (each computed exactly once per row) and indexes
# tokens directly instead of slicing — 5-10× over the naive nesting.

_JOINED = " || ' ' || ".join(f"toks[i + {j}]" for j in range(SHINGLE_K))
SHINGLES_FROM_TOKS = (
    f"case when size(toks) < {SHINGLE_K} then array(array_join(toks, ' ')) "
    f"else transform(sequence(0, size(toks) - {SHINGLE_K}), i -> {_JOINED}) end"
)

SHINGLES = SHINGLES_FROM_TOKS.replace("toks", f"({TOKENS})")  # one-shot form

SHINGLES_SQL = (
    f"CASE WHEN len({TOKENS_SQL}) < {SHINGLE_K} THEN [array_to_string({TOKENS_SQL}, ' ')] "
    f"ELSE list_transform(range(len({TOKENS_SQL}) - {SHINGLE_K} + 1), "
    f"i -> array_to_string({TOKENS_SQL}[i + 1: i + {SHINGLE_K}], ' ')) END"
)


def _shingled(docs: DataFrame) -> DataFrame:
    """doc_id + distinct shingle array, staged for single evaluation."""
    return (
        docs.withColumn("toks", F.expr(TOKENS))
        .withColumn("sh", F.array_distinct(F.expr(SHINGLES_FROM_TOKS)))
        .select("doc_id", "sh")
    )


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups: digest → canonical doc, group size.

    Returns only groups with >1 member (the dedup working set)."""
    from transferdb_spark.functions.hashing import portable_hash64

    digest = portable_hash64(F.trim(F.lower(F.col("text"))))
    return (
        docs.select(digest.alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("canonical_doc"), F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


EXACT_DEDUP_SQL = f"""
SELECT {_h64_duck('trim(lower(text))')} AS digest,
       MIN(doc_id) AS canonical_doc,
       COUNT(*) AS group_size
FROM documents
GROUP BY 1
HAVING COUNT(*) > 1
"""


def exact_dedup_survivors(docs: DataFrame) -> DataFrame:
    """Keep-first dedup policy: the surviving doc per digest group
    (min doc_id — deterministic, engine-stable). This is the actual
    *output* of a dedup pipeline: the cleaned corpus keyed by survivor.
    Map-side partial min per digest; shuffle carries one row per
    distinct digest."""
    from transferdb_spark.functions.hashing import portable_hash64

    digest = portable_hash64(F.trim(F.lower(F.col("text"))))
    return (
        docs.select(digest.alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("group_size"))
        .select("doc_id", "group_size")
    )


EXACT_SURVIVORS_SQL = f"""
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS group_size
FROM documents
GROUP BY {_h64_duck('trim(lower(text))')}
"""


def neardup_clusters(pairs: DataFrame, max_iter: int = 64) -> DataFrame:
    """Connected components over a near-dup pair relation → per-doc
    cluster label (the min doc_id reachable through any chain of
    near-dup edges). THE canonical dedup decision structure: 'a~b and
    b~c' must collapse a, b, c together even when a≁c directly.

    Spark-first shape: alternating LARGE-STAR / SMALL-STAR contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public literature). Each round is two groupBy+join steps
    over the *current* edge set; the edge set contracts toward stars
    (child → component-min) and the round count is O(log² n) worst
    case, O(log n) observed — including on adversarial path graphs
    where plain min-label propagation needs diameter rounds. Deep
    quote-chain / boilerplate-gradient components are an O(log n)
    cost, not an availability cliff at 100 TB. (A plain-propagation
    fast tier for shallow graphs was A/B-measured at sf0.1 and did NOT
    win — its single-join rounds are cheaper on paper but it needs
    diameter+1 of them plus a per-round changed-count job; the star
    engine alone is the simpler machine with the same measured cost.)

    Invariant maintained between steps: every edge is oriented
    (u > v), so large-star's output is already small-star's input and
    no re-orientation pass is needed. Convergence = edge set is a
    fixed point of the round (stars are fixed points of both steps),
    checked with ONE left-join stats job per round. Converges ≤
    max_iter rounds or raises — never silently wrong; the default
    budget (64) covers the O(log² n) worst case for any corpus that
    fits in storage, and the loop exits at the fixed point, so an
    oversized budget costs nothing. The number of
    rounds the last call took is recorded on
    `neardup_clusters.last_rounds` so tests can assert the
    logarithmic bound.

    Non-SQL-expressible iteratively, but the ORACLE can state the same
    fixpoint as a recursive CTE (min over the transitive closure), so
    the two independent formulations check each other."""
    # localCheckpoint on every round output: iterative DataFrames
    # otherwise grow their logical plan geometrically and plan
    # processing alone OOMs the driver after ~10 rounds. Checkpointing
    # truncates lineage to the materialized blocks — the standard
    # pattern for iterative algorithms on DataFrames (production
    # clusters would use a reliable checkpoint dir). LAZY (eager=False)
    # checkpoints: lineage truncation is structural either way, but
    # lazy lets the round's ONE stats job double as the materializing
    # action — one job per round instead of two (round-9 §1.2; the
    # eager form ran a materialize job and then a stats job over the
    # same blocks).
    edges = (
        pairs.select(
            F.greatest(F.col("doc_a").cast("long"), F.col("doc_b").cast("long")).alias("u"),
            F.least(F.col("doc_a").cast("long"), F.col("doc_b").cast("long")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    rounds = 0
    converged = False
    n_old = edges.count()
    for _ in range(max_iter):
        rounds += 1
        contracted = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        # ONE stats job per round: both sides are distinct sets, so
        # equal size + empty one-sided difference ⇒ set equality ⇒
        # fixed point reached (a left join counts size and the
        # difference together)
        stats = (
            contracted.join(
                edges.withColumn("__old", F.lit(1)), ["u", "v"], "left"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("__old").isNull(), 1)).alias("fresh"),
            )
            .first()
        )
        edges = contracted
        if stats["fresh"] == 0 and stats["n"] == n_old:
            converged = True
            break
        n_old = stats["n"]
    neardup_clusters.last_rounds = rounds
    if not converged:
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iter} large-star/"
            "small-star rounds — inconsistent edge relation?"
        )
    # converged edge set is a union of stars (child → root, u > v):
    # children label from their edge, roots label themselves
    return (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .union(edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")))
        .distinct()
    )


neardup_clusters.last_rounds = 0


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star step: every node attaches its LARGER neighbours to
    the minimum of its closed neighbourhood. One groupBy (per-node
    min) + one join (re-emit) over the symmetrized edge set. Output
    keeps the u > v orientation: the emitted edge (v, m) has
    v > u ≥ m."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
    # no distinct here: with a distinct input, each undirected edge is
    # emitted exactly once (only its larger endpoint passes v > u), and
    # the rare (v, m) collisions across groups are absorbed by
    # small-star's groupBy/min and its output distinct — dropping this
    # shuffle measured ~15% off the per-round cost
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star step: every node attaches its SMALLER neighbours
    (and itself) to the minimum among them. Input/output are both
    (u > v)-oriented, so the per-node min over smaller neighbours IS
    the closed-neighbourhood min."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    rewritten = edges.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_edges = mins.select("u", F.col("m").alias("v"))
    return (
        rewritten.union(self_edges)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def exact_dedup_summary(docs: DataFrame) -> DataFrame:
    """One-row dedup accounting: total docs, distinct digests, dup docs.

    n_docs - n_distinct = rows removable by exact dedup."""
    from transferdb_spark.functions.hashing import portable_hash64

    digest = portable_hash64(F.trim(F.lower(F.col("text"))))
    return docs.select(digest.alias("digest")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("digest")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("digest"))).alias("n_dup_docs"),
    )


EXACT_DEDUP_SUMMARY_SQL = f"""
SELECT COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT {_h64_duck('trim(lower(text))')}) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT {_h64_duck('trim(lower(text))')}) AS BIGINT) AS n_dup_docs
FROM documents
"""


def posting_pairs(
    rel: DataFrame,
    key: str,
    item: str,
    names: tuple[str, str],
    count: str,
    carry: str | None = None,
) -> DataFrame:
    """(names[0], names[1][, n_a, n_b], count): every ``item`` pair
    (a < b) sharing at least one ``key`` in the posting relation
    ``rel``, with the number of keys they share. ``carry`` is a
    per-item column kept for both sides as n_a / n_b.

    The one inverted-index self-join of the dedup family. It is a
    SHUFFLE_HASH join, not the default broadcast: both sides are the
    SAME relation (callers persist it), so the two key exchanges are
    identical subtrees and the second becomes a ReusedExchange — the
    broadcast build (collect + hash-relation build + per-side cache
    re-read) disappears. AQE skew-splitting applies (it never does for
    broadcast), and at real scale the relation exceeds the broadcast
    threshold anyway — this pins the plan the 100 TB run needs instead
    of letting tiny-SF estimates pick a broadcast. Per-key fan-out is
    the caller's bound: a df cap or the source count. A/B (alternating
    ×5): sf0.1 med 2.32→1.61 s, sf0.5 med 3.59→2.90 s on the jaccard
    form."""
    a, b = rel.alias("a"), rel.alias("b")
    groups = [F.col(f"a.{item}").alias(names[0]), F.col(f"b.{item}").alias(names[1])]
    if carry is not None:
        groups += [F.col(f"a.{carry}").alias("n_a"), F.col(f"b.{carry}").alias("n_b")]
    return (
        a.join(
            b.hint("SHUFFLE_HASH"),
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col(f"a.{item}") < F.col(f"b.{item}")),
        )
        .groupBy(*groups)
        .agg(F.count(F.lit(1)).alias(count))
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs by exact Jaccard over distinct word shingles.

    Inverted-index join: only docs sharing ≥1 shingle are compared —
    never the full cross product."""
    # persist BEFORE exploding: projections sitting above a Generate
    # re-evaluate inlined expressions per output row, so an uncached
    # explode would recompute tokenize+shingle once per (doc, shingle).
    # Shingles are joined as 40-bit hashes, not strings: the shuffle
    # carries 8-byte keys and the join compares longs.
    arr = _shingled(docs).select(
        "doc_id", F.size("sh").alias("n_sh"), F.expr(SHINGLE_HASHES).alias("shh")
    ).persist()
    sh = arr.select("doc_id", "n_sh", F.explode("shh").alias("shingle"))
    common = posting_pairs(sh, "shingle", "doc_id", ("doc_a", "doc_b"), "common", "n_sh")
    jac = stable_round(
        F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 5
    )
    return (
        common.select("doc_a", "doc_b", jac.cast("double").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_sql(threshold: float = 0.5) -> str:
    return f"""
WITH sh AS (
  SELECT doc_id, len(shingles) AS n_sh,
         unnest(list_transform(shingles, s -> {_h64_duck('s')})) AS shingle
  FROM (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS shingles FROM documents)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS n_a, b.n_sh AS n_b,
         COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       CAST({stable_round_sql("common / CAST(n_a + n_b - common AS DOUBLE)", 5)} AS DOUBLE) AS jaccard
FROM pairs
WHERE {stable_round_sql("common / CAST(n_a + n_b - common AS DOUBLE)", 5)} >= {threshold}
"""


# --- MinHash + LSH ---

# One md5 per *shingle*, then NUM_HASHES universal (affine) hashes over
# the 40-bit base hash: h_i(x) = (a_i·x + b_i) mod 2^40 with
# a_i = 65537·(i+1), b_i = 104729·i + 12345. Products stay < 2^60 so
# int64 arithmetic is exact (and identical) on both engines. This is
# ~NUM_HASHES× cheaper than hashing every (slot, shingle) pair with md5.
_MOD = 1 << 40
_AFFINE = f"((65537 * (i + 1)) * h + 104729 * i + 12345) % {_MOD}"

MINHASH_SIG = (
    f"transform(sequence(0, {NUM_HASHES - 1}), "
    f"i -> array_min(transform(shh, h -> {_AFFINE})))"
)

MINHASH_SIG_SQL = (
    f"list_transform(range({NUM_HASHES}), "
    f"i -> list_min(list_transform(shh, h -> {_AFFINE})))"
)

SHINGLE_HASHES = f"transform(sh, s -> {_h64('s')})"
SHINGLE_HASHES_SQL = f"list_transform(sh, s -> {_h64_duck('s')})"


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id, sig: NUM_HASHES-wide MinHash signature.

    Explode shingle hashes, then take the NUM_HASHES affine mins as
    codegen'd aggregates. Spark evaluates higher-order-function lambdas
    interpreted, so `transform(... array_min(transform(...)))` is ~5×
    slower than this groupBy: partial (map-side) min aggregation means
    the shuffle carries one signature row per doc — the same bytes the
    in-row variant would shuffle at the banding step anyway."""
    shh = _shingled(docs).select(
        "doc_id", F.explode(F.expr(SHINGLE_HASHES)).alias("h")
    )
    aggs = [
        F.min(
            F.expr(f"((65537 * {i + 1}) * h + 104729 * {i} + 12345) % {_MOD}")
        ).alias(f"m{i}")
        for i in range(NUM_HASHES)
    ]
    mins = shh.groupBy("doc_id").agg(*aggs)
    return mins.select(
        "doc_id", F.array(*[f"m{i}" for i in range(NUM_HASHES)]).alias("sig")
    )


def minhash_lsh_candidates(docs: DataFrame, persist: bool = True) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on ≥1 LSH band.

    Band hash = portable hash of r concatenated signature slots; pairs
    come from a groupBy on (band_idx, band_hash)."""
    r = NUM_HASHES // BANDS
    band_hash = _h64(f"array_join(slice(sig, b * {r} + 1, {r}), ',')")
    bands = f"transform(sequence(0, {BANDS - 1}), b -> {band_hash})"
    sig = minhash_signatures(docs).select(
        "doc_id", F.posexplode(F.expr(bands)).alias("band_idx", "band_hash")
    )
    # persisted: signature computation is the expensive narrow stage;
    # both join sides reuse it. Registry callables keep the default
    # (the SQL cache manager dedups the entry across invocations);
    # lifecycle-owning modes pass persist=False and pay the narrow
    # recompute instead of a session-lifetime cache entry.
    if persist:
        sig = sig.persist()
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# --- SimHash ---

SIMHASH_BITS = 24


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """doc_id, simhash: SIMHASH_BITS-bit SimHash over distinct tokens.

    bit b is set when Σ_tokens (±1 by token-hash bit b) > 0 — near-dup
    texts differ in few bits (compare by Hamming distance). All integer
    expression arithmetic, reproducible in the oracle."""
    terms = []
    for b in range(SIMHASH_BITS):
        w = (
            f"aggregate(th, 0, (acc, h) -> acc + "
            f"(case when (h div {1 << b}) % 2 = 1 then 1 else -1 end))"
        )
        terms.append(f"(case when ({w}) > 0 then {1 << b} else 0 end)")
    expr = " + ".join(terms)
    return (
        docs.withColumn("toks", F.expr(TOKENS))
        .withColumn("th", F.expr(f"transform(array_distinct(toks), s -> {_h64('s')})"))
        .select("doc_id", F.expr(expr).cast("bigint").alias("simhash"))
    )


def simhash_sql() -> str:
    terms = []
    for b in range(SIMHASH_BITS):
        w = (
            f"list_sum(list_transform(th, h -> "
            f"CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN ({w}) > 0 THEN {1 << b} ELSE 0 END)")
    expr = " + ".join(terms)
    return f"""
SELECT doc_id, CAST({expr} AS BIGINT) AS simhash
FROM (SELECT doc_id,
             list_transform(list_distinct({TOKENS_SQL}), s -> {_h64_duck('s')}) AS th
      FROM documents)
"""


def minhash_lsh_sql() -> str:
    r = NUM_HASHES // BANDS
    band_hash = _h64_duck(f"array_to_string(sig[b * {r} + 1: b * {r} + {r}], ',')")
    return f"""
WITH sigs AS (
  SELECT doc_id, {MINHASH_SIG_SQL} AS sig
  FROM (SELECT doc_id, {SHINGLE_HASHES_SQL} AS shh
        FROM (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh FROM documents))
),
bands AS (
  SELECT doc_id, b, {band_hash} AS band_hash
  FROM sigs, (SELECT unnest(range({BANDS})) AS b)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""


def minhash_calibration(docs: DataFrame) -> DataFrame:
    """Sketch-quality evaluation: MinHash-estimated vs exact Jaccard
    on the LSH candidate pairs, with absolute error.

    est = (matching signature slots) / NUM_HASHES — the unbiased
    MinHash estimator; exact = |A∩B| / |A∪B| over distinct shingle
    hashes. This is the operator that answers "are NUM_HASHES/BANDS
    tuned right?" before a corpus-wide dedup run commits to them:
    a high mean error says widen the signature, candidates with low
    exact Jaccard say the banding is too permissive.

    Plan shape: signatures and shingle-hash arrays are computed once
    per doc in a narrow stage and joined twice (candidate pairs are
    O(docs × bands) from the band groupBy, never O(n²)); per-pair work
    is two bounded array ops (12-slot compare, |shingles| intersect).
    """
    per_doc = (
        _shingled(docs)
        .select("doc_id", F.expr(SHINGLE_HASHES).alias("shh"))
        .withColumn("sig", F.expr(MINHASH_SIG))
        .persist()
    )
    pairs = minhash_lsh_candidates(docs)
    a = per_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("shh").alias("shh_a"), F.col("sig").alias("sig_a")
    )
    b = per_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("shh").alias("shh_b"), F.col("sig").alias("sig_b")
    )
    match_slots = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> case when x = y then 1 else 0 end),"
        " 0, (acc, v) -> acc + v)"
    )
    common = F.size(F.array_intersect("shh_a", "shh_b"))
    union = F.size("shh_a") + F.size("shh_b") - common
    est = stable_round(match_slots / F.lit(NUM_HASHES), 5)
    exact = stable_round(common / union, 5)
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            est.cast("double").alias("est_jaccard"),
            exact.cast("double").alias("exact_jaccard"),
            stable_round(F.abs(est - exact), 5).cast("double").alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


def minhash_calibration_sql() -> str:
    r = NUM_HASHES // BANDS
    band_hash = _h64_duck(f"array_to_string(sig[b * {r} + 1: b * {r} + {r}], ',')")
    est = f"list_sum(list_transform(range({NUM_HASHES}), i -> CASE WHEN a.sig[i + 1] = b.sig[i + 1] THEN 1 ELSE 0 END)) / {NUM_HASHES}.0"
    common = "CAST(len(list_intersect(a.shh, b.shh)) AS BIGINT)"
    union = f"(len(a.shh) + len(b.shh) - {common})"
    est_r = stable_round_sql(est, 5)
    exact_r = stable_round_sql(f"{common} / CAST({union} AS DOUBLE)", 5)
    return f"""
WITH per_doc AS (
  SELECT doc_id, shh, {MINHASH_SIG_SQL} AS sig
  FROM (SELECT doc_id, {SHINGLE_HASHES_SQL} AS shh
        FROM (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh FROM documents))
),
bands AS (
  SELECT doc_id, b, {band_hash} AS band_hash
  FROM per_doc, (SELECT unnest(range({BANDS})) AS b)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST({est_r} AS DOUBLE) AS est_jaccard,
       CAST({exact_r} AS DOUBLE) AS exact_jaccard,
       CAST({stable_round_sql(f"abs({est_r} - {exact_r})", 5)} AS DOUBLE) AS abs_err
FROM pairs p
JOIN per_doc a ON a.doc_id = p.doc_a
JOIN per_doc b ON b.doc_id = p.doc_b
ORDER BY p.doc_a, p.doc_b
"""


DF_CAP = 20


def _rare_shingles(docs: DataFrame, df_cap: int) -> DataFrame:
    """Persisted (doc_id, shingle, n_sh) over shingles whose global
    document frequency is <= df_cap; n_sh counts a doc's rare
    shingles. The df-capped posting relation of
    [[ngram_jaccard_rare_pairs]] and [[containment_pairs]]: the cap
    bounds every posting list, and so the self-join's per-key fan-out,
    at df_cap rows per side.

    df filtering and the per-doc rare count are windows over the
    exploded relation — each is one shuffle, replacing the
    groupBy+join pairs (two fewer shuffles and no broadcast of the
    rare-shingle set). The persist sits ABOVE the window chain, so both
    self-join sides read the cached relation and the windows run once.
    Round-9 A/B (REJECTED): a groupBy(shingle)+collect_list
    posting-list form (hot-shingle broadcast anti-join prefilter,
    row-local pair generation from the ≤cap sorted list, per-doc counts
    attached by join) measured 1.93 s vs 1.28 s for this shape at sf0.1
    — the extra df-count pass over the exploded relation plus the two
    attach joins cost more than the window sorts they replaced.
    Oracle-green both ways; reverted on measurement (§1.2)."""
    from pyspark.sql.window import Window

    arr = _shingled(docs).select(
        "doc_id", F.explode(F.expr(SHINGLE_HASHES)).alias("shingle")
    )
    kept = (
        arr.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .filter(F.col("df") <= df_cap)
        .drop("df")
    )
    return kept.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    ).persist()


def ngram_jaccard_rare_pairs(docs: DataFrame, threshold: float = 0.5, df_cap: int = DF_CAP) -> DataFrame:
    """Jaccard over RARE shingles only (global document frequency <=
    df_cap). The scale-hardening variant of ngram_jaccard_pairs: hot
    shingles are exactly the inverted-index join's skew term (a
    df=100k shingle alone yields 10^10 candidate pairs), and they
    carry the least similarity signal. Capping df bounds per-shingle
    join fan-out at df_cap^2 while the per-doc denominator counts only
    rare shingles — semantics the oracle mirrors exactly."""
    common = posting_pairs(
        _rare_shingles(docs, df_cap), "shingle", "doc_id", ("doc_a", "doc_b"), "common", "n_sh"
    )
    jac = stable_round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 5)
    return common.select(
        "doc_a", "doc_b", jac.cast("double").alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_rare_sql(threshold: float = 0.5, df_cap: int = DF_CAP) -> str:
    return f"""
WITH arr AS (
  SELECT doc_id, unnest(list_transform(list_distinct({SHINGLES_SQL}), s -> {_h64_duck('s')})) AS shingle
  FROM documents
),
rare AS (SELECT shingle FROM arr GROUP BY 1 HAVING COUNT(*) <= {df_cap}),
kept AS (SELECT arr.doc_id, arr.shingle FROM arr JOIN rare USING (shingle)),
n_rare AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY 1),
sh AS (SELECT kept.doc_id, kept.shingle, n_rare.n_sh FROM kept JOIN n_rare USING (doc_id)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       CAST({stable_round_sql("common / CAST(n_a + n_b - common AS DOUBLE)", 5)} AS DOUBLE) AS jaccard
FROM pairs
WHERE {stable_round_sql("common / CAST(n_a + n_b - common AS DOUBLE)", 5)} >= {threshold}
"""


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap against an eval set)


def decontam_overlap(
    docs: DataFrame, eval_mod: int = 20, min_shared: int = 1
) -> DataFrame:
    """Training-data decontamination: flag training documents sharing
    k-gram shingles with a benchmark/eval set — the standard
    pre-training hygiene pass (remove eval contamination before
    training). The fixture has no separate benchmark table, so the
    eval set is the deterministic slice doc_id % eval_mod == 0; in
    production it is the real benchmark corpus.

    Shape at 100 TB: both sides explode to (doc, shingle-hash) rows;
    the eval side is tiny relative to the corpus, so the planner
    broadcasts it and the pass stays a narrow scan + broadcast-hash
    join + one groupBy on the training doc id. Output: one row per
    contaminated training doc with the evidence counts.
    """
    sh = _shingled(docs).select("doc_id", F.explode(F.expr(SHINGLE_HASHES)).alias("h"))
    train = sh.filter(F.col("doc_id") % eval_mod != 0)
    ev = (
        sh.filter(F.col("doc_id") % eval_mod == 0)
        .withColumnRenamed("doc_id", "eval_id")
        .withColumnRenamed("h", "eh")
    )
    return (
        train.join(ev, train.h == ev.eh)
        .groupBy("doc_id")
        .agg(
            F.count_distinct("h").alias("n_shared_shingles"),
            F.count_distinct("eval_id").alias("n_eval_docs"),
        )
        .filter(F.col("n_shared_shingles") >= min_shared)
        .orderBy("doc_id")
    )


def decontam_overlap_sql(eval_mod: int = 20, min_shared: int = 1) -> str:
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_transform(list_distinct({SHINGLES_SQL}), s -> {_h64_duck('s')})) AS h
  FROM documents
),
train AS (SELECT * FROM sh WHERE doc_id % {eval_mod} <> 0),
ev AS (SELECT doc_id AS eval_id, h AS eh FROM sh WHERE doc_id % {eval_mod} = 0)
SELECT doc_id,
       COUNT(DISTINCT h) AS n_shared_shingles,
       COUNT(DISTINCT eval_id) AS n_eval_docs
FROM train JOIN ev ON train.h = ev.eh
GROUP BY doc_id
HAVING COUNT(DISTINCT h) >= {min_shared}
ORDER BY doc_id
"""


def containment_pairs(docs: DataFrame, threshold: float = 0.8, df_cap: int = DF_CAP) -> DataFrame:
    """Asymmetric containment dedup: containment(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)|.

    Jaccard misses subset documents — a short doc fully quoted inside
    a long one scores |A|/|B| ≈ 0 on Jaccard but 1.0 on containment,
    and subset/quote pairs are exactly what clean-corpus passes need
    to collapse. Reuses the df-capped rare-shingle inverted index
    (same skew bound as ngram_jaccard_rare_pairs); emits BOTH
    directions' scores per candidate pair and keeps pairs where
    either direction crosses the threshold. Denominators count RARE
    shingles only — mirrored exactly by the oracle.
    """
    common = posting_pairs(
        _rare_shingles(docs, df_cap), "shingle", "doc_id", ("doc_a", "doc_b"), "common", "n_sh"
    )
    c_ab = stable_round(F.col("common") / F.col("n_a"), 5)
    c_ba = stable_round(F.col("common") / F.col("n_b"), 5)
    return (
        common.select(
            "doc_a",
            "doc_b",
            c_ab.cast("double").alias("containment_a_in_b"),
            c_ba.cast("double").alias("containment_b_in_a"),
        )
        .filter(
            (F.col("containment_a_in_b") >= threshold)
            | (F.col("containment_b_in_a") >= threshold)
        )
        .orderBy("doc_a", "doc_b")
    )


def containment_sql(threshold: float = 0.8, df_cap: int = DF_CAP) -> str:
    c_ab = stable_round_sql("common / CAST(n_a AS DOUBLE)", 5)
    c_ba = stable_round_sql("common / CAST(n_b AS DOUBLE)", 5)
    return f"""
WITH arr AS (
  SELECT doc_id, unnest(list_transform(list_distinct({SHINGLES_SQL}), s -> {_h64_duck('s')})) AS shingle
  FROM documents
),
rare AS (SELECT shingle FROM arr GROUP BY 1 HAVING COUNT(*) <= {df_cap}),
kept AS (SELECT arr.doc_id, arr.shingle FROM arr JOIN rare USING (shingle)),
n_rare AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY 1),
sh AS (SELECT kept.doc_id, kept.shingle, n_rare.n_sh FROM kept JOIN n_rare USING (doc_id)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       CAST({c_ab} AS DOUBLE) AS containment_a_in_b,
       CAST({c_ba} AS DOUBLE) AS containment_b_in_a
FROM pairs
WHERE {c_ab} >= {threshold} OR {c_ba} >= {threshold}
ORDER BY doc_a, doc_b
"""


def _span_relation(docs: DataFrame, n: int) -> tuple[DataFrame, DataFrame]:
    """(toks, spans): per-doc token arrays + every n-gram span hash
    (h, doc_id, n_tokens, start) — the shared base of the span-dedup
    family."""
    from transferdb_spark.ext.text import spread_narrow
    from transferdb_spark.functions.hashing import portable_hash64

    toks = spread_narrow(docs).select("doc_id", F.expr(TOKENS).alias("toks")).withColumn(
        "n_tokens", F.size("toks")
    )
    # guard short docs explicitly: Spark's sequence(1, 0) yields a
    # DESCENDING [1, 0] (DuckDB's generate_series(1, 0) is empty) — an
    # unguarded explode crashes slice() on start=0 for docs shorter
    # than n tokens and would silently diverge from the oracle
    starts = F.when(
        F.col("n_tokens") >= n,
        F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    spans = toks.select(
        "doc_id",
        "n_tokens",
        F.explode(starts).alias("start"),
        "toks",
    ).select(
        "doc_id",
        "n_tokens",
        "start",
        portable_hash64(F.array_join(F.slice("toks", F.col("start"), n), " ")).alias("h"),
    )
    return toks, spans


def _dup_spans(docs: DataFrame, n: int) -> tuple[DataFrame, DataFrame]:
    """(toks, dup): per-doc token arrays + the duplicated n-gram spans
    (doc_id, n_tokens, start, end) — shared by the detection and
    removal stages."""
    toks, spans = _span_relation(docs, n)
    # groupBy + join-back, NOT a count window over h: the groupBy
    # map-side combines (its shuffle carries distinct hashes, not
    # positions) and the join is AQE-skew-splittable, while a window
    # partitioned on h would buffer EVERY occurrence of a hot
    # boilerplate span in one task (measured ~25% faster locally,
    # rejected for the unbounded-skew exposure at corpus scale).
    # Filtering to duplicated hashes BEFORE the join keeps the build
    # side at just the duplicate fraction
    dup_hashes = (
        spans.groupBy("h").agg(F.count(F.lit(1)).alias("occ")).filter(F.col("occ") > 1)
    )
    dup = spans.join(dup_hashes.select("h"), "h").select(
        "h", "doc_id", "n_tokens", "start", (F.col("start") + (n - 1)).alias("end")
    )
    return toks, dup


def dup_span_stats(docs: DataFrame, n: int = 10) -> DataFrame:
    """Cross-corpus duplicate n-gram span accounting — the detection
    stage of exact-substring dedup (public literature: Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better": remove
    any 50-token span that appears more than once in the corpus; n is
    a parameter here, fixture docs are short).

    Relational shape, no suffix array needed at this granularity:
    tokenize → explode the n-gram start positions (narrow) → hash each
    span → ONE groupBy(hash) over the corpus for occurrence counts →
    join back → per-doc interval-union of duplicated spans via a
    running-max window. Output per doc: span counts plus the fraction
    of tokens covered by at least one duplicated span (the mass
    exact-substring dedup would cut).

    100 TB: the only wide ops are the span-hash groupBy (map-side
    combined, key space = distinct spans) and the join back on the
    same key — both shuffle 8-byte hashes, never text. The window is
    per-doc (small partitions by construction)."""
    from pyspark.sql import Window

    toks, dup = _dup_spans(docs, n)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = dup.select(
        "doc_id",
        "n_tokens",
        F.greatest(
            F.lit(0),
            F.col("end")
            - F.greatest(F.coalesce(F.max("end").over(w), F.col("start") - 1), F.col("start") - 1),
        ).alias("cov"),
        F.lit(1).alias("is_span"),
    )
    # group on doc_id ALONE (n_tokens re-joins from base): the window
    # above already hash-partitioned on doc_id, so this aggregate reuses
    # that exchange instead of reshuffling on a composite key
    per_doc = covered.groupBy("doc_id").agg(
        F.sum("is_span").alias("dup_spans"),
        F.sum("cov").alias("dup_tokens"),
    )
    base = toks.select("doc_id", "n_tokens")
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_spans", F.lit(0)).cast("int").alias("dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("int").alias("dup_tokens"),
            stable_round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
                5,
            ).alias("dup_token_frac"),
        )
        .orderBy("doc_id")
    )


def dup_span_stats_sql(n: int = 10) -> str:
    return f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
tk AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS n_tokens FROM t),
spans AS (
  SELECT doc_id, n_tokens, CAST(g.i AS INT) AS start,
         {_h64_duck(f"array_to_string(toks[g.i : g.i + {n} - 1], ' ')")} AS h
  FROM tk, UNNEST(generate_series(1, GREATEST(n_tokens - {n - 1}, 0))) AS g(i)
),
occ AS (SELECT h, COUNT(*) AS c FROM spans GROUP BY h),
dup AS (
  SELECT s.doc_id, s.n_tokens, s.start, s.start + {n - 1} AS "end"
  FROM spans s JOIN occ USING (h) WHERE occ.c > 1
),
cov AS (
  SELECT doc_id, n_tokens,
         GREATEST(0, "end" - GREATEST(COALESCE(
           MAX("end") OVER (PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           start - 1), start - 1)) AS covered
  FROM dup
),
agg AS (
  SELECT doc_id, COUNT(*) AS dup_spans, SUM(covered) AS dup_tokens
  FROM cov GROUP BY doc_id
)
SELECT tk.doc_id, tk.n_tokens,
       CAST(COALESCE(agg.dup_spans, 0) AS INT) AS dup_spans,
       CAST(COALESCE(agg.dup_tokens, 0) AS INT) AS dup_tokens,
       CAST({{R}} AS DOUBLE) AS dup_token_frac
FROM tk LEFT JOIN agg USING (doc_id)
ORDER BY tk.doc_id
""".replace(
        "{R}",
        stable_round_sql(
            "COALESCE(agg.dup_tokens, 0) / CAST(GREATEST(tk.n_tokens, 1) AS DOUBLE)", 5
        ),
    )


def _reassemble_minus(toks: DataFrame, covered: DataFrame) -> DataFrame:
    """Rebuild each doc's TOKEN text minus the ``covered`` positions
    ((doc_id, pos), 1-based, duplicates allowed). Shared by the
    remove-all and keep-one span-dedup policies.

    Round-10 shape (guide §2.3 "shuffle keys/metadata instead of
    payloads", §2.4): the old form posexploded EVERY token of EVERY
    doc, anti-joined the covered positions, and collect_list-sorted
    the survivors back together — i.e. the whole corpus token stream
    crossed two exchanges to delete a damage-bounded set of
    positions. Now only the covered positions are shuffled
    (collect_set per doc — map-side combined, one exchange of the
    DUPLICATED fraction), joined onto the intact per-doc token
    arrays, and the deletion is one JVM pass per row:
    array_except(sequence(1, n), cov) is hash-set based (O(n + m)).
    The rebuilt text is position-ordered without any sort because
    array_except currently keeps the order of its first argument, so
    the kept positions come out ascending. Spark does not document
    that ordering: it is current Spark behaviour, pinned by
    test_array_except_keeps_first_argument_order (a tripwire — if it
    fails after a Spark upgrade, sort ``kp`` here). Token arrays
    themselves move through at most ONE join exchange (none when the
    covered side broadcasts), never exploded.

    OUTPUT CONTRACT: ``clean_tokens_text`` is rebuilt from the TOKENS
    relation — lowercased, whitespace-split, single-space-joined — so
    it is NORMALIZED token text, not the original document minus the
    spans. Faithful original-text removal would need character
    offsets, which the token pipeline deliberately discards; use the
    output as a token stream (what an LLM pipeline tokenizes anyway),
    not as a replacement display corpus."""
    cov = covered.groupBy("doc_id").agg(F.collect_set("pos").alias("cov"))
    empty = F.array().cast("array<int>")
    seq = F.when(
        F.col("n_tokens") >= 1, F.sequence(F.lit(1), F.col("n_tokens"))
    ).otherwise(empty)
    kept_pos = F.array_except(seq, F.coalesce(F.col("cov"), empty))
    return (
        toks.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            kept_pos.alias("kp"),
            "toks",
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(F.col("kp"), lambda p: F.element_at(F.col("toks"), p)),
                " ",
            ).alias("clean_tokens_text"),
            F.size("kp").cast("int").alias("n_kept"),
            (F.col("n_tokens") - F.size("kp")).cast("int").alias("n_removed"),
        )
        .orderBy("doc_id")
    )


def dup_span_removal(docs: DataFrame, n: int = 10) -> DataFrame:
    """The REMOVAL stage of exact-substring dedup: cut every token
    covered by a duplicated n-gram span and reassemble the token text —
    detection (dup_span_stats) decides what, this executes it.

    Policy: ALL occurrences of a duplicated span are removed (the
    conservative variant); ``dup_span_keep_one`` is the Lee et al.
    keep-one-copy election. Output is NORMALIZED token text — see
    ``_reassemble_minus`` for the exact contract.

    Relational shape: duplicated spans explode to covered positions
    (×n fan-out on the dup fraction only), which collect_set groups per
    doc (one map-side-combined exchange of the duplicated fraction);
    the set joins onto the intact per-doc token arrays and
    array_except(sequence(1, n), cov) drops the covered positions in
    one pass per row. Shuffles carry positions, never exploded tokens.
    """
    toks, dup = _dup_spans(docs, n)
    # no .distinct(): _reassemble_minus collect_set-dedups per doc in
    # the same exchange that groups the positions (one shuffle, not two)
    covered = dup.select(
        "doc_id", F.explode(F.sequence(F.col("start"), F.col("end"))).alias("pos")
    )
    return _reassemble_minus(toks, covered)


def dup_span_keep_one(docs: DataFrame, n: int = 10) -> DataFrame:
    """Keep-one-copy exact-substring dedup — the variant Lee et al.
    2021 actually train on: for every duplicated span hash, elect ONE
    canonical occurrence (global min (doc_id, start)) and remove the
    tokens covered by every OTHER occurrence. A token covered by a
    canonical occurrence of one span but a non-canonical occurrence of
    an overlapping span is still removed (coverage is a union).

    The election rides the SAME groupBy(h) that counts occurrences
    (min(struct(doc_id, start)) is one more map-side-combined
    aggregate on an exchange that exists anyway), so keep-one costs
    one aggregation + one join — the same shuffle count as the
    remove-all detection stage, with the same skew posture (a hot
    boilerplate span never buffers its occurrence list in one task
    the way a window over h would). Output is NORMALIZED token text
    (``clean_tokens_text``)."""
    toks, spans = _span_relation(docs, n)
    # (doc_id, start) packs into one BIGINT (doc_id < 2^31, start <
    # 2^31 — both int32-derived) so the canonical election is a
    # vectorized MIN(long), not a struct comparator in the map-side
    # combine; min(packed) == lexicographic min of the pair
    enc = (F.col("doc_id").cast("long") * (1 << 31)) + F.col("start")
    with_enc = spans.withColumn("__e", enc)
    agg = (
        with_enc.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("occ"),
            F.min("__e").alias("__c"),
        )
        .filter(F.col("occ") > 1)
    )
    non_canon = (
        with_enc.join(agg.select("h", "__c"), "h")
        .filter(F.col("__e") != F.col("__c"))
        .select("doc_id", "start", (F.col("start") + (n - 1)).alias("end"))
    )
    # no .distinct(): _reassemble_minus collect_set-dedups per doc in
    # the same exchange that groups the positions (one shuffle, not two)
    covered = non_canon.select(
        "doc_id", F.explode(F.sequence(F.col("start"), F.col("end"))).alias("pos")
    )
    return _reassemble_minus(toks, covered)


def dup_span_keep_one_sql(n: int = 10) -> str:
    return f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
tk AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS n_tokens FROM t),
spans AS (
  SELECT doc_id, n_tokens, CAST(g.i AS INT) AS start,
         {_h64_duck(f"array_to_string(toks[g.i : g.i + {n} - 1], ' ')")} AS h
  FROM tk, UNNEST(generate_series(1, GREATEST(n_tokens - {n - 1}, 0))) AS g(i)
),
occ AS (SELECT h FROM spans GROUP BY h HAVING COUNT(*) > 1),
dup AS (
  SELECT s.h, s.doc_id, s.start, s.start + {n - 1} AS "end",
         ROW_NUMBER() OVER (PARTITION BY s.h ORDER BY s.doc_id, s.start) AS rn
  FROM spans s JOIN occ USING (h)
),
covered AS (
  SELECT DISTINCT doc_id, CAST(g.i AS INT) AS pos
  FROM dup, UNNEST(generate_series(dup.start, dup."end")) AS g(i)
  WHERE dup.rn > 1
),
tok_rows AS (
  SELECT doc_id, CAST(g.i AS INT) AS pos, toks[g.i] AS tok
  FROM tk, UNNEST(generate_series(1, n_tokens)) AS g(i)
),
kept AS (
  SELECT tr.doc_id, tr.pos, tr.tok
  FROM tok_rows tr LEFT JOIN covered c ON tr.doc_id = c.doc_id AND tr.pos = c.pos
  WHERE c.pos IS NULL
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_tokens_text, COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT tk.doc_id,
       COALESCE(r.clean_tokens_text, '') AS clean_tokens_text,
       CAST(COALESCE(r.n_kept, 0) AS INT) AS n_kept,
       CAST(tk.n_tokens - COALESCE(r.n_kept, 0) AS INT) AS n_removed
FROM tk LEFT JOIN rebuilt r USING (doc_id)
ORDER BY tk.doc_id
"""


def dup_span_removal_sql(n: int = 10) -> str:
    return f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
tk AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS n_tokens FROM t),
spans AS (
  SELECT doc_id, n_tokens, CAST(g.i AS INT) AS start,
         {_h64_duck(f"array_to_string(toks[g.i : g.i + {n} - 1], ' ')")} AS h
  FROM tk, UNNEST(generate_series(1, GREATEST(n_tokens - {n - 1}, 0))) AS g(i)
),
occ AS (SELECT h FROM spans GROUP BY h HAVING COUNT(*) > 1),
dup AS (SELECT s.doc_id, s.start, s.start + {n - 1} AS "end" FROM spans s JOIN occ USING (h)),
covered AS (
  SELECT DISTINCT doc_id, CAST(g.i AS INT) AS pos
  FROM dup, UNNEST(generate_series(dup.start, dup."end")) AS g(i)
),
tok_rows AS (
  SELECT doc_id, CAST(g.i AS INT) AS pos, toks[g.i] AS tok
  FROM tk, UNNEST(generate_series(1, n_tokens)) AS g(i)
),
kept AS (
  SELECT tr.doc_id, tr.pos, tr.tok
  FROM tok_rows tr LEFT JOIN covered c ON tr.doc_id = c.doc_id AND tr.pos = c.pos
  WHERE c.pos IS NULL
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_tokens_text, COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT tk.doc_id,
       COALESCE(r.clean_tokens_text, '') AS clean_tokens_text,
       CAST(COALESCE(r.n_kept, 0) AS INT) AS n_kept,
       CAST(tk.n_tokens - COALESCE(r.n_kept, 0) AS INT) AS n_removed
FROM tk LEFT JOIN rebuilt r USING (doc_id)
ORDER BY tk.doc_id
"""


# ---------------------------------------------------------------------------
# cross-source duplication matrix — corpus forensics: which sources
# copy which (mirrors, scrapes of scrapes, syndication). The pairwise
# shared-content counts drive source-level dedup ordering and crawl
# budget decisions.


def cross_source_overlap(docs: DataFrame, prefix_tokens: int = 8) -> DataFrame:
    """(source_a, source_b, n_shared, n_a, n_b, overlap_pct) for every
    source pair sharing at least one content fingerprint.

    The fingerprint is the digest of the first ``prefix_tokens``
    tokens — the copied-lead / boilerplate key (a verbatim whole-text
    digest only catches byte-identical mirrors; syndicated and
    lightly-edited copies share their lead). Scale: the join key is
    the 8-byte digest of the (source, digest) DISTINCT relation, so
    each digest fans out at most n_sources² — bounded by the
    source-count square, never by corpus size; the per-source totals
    are a broadcast-sized aggregate. overlap_pct is n_shared over the
    SMALLER side (containment convention), rounded half-up at 6dp for
    the cross-engine hash."""
    from transferdb_spark.functions.hashing import portable_hash64

    lead = F.concat_ws(" ", F.slice(F.expr(TOKENS), 1, prefix_tokens))
    # persist: three consumers (per_source + both self-join sides) —
    # same argument as source_jaccard (round 9)
    d = docs.select("source", portable_hash64(lead).alias("digest")).distinct().persist()
    per_source = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_distinct"))
    shared = posting_pairs(d, "digest", "source", ("source_a", "source_b"), "n_shared")
    na = per_source.select(
        F.col("source").alias("source_a"), F.col("n_distinct").alias("n_a")
    )
    nb = per_source.select(
        F.col("source").alias("source_b"), F.col("n_distinct").alias("n_b")
    )
    return (
        shared.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            stable_round(
                F.col("n_shared").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("overlap_pct"),
        )
        .orderBy("source_a", "source_b")
    )


def cross_source_overlap_sql(prefix_tokens: int = 8) -> str:
    from transferdb_spark.functions.hashing import portable_hash64_sql

    digest = portable_hash64_sql(
        f"array_to_string(list_slice({TOKENS_SQL}, 1, {prefix_tokens}), ' ')"
    )
    pct = stable_round_sql(
        "CAST(n_shared AS DOUBLE) / CAST(least(na.n_distinct, nb.n_distinct) AS DOUBLE)",
        6,
    )
    return f"""
WITH d AS (SELECT DISTINCT source, {digest} AS digest FROM documents),
per_source AS (SELECT source, COUNT(*) AS n_distinct FROM d GROUP BY 1),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM d a JOIN d b USING (digest)
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(na.n_distinct AS BIGINT) AS n_a,
       CAST(nb.n_distinct AS BIGINT) AS n_b,
       {pct} AS overlap_pct
FROM shared
JOIN per_source na ON na.source = source_a
JOIN per_source nb ON nb.source = source_b
ORDER BY source_a, source_b
"""


# --- MinHash-LSH connected components -------------------------------------
# Candidate pairs are not clusters: A~B and B~C may hold while A and C
# never share a band, yet all three are one near-dup GROUP and a
# keep-one policy must retain exactly one of them. This is the
# connected-components step every production dedup pipeline runs after
# banding. The engine is the classic distributed formulation —
# alternating large-star/small-star contraction (Kiveris et al.,
# SoCC'14) — which needs only O(log n) rounds even on deep chain
# components, where plain min-label propagation needs diameter rounds.


def minhash_components(docs: DataFrame, max_iters: int = 64) -> DataFrame:
    """(doc_id, component, cluster_size) for every doc in the LSH
    candidate graph; component = min doc_id reachable (deterministic
    representative), cluster_size = member count.

    Delegates the propagation to neardup_clusters — ONE connected-
    components engine in this module (alternating large-star/small-star
    contraction, O(log n) rounds on any graph shape, localCheckpoint
    lineage discipline, converge-or-raise) — and adds the LSH edge
    derivation and the per-component size rollup. The edge relation is
    banding-bounded, never all-pairs."""
    edges = minhash_lsh_candidates(docs, persist=False)
    labels = neardup_clusters(edges, max_iter=max_iters)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.join(sizes, "cluster_id")
        .select(
            "doc_id",
            F.col("cluster_id").alias("component"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


def _lsh_graph_ctes() -> str:
    """Shared DuckDB CTE prefix: the LSH band graph (sigs → bands →
    edges) plus the recursive min-label closure (walk → labeled).
    UNION (set semantics) bounds the recursion; MIN over reachable ids
    equals the propagation fixpoint on an undirected graph."""
    r = NUM_HASHES // BANDS
    band_hash = _h64_duck(f"array_to_string(sig[b * {r} + 1: b * {r} + {r}], ',')")
    return f"""sigs AS MATERIALIZED (
  SELECT doc_id, {MINHASH_SIG_SQL} AS sig
  FROM (SELECT doc_id, {SHINGLE_HASHES_SQL} AS shh
        FROM (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh FROM documents))
),
bands AS (
  SELECT doc_id, b, {band_hash} AS band_hash
  FROM sigs, (SELECT unnest(range({BANDS})) AS b)
),
edges AS MATERIALIZED (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM bands a JOIN bands b ON a.b = b.b AND a.band_hash = b.band_hash
  WHERE a.doc_id <> b.doc_id
),
walk(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.node
),
labeled AS (
  SELECT node, MIN(comp) AS component FROM walk GROUP BY node
)"""


def minhash_components_sql() -> str:
    """DuckDB oracle: recursive min-label closure over the SAME edge
    relation the Spark side derives (shared band SQL)."""
    return f"""
WITH RECURSIVE {_lsh_graph_ctes()}
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(component AS BIGINT) AS component,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
FROM labeled
ORDER BY doc_id
"""


def lsh_cluster_purity(docs: DataFrame, max_iters: int = 64) -> DataFrame:
    """Dedup QA: is each LSH component actually TIGHT? Per component:
    (component, n_members, n_edges, mean_edge_jaccard,
    min_edge_jaccard) where the Jaccards are EXACT shingle overlap
    over the component's banded candidate edges. Banding chains A~B~C
    into one keep-one group even when A and C never share a band; a
    component whose min edge Jaccard sits far below the band's design
    threshold was chained by collisions, not duplication — the audit
    every production dedup runs before deleting losers.

    Scale: edges stay banding-bounded (never all-pairs); the exact
    Jaccard joins the per-doc distinct-shingle arrays onto edge
    ENDPOINTS only (two hash joins keyed by doc id), and the rollup is
    one groupBy(component). The mean accumulates as DECIMAL(18,5) —
    order-independent, so the cross-engine hash cannot drift."""
    edges = minhash_lsh_candidates(docs, persist=False)
    labels = neardup_clusters(edges, max_iter=max_iters)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    sh = _shingled(docs)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = stable_round(
        common / (F.size("sh_a") + F.size("sh_b") - common), 5
    )
    per_edge = (
        edges.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", jac.alias("jac"))
        .join(labels.withColumnRenamed("doc_id", "doc_a"), "doc_a")
    )
    return (
        per_edge.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            stable_round(
                F.sum(F.col("jac").cast("decimal(18,5)")).cast("double")
                / F.count(F.lit(1)),
                5,
            ).alias("mean_edge_jaccard"),
            F.min("jac").alias("min_edge_jaccard"),
        )
        .join(sizes, "cluster_id")
        .select(
            F.col("cluster_id").alias("component"),
            "n_members",
            "n_edges",
            "mean_edge_jaccard",
            "min_edge_jaccard",
        )
        .orderBy("component")
    )


def lsh_cluster_purity_sql() -> str:
    return f"""
WITH RECURSIVE {_lsh_graph_ctes()},
shd AS MATERIALIZED (
  SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh FROM documents
),
pe AS (
  SELECT e.doc_a, e.doc_b,
         len(list_intersect(a.sh, b.sh)) AS common,
         len(a.sh) AS na, len(b.sh) AS nb
  FROM (SELECT DISTINCT src AS doc_a, dst AS doc_b FROM edges WHERE src < dst) e
  JOIN shd a ON e.doc_a = a.doc_id
  JOIN shd b ON e.doc_b = b.doc_id
),
pj AS (
  SELECT doc_a,
         CAST({stable_round_sql("common / CAST(na + nb - common AS DOUBLE)", 5)} AS DOUBLE) AS jac
  FROM pe
),
members AS (SELECT component, COUNT(*) AS n_members FROM labeled GROUP BY component)
SELECT CAST(l.component AS BIGINT) AS component,
       CAST(m.n_members AS BIGINT) AS n_members,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST({stable_round_sql("CAST(SUM(CAST(jac AS DECIMAL(18,5))) AS DOUBLE) / COUNT(*)", 5)} AS DOUBLE) AS mean_edge_jaccard,
       MIN(jac) AS min_edge_jaccard
FROM pj
JOIN labeled l ON pj.doc_a = l.node
JOIN members m ON l.component = m.component
GROUP BY l.component, m.n_members
ORDER BY component
"""


def minhash_keep_one(docs: DataFrame) -> DataFrame:
    """Survivor corpus under component-level near-dup policy: DROP
    every member of an LSH connected component except its min-doc_id
    representative (the pair-level keep-one under-deletes on A~B~C
    chains — it keeps A and C). Anti-join the loser set against the
    full corpus; survivors = untouched docs + one rep per component."""
    losers = minhash_components(docs).where(
        F.col("doc_id") != F.col("component")
    ).select("doc_id")
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "text"
    ).orderBy("doc_id")


def minhash_keep_one_sql() -> str:
    return f"""
WITH comps AS MATERIALIZED ({minhash_components_sql().replace("ORDER BY doc_id", "")})
SELECT d.doc_id, d.text
FROM documents d
LEFT JOIN comps c ON d.doc_id = c.doc_id AND c.doc_id <> c.component
WHERE c.doc_id IS NULL
ORDER BY d.doc_id
"""


def minhash_component_stats(docs: DataFrame) -> DataFrame:
    """(cluster_size, n_clusters, n_docs) — the dedup yield curve:
    how many near-dup groups of each size exist and how many documents
    they hold (n_docs - n_clusters summed = rows a keep-one policy
    removes). One extra groupBy over the component relation."""
    comps = minhash_components(docs)
    return (
        comps.groupBy("cluster_size")
        .agg(
            F.count_distinct("component").alias("n_clusters"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("n_docs").cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def minhash_component_stats_sql() -> str:
    return f"""
WITH comps AS MATERIALIZED ({minhash_components_sql().replace("ORDER BY doc_id", "")})
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(DISTINCT component) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM comps
GROUP BY cluster_size
ORDER BY cluster_size
"""


def _source_shingle_hashes(docs: DataFrame) -> DataFrame:
    """(src, h) shingle-hash pairs, source carried through the shingle
    projection directly (round-9: replaces a doc_id self-join of the
    same scan that cost an extra exchange for a column already on the
    row — guide §2.4); spread_narrow so the tokenize+shingle+hash
    narrow stage uses every slot even on a single-row-group scan
    (no-op at real scale). Shared base of the source-similarity family
    ([[source_novelty]], [[source_jaccard]], [[source_minhash_jaccard]])."""
    from transferdb_spark.ext.text import spread_narrow

    return (
        spread_narrow(docs)
        .withColumn("toks", F.expr(TOKENS))
        .withColumn("sh", F.array_distinct(F.expr(SHINGLES_FROM_TOKS)))
        .select(
            F.col("source").alias("src"),
            F.explode(F.expr(SHINGLE_HASHES)).alias("h"),
        )
    )


def source_novelty(docs: DataFrame) -> DataFrame:
    """Cumulative corpus novelty per source — consumed in source-name
    order, what fraction of a source's distinct shingles is NEW (never
    seen in any earlier source)? The curriculum/freshness accounting a
    data-mixing owner reads next to the duplication matrix: a source
    whose novelty_rate is near zero adds volume, not coverage.

    Shape: distinct (source, shingle-hash) pairs → one groupBy(hash)
    electing the first (min) source per shingle → two small per-source
    rollups. The shuffle carries 8-byte hashes, O(distinct shingles)
    rows — never document text, never all-pairs."""
    pairs = _source_shingle_hashes(docs).distinct()
    totals = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("n_shingles"))
    firsts = pairs.groupBy("h").agg(F.min("src").alias("first_src"))
    novels = firsts.groupBy("first_src").agg(F.count(F.lit(1)).alias("n_novel"))
    return (
        totals.join(novels, totals["src"] == novels["first_src"], "left")
        .select(
            totals["src"].alias("source"),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
            stable_round(
                F.coalesce(F.col("n_novel"), F.lit(0))
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("novelty_rate"),
        )
        .orderBy("source")
    )


def source_novelty_sql() -> str:
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT source AS src, u.h
  FROM (SELECT source, {SHINGLE_HASHES_SQL} AS shh
        FROM (SELECT source, list_distinct({SHINGLES_SQL}) AS sh FROM documents)),
       UNNEST(shh) AS u(h)
),
totals AS (SELECT src, COUNT(*) AS n_shingles FROM pairs GROUP BY src),
firsts AS (SELECT h, MIN(src) AS first_src FROM pairs GROUP BY h),
novels AS (SELECT first_src, COUNT(*) AS n_novel FROM firsts GROUP BY first_src)
SELECT t.src AS source,
       CAST(t.n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
       CAST({stable_round_sql("COALESCE(n.n_novel, 0) / CAST(t.n_shingles AS DOUBLE)", 6)} AS DOUBLE) AS novelty_rate
FROM totals t LEFT JOIN novels n ON t.src = n.first_src
ORDER BY source
"""


def source_jaccard(docs: DataFrame) -> DataFrame:
    """Pairwise source-level shingle Jaccard — the symmetric companion
    to the asymmetric [[source_novelty]] curve and the lead-digest
    [[cross_source_overlap]] matrix: treating each source as the SET of
    its distinct shingles, how similar are two sources as corpora?
    Mirrors vs scrapes vs genuinely disjoint feeds separate cleanly on
    this number, and it is the ground truth `source_minhash_jaccard`
    calibrates against.

    Shape: the distinct (source, shingle-hash) relation (8-byte hashes,
    O(distinct shingles) rows — never text); per-source totals are a
    broadcast-sized aggregate; the intersection self-join keys on the
    hash, so each shingle fans out at most n_sources² — bounded by the
    source-count square, not corpus size."""
    # persist: three consumers (totals + both broadcast self-join
    # sides) would otherwise each recompute tokenize+shingle+distinct
    # (broadcast sides cannot reuse shuffle stages — round 9)
    pairs = _source_shingle_hashes(docs).distinct().persist()
    totals = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    inter = posting_pairs(pairs, "h", "src", ("source_a", "source_b"), "n_inter")
    na = totals.select(F.col("src").alias("source_a"), F.col("n").alias("n_a"))
    nb = totals.select(F.col("src").alias("source_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_inter").cast("long").alias("n_inter"),
            stable_round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def source_jaccard_sql() -> str:
    jac = stable_round_sql(
        "CAST(n_inter AS DOUBLE) / CAST(na.n + nb.n - n_inter AS DOUBLE)", 6
    )
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT source AS src, u.h
  FROM (SELECT source, {SHINGLE_HASHES_SQL} AS shh
        FROM (SELECT source, list_distinct({SHINGLES_SQL}) AS sh FROM documents)),
       UNNEST(shh) AS u(h)
),
totals AS (SELECT src, COUNT(*) AS n FROM pairs GROUP BY src),
inter AS (
  SELECT a.src AS source_a, b.src AS source_b, COUNT(*) AS n_inter
  FROM pairs a JOIN pairs b ON a.h = b.h AND a.src < b.src
  GROUP BY a.src, b.src
)
SELECT i.source_a, i.source_b,
       CAST(na.n AS BIGINT) AS n_a,
       CAST(nb.n AS BIGINT) AS n_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST({jac} AS DOUBLE) AS jaccard
FROM inter i
JOIN totals na ON na.src = i.source_a
JOIN totals nb ON nb.src = i.source_b
ORDER BY source_a, source_b
"""


def source_minhash_jaccard(docs: DataFrame) -> DataFrame:
    """Sketch-path twin of [[source_jaccard]]: one NUM_HASHES-slot
    MinHash signature PER SOURCE (slot-wise min over every shingle hash
    the source contains — the signature of the UNION set, by min
    commutativity), pairwise estimate = matching-slot fraction.

    This is the 100-TB path: the exact matrix shuffles the whole
    distinct (source, shingle) relation into a hash self-join; the
    sketch reduces each source to NUM_HASHES integers with one
    map-side-combined groupBy (shuffle = n_sources × NUM_HASHES rows),
    and the pairwise comparison is a sources²-row broadcast join of
    signature rows — corpus size never appears after the scan. Same
    affine family as `minhash_signatures`, so the estimator quality is
    exactly what `minhash_calibration` measured. All integer math →
    bit-identical in the DuckDB oracle."""
    shh = _source_shingle_hashes(docs)
    aggs = [
        F.min(
            F.expr(f"((65537 * {i + 1}) * h + 104729 * {i} + 12345) % {_MOD}")
        ).alias(f"m{i}")
        for i in range(NUM_HASHES)
    ]
    sigs = (
        shh.groupBy("src")
        .agg(*aggs)
        .select("src", F.array(*[f"m{i}" for i in range(NUM_HASHES)]).alias("sig"))
    )
    a = sigs.select(F.col("src").alias("source_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("src").alias("source_b"), F.col("sig").alias("sig_b"))
    matched = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
    )
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            matched.cast("int").alias("n_matched"),
            stable_round(matched.cast("double") / F.lit(float(NUM_HASHES)), 6).alias(
                "est_jaccard"
            ),
        )
        .orderBy("source_a", "source_b")
    )


def source_minhash_jaccard_sql() -> str:
    matched = (
        f"list_sum(list_transform(range(1, {NUM_HASHES + 1}), "
        f"i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))"
    )
    est = stable_round_sql(f"CAST({matched} AS DOUBLE) / {float(NUM_HASHES)}", 6)
    return f"""
WITH shh AS MATERIALIZED (
  SELECT source AS src, u.h
  FROM (SELECT source, {SHINGLE_HASHES_SQL} AS shh
        FROM (SELECT source, list_distinct({SHINGLES_SQL}) AS sh FROM documents)),
       UNNEST(shh) AS u(h)
),
sigs AS MATERIALIZED (
  SELECT src, {MINHASH_SIG_SQL.replace("shh", "hs")} AS sig
  FROM (SELECT src, list(h) AS hs FROM shh GROUP BY src)
)
SELECT a.src AS source_a, b.src AS source_b,
       CAST({matched} AS INT) AS n_matched,
       CAST({est} AS DOUBLE) AS est_jaccard
FROM sigs a JOIN sigs b ON a.src < b.src
ORDER BY source_a, source_b
"""
