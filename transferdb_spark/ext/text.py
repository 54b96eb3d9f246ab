"""Text analysis operators over the `documents` table.

All computed with built-in JVM expressions (split/transform/aggregate),
no Python in the row path — at 100 TB these are narrow map stages that
pipeline with the scan. Every operator has an exact DuckDB SQL twin for
the correctness oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from transferdb_spark.functions.canonical import stable_round, stable_round_sql

# whitespace tokenization of lowercased text — the shared contract.
# The split class also consumes sub-space control characters
# (\x00-\x1f): \s alone leaves e.g. \x01 INSIDE a token, and a token
# character below 0x20 sorts below the space the suffix-array fold
# joins grams with — which would split a gram's run in the sorted
# suffix array (_rep_fold_all_expr's contiguity invariant) and
# undercount repetition. With the class below, every token character
# is > 0x20 by construction, on BOTH engines identically.
TOKENS = "split(trim(lower(text)), '[\\\\s\\\\x00-\\\\x1f]+')"
TOKENS_SQL = "regexp_split_to_array(trim(lower(text)), '[\\s\\x00-\\x1f]+')"


def token_stats(docs: DataFrame) -> DataFrame:
    """doc_id, n_tokens, n_chars, avg_token_len (rounded, stable)."""
    t = F.expr(TOKENS)
    return docs.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        stable_round(
            F.length(F.array_join(t, "")) / F.size(t), 4
        ).alias("avg_token_len"),
    )


TOKEN_STATS_SQL = f"""
SELECT doc_id,
       CAST(len({TOKENS_SQL}) AS INT) AS n_tokens,
       CAST(length(text) AS INT) AS n_chars,
       CAST({stable_round_sql(f"length(array_to_string({TOKENS_SQL}, '')) / CAST(len({TOKENS_SQL}) AS DOUBLE)", 4)} AS DOUBLE) AS avg_token_len
FROM documents
"""


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality facets: alnum ratio, whitespace ratio,
    digit ratio, mean token length — arithmetic only, so the oracle
    reproduces it bit-for-bit."""
    n = F.length("text").cast("double")
    non_alnum = F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9\\s]", ""))
    digits = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    spaces = F.length(F.regexp_replace(F.col("text"), "[^ ]", ""))
    return docs.select(
        "doc_id",
        stable_round(non_alnum / n, 5).alias("punct_ratio"),
        stable_round(digits / n, 5).alias("digit_ratio"),
        stable_round(spaces / n, 5).alias("space_ratio"),
        (F.length("text") >= 100).cast("int").alias("len_ok"),
    )


_PUNCT_EXPR = (
    "length(regexp_replace(text, '[a-zA-Z0-9" + "\\s" + "]', '', 'g'))"
    " / CAST(length(text) AS DOUBLE)"
)
QUALITY_SQL = f"""
SELECT doc_id,
       CAST({stable_round_sql(_PUNCT_EXPR, 5)} AS DOUBLE) AS punct_ratio,
       CAST({stable_round_sql("length(regexp_replace(text, '[^0-9]', '', 'g')) / CAST(length(text) AS DOUBLE)", 5)} AS DOUBLE) AS digit_ratio,
       CAST({stable_round_sql("length(regexp_replace(text, '[^ ]', '', 'g')) / CAST(length(text) AS DOUBLE)", 5)} AS DOUBLE) AS space_ratio,
       CAST(length(text) >= 100 AS INT) AS len_ok
FROM documents
"""


# tiny per-language stopword sets (language-ID by lexicon overlap —
# the n-gram-heuristic family; deterministic and oracle-reproducible)
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "mit", "von", "ein"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por"],
    "fr": ["le", "la", "les", "et", "de", "un", "pour", "dans"],
}


def lang_id(docs: DataFrame) -> DataFrame:
    """doc_id, lang_pred, best_score: argmax lexicon overlap with
    deterministic tie-break on language code order."""
    t = F.array_distinct(F.expr(TOKENS))
    scores = {
        lang: F.size(F.array_intersect(t, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    # reverse order so that earlier codes win ties (en < es overridden last)
    return docs.select(
        "doc_id",
        F.when(best == 0, F.lit("und")).otherwise(pred).alias("lang_pred"),
        best.cast("int").alias("best_score"),
    )


def _lang_id_sql() -> str:
    score = {
        lang: f"CAST(len(list_intersect(list_distinct({TOKENS_SQL}), {words!r}::VARCHAR[])) AS INT)"
        for lang, words in LANG_STOPWORDS.items()
    }
    best = "GREATEST(" + ", ".join(score.values()) + ")"
    case = "CASE "
    for lang in sorted(LANG_STOPWORDS):
        case += f"WHEN {score[lang]} = best THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
WITH scored AS (SELECT doc_id, {best} AS best FROM documents),
full_scored AS (
  SELECT d.doc_id,
         CASE WHEN best = 0 THEN 'und' ELSE ({case}) END AS lang_pred,
         best AS best_score
  FROM documents d JOIN scored USING (doc_id)
)
SELECT doc_id, lang_pred, best_score FROM full_scored
"""


LANG_ID_SQL = _lang_id_sql()


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: 64-bit portable hash of the
    whitespace-normalized lowercase text (rolling-hash family)."""
    from transferdb_spark.functions.hashing import portable_hash64

    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), "\\s+", " ")
    return docs.select("doc_id", portable_hash64(norm).alias("fp"))


FINGERPRINT_SQL = """
SELECT doc_id,
       CAST(('0x' || substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 10)) AS BIGINT) AS fp
FROM documents
"""


# BPE-ish pre-tokenization: the GPT-2-style splitter simplified to a
# portable alternation (letter runs / digit runs / punctuation runs,
# each with an optional leading space). Counting these pre-tokens is
# the standard cheap proxy for BPE token cost in pipeline budgeting.
BPE_PATTERN = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


def bpe_token_counts(docs: DataFrame) -> DataFrame:
    """doc_id, ws_tokens, bpe_tokens — whitespace vs BPE-ish counts."""
    return docs.select(
        "doc_id",
        F.size(F.expr(TOKENS)).alias("ws_tokens"),
        F.regexp_count(F.lower("text"), F.lit(BPE_PATTERN)).alias("bpe_tokens"),
    )


BPE_TOKEN_SQL = f"""
SELECT doc_id,
       CAST(len({TOKENS_SQL}) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{BPE_PATTERN}')) AS INT) AS bpe_tokens
FROM documents
"""


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Per-language tokenizer fertility: how many subword tokens the
    BPE-ish tokenizer spends per whitespace word (fertility) and how
    many bytes each token covers (bytes_per_token) — the standard
    multilingual tokenizer-budget diagnostic (a high-fertility
    language pays more context window per sentence).

    Exact integer sums per language; the two ratios divide those exact
    sums as the final boundary op (IEEE division is correctly rounded,
    so engines agree). Narrow scan → one groupBy(lang) shuffle of a
    handful of rows."""
    base = docs.select(
        "lang",
        F.size(F.expr(TOKENS)).alias("w"),
        F.regexp_count(F.lower("text"), F.lit(BPE_PATTERN)).alias("t"),
        F.octet_length("text").alias("b"),
    )
    return (
        base.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("w").cast("bigint").alias("ws_tokens"),
            F.sum("t").cast("bigint").alias("bpe_tokens"),
            F.sum("b").cast("bigint").alias("n_bytes"),
        )
        .select(
            "lang",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            "n_bytes",
            (F.col("bpe_tokens").cast("double") / F.col("ws_tokens").cast("double")).alias(
                "fertility"
            ),
            (F.col("n_bytes").cast("double") / F.col("bpe_tokens").cast("double")).alias(
                "bytes_per_token"
            ),
        )
        .orderBy("lang")
    )


TOKENIZER_FERTILITY_SQL = f"""
WITH b AS (
  SELECT lang, len({TOKENS_SQL}) AS w,
         len(regexp_extract_all(lower(text), '{{BPE}}')) AS t,
         strlen(text) AS byt
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS ws_tokens,
       CAST(SUM(t) AS BIGINT) AS bpe_tokens,
       CAST(SUM(byt) AS BIGINT) AS n_bytes,
       CAST(SUM(t) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS fertility,
       CAST(SUM(byt) AS DOUBLE) / CAST(SUM(t) AS DOUBLE) AS bytes_per_token
FROM b
GROUP BY lang
ORDER BY lang
""".replace("{BPE}", BPE_PATTERN)


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k terms per language by tf-idf (linear idf: tf · N/df).

    The linear-idf form keeps the score inside exact IEEE multiply/
    divide of integers, so two engines rank identically — log-idf would
    hang the correctness gate on libm ulp differences without changing
    the ordering. tf = corpus term frequency within the language,
    df = documents containing the term (any language), N = corpus size.

    Scale shape: explode → two partial-agg groupBys (term and
    lang×term) → broadcast-size join on term → per-lang top-k window.
    The explode never leaves the stage that scans the doc."""
    from pyspark.sql.window import Window

    n = docs.count()  # one scalar to the driver (catalog-stat analogue)
    ex = (
        docs.select("doc_id", "lang", F.explode(F.expr(TOKENS)).alias("term"))
        .filter(F.col("term") != "")
        .persist()
    )
    tf = ex.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = ex.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "tfidf",
        stable_round(F.col("tf").cast("double") * F.lit(float(n)) / F.col("df"), 4),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .select("lang", "term", "tf", "df", "tfidf", "rk")
    )


def tfidf_top_terms_sql(k: int = 5) -> str:
    return f"""
WITH ex AS (
  SELECT doc_id, lang, unnest({TOKENS_SQL}) AS term FROM documents
),
exf AS (SELECT * FROM ex WHERE term <> ''),
tf AS (SELECT lang, term, COUNT(*) AS tf FROM exf GROUP BY 1, 2),
dfx AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM exf GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
sc AS (
  SELECT lang, term, tf, df,
         {stable_round_sql("CAST(tf AS DOUBLE) * n.n / df", 4)} AS tfidf
  FROM tf JOIN dfx USING (term), n
)
SELECT lang, term, tf, df, tfidf, rk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tfidf DESC, term) AS INT) AS rk
  FROM sc
) WHERE rk <= {k}
"""


# ---------------------------------------------------------------------------
# corpus-trained bigram LM quality score


def bigram_lm_score(docs: DataFrame) -> DataFrame:
    """Per-document language-model score from a bigram model trained on
    the corpus itself — the expression-only analogue of the
    perplexity-based quality filters training-data pipelines run
    (KenLM-style): score = mean add-one-smoothed conditional
    probability (C(w1,w2)+1)/(C(w1)+V) over the doc's bigrams. Low
    scores flag unpredictable/garbled text.

    Plan shape at 100 TB: tokenize+bigram is a narrow map that runs
    exactly TWICE (model pass + scoring pass — recomputing the narrow
    map beats materializing the exploded relation at corpus scale).
    The model is ONE groupBy count on the bigram relation; the prefix
    counts C(w1) and vocabulary size V are derived from the (orders of
    magnitude smaller) bigram-count relation itself:
    C(w1) = sum over w2 of C(w1,w2), V = |distinct w1 in the model|.
    The per-bigram probability is attached to the model small-side, so
    the big bigram relation is shuffled once for the scoring join (on
    (w1,w2)) and once for the per-doc aggregate — the minimum the
    LM-scoring topology admits.
    Determinism for the oracle: the smoothed probability is one IEEE
    division (correctly rounded, bit-identical across engines), rounded
    to 6dp and summed as DECIMAL — order-independent, so the
    value hash matches DuckDB exactly. No float sums.
    """
    toks = docs.withColumn("toks", F.expr(TOKENS))
    bigram_expr = (
        "case when size(toks) < 2 then array() "
        "else transform(sequence(1, size(toks) - 1), "
        "i -> struct(element_at(toks, i) as w1, element_at(toks, i + 1) as w2)) end"
    )
    bg = toks.select("doc_id", F.explode(F.expr(bigram_expr)).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # prefix counts and vocab size derive from the model relation — no
    # extra pass over the corpus, and the joins that build the scored
    # model run on the small side only
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = c1.select(F.count(F.lit(1)).alias("v"))
    p = stable_round((F.col("c12") + 1) / (F.col("c1") + F.col("v")), 6).cast("decimal(18,6)")
    model = (
        c12.join(c1, ["w1"]).crossJoin(v).select("w1", "w2", p.alias("p"))
    )
    return (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # sum is exact DECIMAL; the AVERAGE goes through double BEFORE
            # rounding — decimal division can land exactly on a .5e-6
            # tie that the two engines round differently, while the
            # double quotient (IEEE, correctly rounded, bit-identical
            # in both) never sits exactly on the boundary
            stable_round(F.sum("p").cast("double") / F.count(F.lit(1)), 6).alias("lm_score"),
        )
        .orderBy("doc_id")
    )


def kn_lm_score(docs: DataFrame, discount: float = 0.75) -> DataFrame:
    """Interpolated Kneser-Ney bigram score — the smoothing the real
    perplexity filters use (KenLM / CCNet lineage; Kneser & Ney 1995,
    Chen & Goodman 1999 — public literature), next to the add-one
    baseline above:

        P_KN(w2|w1) = (C(w1,w2) - D)/C(w1)
                      + (D·N1+(w1,·)/C(w1)) · N1+(·,w2)/N1+(··)

    All five statistics are integer counts derived from the ONE
    bigram-count relation (no extra corpus pass): C(w1,w2)=c12,
    C(w1)=Σc12, N1+(w1,·)=distinct continuations of w1, N1+(·,w2)=
    distinct histories of w2 (the continuation probability that makes
    KN rank 'york' low despite 'new york' being frequent), N1+(··)=
    model size. Since the model is trained on the scored corpus
    itself, every scored bigram has c12 ≥ 1 > D, so the max(·,0)
    clamp is vacuous and omitted.

    Cross-engine determinism: integer counts → one fixed-shape chain
    of IEEE ops (each correctly rounded, bit-identical), rounded to
    6dp per bigram, summed as DECIMAL, averaged through double —
    the module-wide oracle discipline."""
    toks = docs.withColumn("toks", F.expr(TOKENS))
    bigram_expr = (
        "case when size(toks) < 2 then array() "
        "else transform(sequence(1, size(toks) - 1), "
        "i -> struct(element_at(toks, i) as w1, element_at(toks, i + 1) as w2)) end"
    )
    bg = toks.select("doc_id", F.explode(F.expr(bigram_expr)).alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    pre = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    tot = c12.agg(F.count(F.lit(1)).alias("total"))
    d = F.lit(float(discount))
    p = stable_round(
        (F.col("c12").cast("double") - d) / F.col("c1").cast("double")
        + (d * F.col("n1f").cast("double") / F.col("c1").cast("double"))
        * (F.col("n1b").cast("double") / F.col("total").cast("double")),
        6,
    ).cast("decimal(18,6)")
    model = (
        c12.join(pre, ["w1"]).join(cont, ["w2"]).crossJoin(tot)
        .select("w1", "w2", p.alias("p"))
    )
    return (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            stable_round(
                F.sum("p").cast("double") / F.count(F.lit(1)), 6
            ).alias("kn_score"),
        )
        .orderBy("doc_id")
    )


_KN_P_SQL = (
    "((CAST(c12.c12 AS DOUBLE) - 0.75) / CAST(pre.c1 AS DOUBLE)"
    " + (0.75 * CAST(pre.n1f AS DOUBLE) / CAST(pre.c1 AS DOUBLE))"
    " * (CAST(cont.n1b AS DOUBLE) / CAST(tot.total AS DOUBLE)))"
)

KN_LM_SQL = f"""
WITH toks AS (SELECT doc_id, {{toks_sql}} AS t FROM documents),
bg AS (
  SELECT doc_id, u.b.w1 AS w1, u.b.w2 AS w2
  FROM toks, UNNEST(list_transform(range(1, len(t)), i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS u(b)
),
c12 AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
pre AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM c12 GROUP BY 1),
cont AS (SELECT w2, COUNT(*) AS n1b FROM c12 GROUP BY 1),
tot AS (SELECT COUNT(*) AS total FROM c12)
SELECT doc_id, COUNT(*) AS n_bigrams,
       {{outer}} AS kn_score
FROM bg JOIN c12 USING (w1, w2) JOIN pre USING (w1) JOIN cont USING (w2) CROSS JOIN tot
GROUP BY doc_id
ORDER BY doc_id
"""


def kn_lm_sql() -> str:
    inner = stable_round_sql(_KN_P_SQL, 6)
    outer = stable_round_sql(
        f"CAST(SUM(CAST({inner} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)", 6
    )
    return KN_LM_SQL.format(toks_sql=TOKENS_SQL, outer=outer)


BIGRAM_LM_SQL = f"""
WITH toks AS (SELECT doc_id, {TOKENS_SQL} AS t FROM documents),
bg AS (
  SELECT doc_id, u.b.w1 AS w1, u.b.w2 AS w2
  FROM toks, UNNEST(list_transform(range(1, len(t)), i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS u(b)
),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
v AS (SELECT COUNT(DISTINCT w1) AS v FROM bg)
SELECT doc_id, COUNT(*) AS n_bigrams,
       {stable_round_sql(f"CAST(SUM(CAST({stable_round_sql('(c12.c12 + 1) / CAST(c1.c1 + v.v AS DOUBLE)', 6)} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)", 6)} AS lm_score
FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# PII redaction — the scrub pass every training-data pipeline runs
# before release. Patterns are deliberately restricted to syntax both
# regex engines (Java util.regex / RE2) interpret identically: no
# lookaround, no backrefs.

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, match counts per PII class, and the redacted text.

    Counts run against the ORIGINAL text; redaction is sequential
    email → phone → IP (the classes cannot overlap, so order only
    matters for determinism of the output string). Pure regexp
    expressions — a narrow codegen'd map at any scale, no Python in
    the row path."""
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
        ),
        PII_IP_RE,
        "<IP>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_count(t, F.lit(PII_IP_RE)).cast("int").alias("n_ips"),
        redacted.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# within-document repetition — the boilerplate / low-diversity signal
# (Gopher-style repetition filters): duplicate-token fraction and the
# share of the single most frequent token.


def repetition_stats(docs: DataFrame) -> DataFrame:
    """doc_id, n_tokens, distinct_tokens, dup_ratio, top_token_frac.

    Relational form (explode → count per (doc, token) → per-doc agg)
    rather than higher-order array lambdas — interpreted lambda
    evaluation loses to the codegen'd two-level aggregate, and the
    first groupBy map-side-combines so the shuffle carries one row per
    (doc, distinct token)."""
    toks = docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("tok"))
    per = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("distinct_tokens"),
            F.max("cnt").alias("top_cnt"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "distinct_tokens",
            stable_round(
                1 - F.col("distinct_tokens") / F.col("n_tokens").cast("double"), 5
            ).alias("dup_ratio"),
            stable_round(F.col("top_cnt") / F.col("n_tokens").cast("double"), 5).alias(
                "top_token_frac"
            ),
        )
        .orderBy("doc_id")
    )


REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, u.tok FROM (SELECT doc_id, {TOKENS_SQL} AS t FROM documents), UNNEST(t) AS u(tok)
),
per AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       COUNT(*) AS distinct_tokens,
       CAST({stable_round_sql("1 - COUNT(*) / CAST(SUM(cnt) AS DOUBLE)", 5)} AS DOUBLE) AS dup_ratio,
       CAST({stable_round_sql("MAX(cnt) / CAST(SUM(cnt) AS DOUBLE)", 5)} AS DOUBLE) AS top_token_frac
FROM per
GROUP BY doc_id
ORDER BY doc_id
"""


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1 —
    public knowledge): word-count bounds, mean-word-length bounds,
    symbol-to-word ratio (# and ellipsis), bullet/ellipsis line
    fractions, alphabetic-word fraction, minimum stopword hits — each
    facet a narrow JVM expression, composed into one keep verdict.

    Every ratio is a single integer division (IEEE-identical across
    engines); thresholds compare the ROUNDED facets so the oracle's
    verdict can never drift on a boundary."""
    toks = F.expr(TOKENS)
    lines = F.split(F.col("text"), "\n")
    n_words = F.size(toks)
    nz = F.greatest(n_words, F.lit(1)).cast("double")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    mean_wlen = stable_round(F.length(F.array_join(toks, "")) / nz, 5)
    ellipses = (F.length("text") - F.length(F.regexp_replace("text", "\\.\\.\\.", ""))) / F.lit(3)
    hashes = F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    symbol_ratio = stable_round((ellipses + hashes) / nz, 5)
    bullet = stable_round(
        F.size(F.filter(lines, lambda l: F.ltrim(l).startswith("-") | F.ltrim(l).startswith("*"))) / n_lines,
        5,
    )
    ellipsis_lines = stable_round(
        F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("..."))) / n_lines, 5
    )
    alpha = stable_round(
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / nz, 5
    )
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]]))
    )
    out = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        bullet.alias("bullet_line_frac"),
        ellipsis_lines.alias("ellipsis_line_frac"),
        alpha.alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
    )
    # the keep verdict is the conjunction of GOPHER_RULES (the shared
    # rule table below) so the verdict, the filter-funnel attribution
    # and the oracle can never drift apart
    keep = F.expr(" AND ".join(f"({c})" for _, c in GOPHER_RULES))
    return out.withColumn("keep", keep.cast("int")).orderBy("doc_id")


# Gopher keep rules in FIXED waterfall order — one shared table drives
# the keep verdict, the filter-funnel attribution, and both engines'
# SQL (the condition strings are valid Spark SQL and DuckDB SQL over
# the scored facet columns).
GOPHER_RULES: tuple[tuple[str, str], ...] = (
    ("min_words", "n_words >= 50"),
    ("max_words", "n_words <= 100000"),
    ("min_mean_word_len", "mean_word_len >= 3"),
    ("max_mean_word_len", "mean_word_len <= 10"),
    ("symbol_word_ratio", "symbol_word_ratio <= 0.1"),
    ("bullet_lines", "bullet_line_frac <= 0.9"),
    ("ellipsis_lines", "ellipsis_line_frac <= 0.3"),
    ("alpha_words", "alpha_word_frac >= 0.8"),
    ("stopwords", "stopword_hits >= 2"),
)


def filter_funnel(docs: DataFrame) -> DataFrame:
    """Quality-filter ablation accounting — the table every pipeline
    owner reads before flipping a rule: for each Gopher rule, in the
    fixed waterfall order, (stage, rule, n_fail_alone, n_removed_here,
    n_remaining) where n_fail_alone counts docs failing the rule
    regardless of other rules (its standalone bite), n_removed_here
    counts docs whose FIRST failing rule is this one (its marginal
    bite given everything before it), and n_remaining is the surviving
    corpus after the stage. Σ n_removed_here = docs removed overall,
    so the waterfall reconciles exactly with gopher_quality's keep.

    Scale: one narrow pass over the facet columns + ONE global agg
    producing a single rules-wide row, exploded to |rules| rows —
    per-rule counters ride the map side, the shuffle carries one row."""
    g = gopher_quality(docs)
    n_rules = len(GOPHER_RULES)
    flags = g.select(
        *[
            F.expr(f"CAST(NOT ({cond}) AS INT)").alias(f"_f{i}")
            for i, (_, cond) in enumerate(GOPHER_RULES)
        ]
    )
    first_fail = "CASE " + " ".join(
        f"WHEN _f{i} = 1 THEN {i}" for i in range(n_rules)
    ) + " ELSE 99 END"
    flags = flags.withColumn("_ff", F.expr(first_fail))
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i in range(n_rules):
        aggs.append(F.sum(F.col(f"_f{i}")).alias(f"_a{i}"))
        aggs.append(F.sum((F.col("_ff") == i).cast("int")).alias(f"_h{i}"))
    row = flags.agg(*aggs)
    structs = []
    for i, (name, _) in enumerate(GOPHER_RULES):
        removed_cum = sum((F.col(f"_h{j}") for j in range(i + 1)), F.lit(0))
        structs.append(
            F.struct(
                F.lit(i).cast("int").alias("stage"),
                F.lit(name).alias("rule"),
                F.col(f"_a{i}").cast("long").alias("n_fail_alone"),
                F.col(f"_h{i}").cast("long").alias("n_removed_here"),
                (F.col("_n") - removed_cum).cast("long").alias("n_remaining"),
            )
        )
    return (
        row.select(F.explode(F.array(*structs)).alias("s"))
        .select("s.*")
        .orderBy("stage")
    )


def filter_funnel_sql() -> str:
    n_rules = len(GOPHER_RULES)
    f_cols = ", ".join(
        f"CASE WHEN NOT ({cond}) THEN 1 ELSE 0 END AS f{i}"
        for i, (_, cond) in enumerate(GOPHER_RULES)
    )
    ff = "CASE " + " ".join(
        f"WHEN NOT ({cond}) THEN {i}" for i, (_, cond) in enumerate(GOPHER_RULES)
    ) + " ELSE 99 END"
    a_cols = ", ".join(
        f"SUM(f{i}) AS a{i}, SUM(CASE WHEN ff = {i} THEN 1 ELSE 0 END) AS h{i}"
        for i in range(n_rules)
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT {i} AS stage, '{name}' AS rule, CAST(a{i} AS BIGINT) AS n_fail_alone, "
        f"CAST(h{i} AS BIGINT) AS n_removed_here, "
        f"CAST(n - ({' + '.join(f'h{j}' for j in range(i + 1))}) AS BIGINT) AS n_remaining "
        "FROM agg"
        for i, (name, _) in enumerate(GOPHER_RULES)
    )
    return f"""
WITH {_gopher_scored_ctes()},
flags AS (SELECT {f_cols}, {ff} AS ff FROM scored),
agg AS (SELECT COUNT(*) AS n, {a_cols} FROM flags)
SELECT * FROM ({rows})
ORDER BY stage
"""


# Placeholder blocklist over the synthetic fixture vocabulary — the
# operator is the C4/Dolma bad-word document filter; a real deployment
# swaps the term list (and raises MIN_BLOCK_HITS) without touching the
# plan shape.
DEFAULT_BLOCKLIST: tuple[str, ...] = ("slow", "merge", "big")
MIN_BLOCK_HITS = 3


def blocklist_filter(
    docs: DataFrame,
    terms: tuple[str, ...] = DEFAULT_BLOCKLIST,
    min_hits: int = MIN_BLOCK_HITS,
) -> DataFrame:
    """Blocklist document filtering rollup: per source, how many docs
    a term blocklist flags (≥ min_hits token matches) and the total
    match volume. The per-doc hit count is a narrow array filter over
    the shared tokenizer (exact token equality, not substring — 'class'
    never trips a 'lass' entry); the rollup is one small groupBy."""
    lst = ", ".join(f"'{t}'" for t in terms)
    hits = F.expr(f"size(filter({TOKENS}, t -> t IN ({lst})))")
    per = docs.select(
        "source",
        hits.alias("hits"),
    ).withColumn("flagged", (F.col("hits") >= min_hits).cast("int"))
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("flagged").cast("long").alias("n_flagged"),
            F.sum("hits").cast("long").alias("total_hits"),
            stable_round(
                F.sum("flagged") / F.count(F.lit(1)).cast("double"), 6
            ).alias("flag_rate"),
        )
        .orderBy("source")
    )


def blocklist_filter_sql(
    terms: tuple[str, ...] = DEFAULT_BLOCKLIST, min_hits: int = MIN_BLOCK_HITS
) -> str:
    lst = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH per AS (
  SELECT source,
         len(list_filter({TOKENS_SQL}, t -> t IN ({lst}))) AS hits
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN hits >= {min_hits} THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(SUM(hits) AS BIGINT) AS total_hits,
       CAST({stable_round_sql(f"SUM(CASE WHEN hits >= {min_hits} THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)", 6)} AS DOUBLE) AS flag_rate
FROM per
GROUP BY source
ORDER BY source
"""


def _gopher_scored_ctes() -> str:
    stops = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return f"""base AS (
  SELECT doc_id,
         {TOKENS_SQL} AS t,
         regexp_split_to_array(text, '\n') AS lines,
         text
  FROM documents
),
facet AS (
  SELECT doc_id,
         CAST(len(t) AS INT) AS n_words,
         CAST(GREATEST(len(t), 1) AS DOUBLE) AS nz,
         CAST(GREATEST(len(lines), 1) AS DOUBLE) AS n_lines,
         length(array_to_string(t, '')) AS wchars,
         (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3 AS ellipses,
         length(text) - length(replace(text, '#', '')) AS hashes,
         len(list_filter(lines, l -> starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*'))) AS bullets,
         len(list_filter(lines, l -> rtrim(l) LIKE '%...')) AS ell_lines,
         len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS alpha_words,
         CAST(len(list_intersect(list_distinct(t), [{stops}])) AS INT) AS stopword_hits
  FROM base
),
scored AS (
  SELECT doc_id, n_words,
         CAST({stable_round_sql('wchars / nz', 5)} AS DOUBLE) AS mean_word_len,
         CAST({stable_round_sql('(ellipses + hashes) / nz', 5)} AS DOUBLE) AS symbol_word_ratio,
         CAST({stable_round_sql('bullets / n_lines', 5)} AS DOUBLE) AS bullet_line_frac,
         CAST({stable_round_sql('ell_lines / n_lines', 5)} AS DOUBLE) AS ellipsis_line_frac,
         CAST({stable_round_sql('alpha_words / nz', 5)} AS DOUBLE) AS alpha_word_frac,
         stopword_hits
  FROM facet
)"""


def gopher_quality_sql() -> str:
    keep = " AND ".join(cond for _, cond in GOPHER_RULES)
    return f"""
WITH {_gopher_scored_ctes()}
SELECT *, CAST({keep} AS INT) AS keep
FROM scored
ORDER BY doc_id
"""


def doc_chunks(
    docs: DataFrame, window: int = 32, stride: int = 24
) -> DataFrame:
    """RAG/training window chunking: overlapping token windows per doc.

    Every retrieval or context-window pipeline slices long documents
    into fixed-size token windows with overlap (stride < window) so no
    boundary-spanning passage is lost. Starts are 0, stride, 2·stride,
    …, ceil(max(0, n-window)/stride)·stride — a short document yields
    exactly one chunk, and the last chunk may be shorter than window.

    Scale: tokenize → sequence → explode → slice is a pure narrow map
    chain (no shuffle at all); output rows ≈ docs × n/stride. The token
    array is persisted before the Generate so the split() is not
    re-evaluated per chunk row (projection-above-Generate pitfall).
    """
    if stride < 1 or window < 1:
        raise ValueError("window and stride must be >= 1")
    base = docs.select(
        "doc_id", F.expr(TOKENS).alias("toks")
    ).withColumn("n", F.size("toks")).persist()
    k = F.expr(f"(greatest(0, n - {window}) + {stride} - 1) div {stride}")
    exploded = base.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(0), k.cast("int"))).alias("i"),
    )
    return exploded.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_idx"),
        (F.col("i") * stride).cast("int").alias("start_tok"),
        F.least(F.lit(window), F.col("n") - F.col("i") * stride)
        .cast("int")
        .alias("n_chunk_tokens"),
        F.array_join(
            F.slice("toks", F.col("i") * stride + 1, window), " "
        ).alias("chunk_text"),
    )


def doc_chunks_sql(window: int = 32, stride: int = 24) -> str:
    return f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
g AS (SELECT doc_id, toks, n,
             unnest(generate_series(0, (GREATEST(0, n - {window}) + {stride} - 1) // {stride})) AS i
      FROM s)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(i * {stride} AS INT) AS start_tok,
       CAST(LEAST({window}, n - i * {stride}) AS INT) AS n_chunk_tokens,
       array_to_string(toks[i * {stride} + 1 : i * {stride} + {window}], ' ') AS chunk_text
FROM g
"""


# HTML boilerplate cleaning — the first stage of every web-corpus
# pipeline. Pure JVM regexp chain (narrow map, fused with the scan);
# the same three regexes render in DuckDB for the oracle. Entity
# decoding covers the five XML predefined entities; real corpora add
# a table-driven pass, same shape.
_TAG_RE = "<[^>]*>"
_WS_RE = "\\s+"


def clean_html(col: Column) -> Column:
    """Strip tags, decode &amp;/&lt;/&gt;/&quot;/&apos;, collapse
    whitespace, trim."""
    c = F.regexp_replace(col, _TAG_RE, " ")
    for ent, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"), ("&amp;", "&")]:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, _WS_RE, " "))


def clean_html_sql(expr: str) -> str:
    c = f"regexp_replace({expr}, '{_TAG_RE}', ' ', 'g')"
    for ent, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "''"), ("&amp;", "&")]:
        c = f"replace({c}, '{ent}', '{ch}')"
    return f"trim(regexp_replace({c}, '{_WS_RE}', ' ', 'g'))"


def html_clean_roundtrip(docs: DataFrame) -> DataFrame:
    """Wrap each doc in markup + entities, clean it, and verify the
    round-trip recovers the whitespace-normalized original — the
    cleaning-stage contract, oracle-checked end to end."""
    wrapped = F.concat(
        F.lit('<html><body class="x"><p>'),
        F.col("text"),
        F.lit("</p><br/>&amp;footer</body></html>"),
    )
    cleaned = clean_html(wrapped)
    want = F.concat(F.trim(F.regexp_replace(F.col("text"), _WS_RE, " ")), F.lit(" &footer"))
    return docs.select(
        "doc_id",
        F.length(cleaned).alias("clean_len"),
        (cleaned == want).alias("roundtrip_ok"),
    ).orderBy("doc_id")


def html_clean_roundtrip_sql() -> str:
    wrapped = (
        "'<html><body class=\"x\"><p>' || text || '</p><br/>&amp;footer</body></html>'"
    )
    cleaned = clean_html_sql(wrapped)
    want = f"trim(regexp_replace(text, '{_WS_RE}', ' ', 'g')) || ' &footer'"
    return f"""
SELECT doc_id,
       CAST(length({cleaned}) AS INT) AS clean_len,
       ({cleaned} = {want}) AS roundtrip_ok
FROM documents ORDER BY doc_id
"""


def dedup_lines_global(docs: DataFrame) -> DataFrame:
    """C4-style global line deduplication (boilerplate removal).

    Web corpora repeat navigation/footer/license lines across millions
    of pages; C4 removes every repeated occurrence of a line corpus-
    wide, keeping only its FIRST occurrence (by doc_id, then position).
    Returns doc_id, clean_text (kept lines re-joined in original
    order), n_kept, n_dropped — documents reduced to nothing stay in
    the output with an empty clean_text, so accounting survives.

    Scale: explode lines (narrow) → one shuffle on the line value for
    first-wins election (window, map-side partial ordering) → one
    shuffle back on doc_id for reassembly. Both shuffles carry the
    corpus once; that is the honest floor for a global first-wins
    contract (same shape as exact dedup + repacking).
    """
    from pyspark.sql.window import Window

    lines = docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    )
    w = Window.partitionBy("line").orderBy("doc_id", "pos")
    ranked = lines.withColumn("rn", F.row_number().over(w))
    kept = ranked.filter(F.col("rn") == 1)
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = lines.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
            (F.col("n_total") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_dropped"),
        )
        .orderBy("doc_id")
    )


DEDUP_LINES_SQL = """
WITH lines AS (
  SELECT doc_id, g.i - 1 AS pos, l[g.i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM documents),
       UNNEST(generate_series(1, len(l))) AS g(i)
),
ranked AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM lines
),
rebuilt AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM ranked WHERE rn = 1 GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_total FROM lines GROUP BY doc_id)
SELECT t.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(COALESCE(r.n_kept, 0) AS INT) AS n_kept,
       CAST(t.n_total - COALESCE(r.n_kept, 0) AS INT) AS n_dropped
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
ORDER BY t.doc_id
"""


# URL canonicalization — crawl dedup's first line of defense: the same
# page arrives as http/https, with/without www, fragments, tracking
# params, default ports, and trailing slashes. Pure JVM regexp chain;
# identical regexes render in DuckDB for the oracle.
# Anchored to a leading separator so `href=`, `xref=`, `subref=` are NOT
# stripped (an unanchored `ref=` matched inside longer param names and
# silently merged distinct URLs). The separator is KEPT via group 1 —
# consuming it would hide the next param from the same left-to-right
# pass when tracking params are adjacent — then separator runs left
# behind by removed params (`?&`, `&&`) are collapsed in a second pass.
# No lookarounds: must render identically in Java regex and RE2.
_TRACK_RE = "([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*"
_SEP_RUN_RE = "([?&])&+"


def canonical_url(col: Column) -> Column:
    """Lowercase scheme/host, https→http, strip www., default ports,
    fragments, tracking params, dangling ?/&, trailing slash."""
    c = F.lower(col)
    c = F.regexp_replace(c, "^https://", "http://")
    c = F.regexp_replace(c, "^(http://)www\\.", "$1")
    c = F.regexp_replace(c, "^(http://[^/:?#]+):(80|443)([/?#].*)?$", "$1$3")
    c = F.regexp_replace(c, "#.*$", "")
    c = F.regexp_replace(c, _TRACK_RE, "$1")
    c = F.regexp_replace(c, _SEP_RUN_RE, "$1")
    c = F.regexp_replace(c, "[?&]$", "")
    return F.regexp_replace(c, "/$", "")


def canonical_url_sql(expr: str) -> str:
    c = f"lower({expr})"
    c = f"regexp_replace({c}, '^https://', 'http://')"
    c = f"regexp_replace({c}, '^(http://)www\\.', '\\1')"
    c = f"regexp_replace({c}, '^(http://[^/:?#]+):(80|443)([/?#].*)?$', '\\1\\3')"
    c = f"regexp_replace({c}, '#.*$', '')"
    c = f"regexp_replace({c}, '{_TRACK_RE}', '\\1', 'g')"
    c = f"regexp_replace({c}, '{_SEP_RUN_RE}', '\\1', 'g')"
    c = f"regexp_replace({c}, '[?&]$', '')"
    return f"regexp_replace({c}, '/$', '')"


def url_canonical_roundtrip(docs: DataFrame) -> DataFrame:
    """Build a messy URL from each doc's source (https + www + default
    port + tracking params + fragment), canonicalize it, and verify it
    collapses to the clean form — the invariance crawl dedup needs."""
    messy = F.concat(
        F.lit("https://WWW."),
        F.col("source"),
        F.lit(
            ".example.com:443/path/"
            "?href=h&utm_source=x&utm_medium=y&id=7&gclid=z#frag"
        ),
    )
    # href= must SURVIVE (only a bare `ref=` param is tracking — a
    # substring match here corrupted adjacent params)
    want = F.concat(
        F.lit("http://"),
        F.lower(F.col("source")),
        F.lit(".example.com/path/?href=h&id=7"),
    )
    canon = canonical_url(messy)
    return docs.select(
        "doc_id",
        canon.alias("canonical_url"),
        (canon == want).alias("canonical_ok"),
    ).orderBy("doc_id")


def url_canonical_roundtrip_sql() -> str:
    messy = (
        "'https://WWW.' || source || "
        "'.example.com:443/path/?href=h&utm_source=x&utm_medium=y&id=7&gclid=z#frag'"
    )
    want = "'http://' || lower(source) || '.example.com/path/?href=h&id=7'"
    canon = canonical_url_sql(messy)
    return f"""
SELECT doc_id,
       {canon} AS canonical_url,
       ({canon} = {want}) AS canonical_ok
FROM documents ORDER BY doc_id
"""


def bigram_lm_heldout(docs: DataFrame) -> DataFrame:
    """Held-out LM scoring: train the bigram model on the TRAIN split
    (hash-gated 80%), score only VAL docs — the discipline that makes
    perplexity filters honest (a model scoring its own training text
    reports optimistic quality; decontam + held-out scoring is how
    production pipelines calibrate the cut).

    Unseen-bigram backoff: a val bigram absent from the model scores
    (0+1)/(C(w1)+V); an unseen prefix scores 1/(0+V). All smoothed
    probabilities are single IEEE divisions rounded to 6dp and summed
    as DECIMAL — engine-exact, no float accumulation.
    """
    from transferdb_spark.functions.hashing import portable_hash64

    gate = portable_hash64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 10
    toks = docs.withColumn("toks", F.expr(TOKENS)).withColumn("g", gate)
    bigram_expr = (
        "case when size(toks) < 2 then array() "
        "else transform(sequence(1, size(toks) - 1), "
        "i -> struct(element_at(toks, i) as w1, element_at(toks, i + 1) as w2)) end"
    )
    bg = toks.select("doc_id", "g", F.explode(F.expr(bigram_expr)).alias("b")).select(
        "doc_id", "g", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    train = bg.filter(F.col("g") < 8)
    val = bg.filter(F.col("g") >= 8)
    c12 = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = c1.select(F.count(F.lit(1)).alias("v"))
    scored = (
        val.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(v)
    )
    p = stable_round(
        (F.coalesce(F.col("c12"), F.lit(0)) + 1)
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")),
        6,
    ).cast("decimal(18,6)")
    return (
        scored.withColumn("p", p)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("c12").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unseen"),
            stable_round(F.sum("p").cast("double") / F.count(F.lit(1)), 6).alias(
                "lm_score"
            ),
        )
        .orderBy("doc_id")
    )


def bigram_lm_heldout_sql() -> str:
    from transferdb_spark.functions.hashing import portable_hash64_sql

    gate = portable_hash64_sql("'split:' || CAST(doc_id AS VARCHAR)")
    p_raw = "(COALESCE(c12.c12, 0) + 1) / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)"
    p6 = stable_round_sql(p_raw, 6)
    avg6 = stable_round_sql(
        f"CAST(SUM(CAST({p6} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)", 6
    )
    return f"""
WITH toks AS (SELECT doc_id, {gate} % 10 AS g, {TOKENS_SQL} AS t FROM documents),
bg AS (
  SELECT doc_id, g, u.b.w1 AS w1, u.b.w2 AS w2
  FROM toks, UNNEST(list_transform(range(1, len(t)), i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS u(b)
),
train AS (SELECT * FROM bg WHERE g < 8),
val AS (SELECT * FROM bg WHERE g >= 8),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM train GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
v AS (SELECT COUNT(*) AS v FROM c1)
SELECT val.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(CASE WHEN c12.c12 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
       CAST({avg6} AS DOUBLE) AS lm_score
FROM val
LEFT JOIN c12 ON val.w1 = c12.w1 AND val.w2 = c12.w2
LEFT JOIN c1 ON val.w1 = c1.w1
CROSS JOIN v
GROUP BY val.doc_id
ORDER BY val.doc_id
"""


# ---------------------------------------------------------------------------
# Unicode NFC canonicalization — web corpora mix composed and
# decomposed encodings of the SAME text ('é' vs 'e'+U+0301), which
# breaks exact dedup, token counts, and retrieval matching unless
# normalized at ingest. Spark has no built-in normalizer, so this is
# an Arrow-vectorized pandas UDF (the §2.10 contract: never
# row-at-a-time Python); the DuckDB oracle is its native
# nfc_normalize — two independent Unicode implementations must agree.


def unicode_nfc(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, norm_text, changed, n_chars) with NFC-composed text.

    Scale: a narrow per-row map over Arrow batches — no shuffle, no
    state; composes with pipeline_clean_corpus as the first stage."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    norm = _nfc(F.col(text_col))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        (norm != F.col(text_col)).alias("changed"),
        F.length(norm).alias("n_chars"),
    ).orderBy("doc_id")


UNICODE_NFC_SQL = """
SELECT doc_id,
       nfc_normalize(text) AS norm_text,
       (nfc_normalize(text) <> text) AS changed,
       length(nfc_normalize(text)) AS n_chars
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# vocabulary KL drift — distribution shift between two corpus slices
# (crawl snapshots, domains, train vs incoming delta). Per-term
# KL(A||B) contributions p_A·ln(p_A/p_B) localize WHICH vocabulary
# moved, the monitoring signal a rolling-ingest pipeline alerts on.


def vocab_kl_drift(docs: DataFrame, top: int = 40) -> DataFrame:
    """Top contributors to KL(A||B) between the doc_id-even (A) and
    doc_id-odd (B) halves, add-one smoothed over the union vocabulary.

    Scale: one token explode + one groupBy(term) with conditional
    counts — the vocab-build shuffle; scalars (corpus sizes, |V|) are
    a broadcast row. Cross-engine determinism: counts are integers,
    p_A and p_B are single IEEE divides, ln is quantized ONCE to
    BIGINT micro-units at its boundary (the idf discipline), and the
    final product rounds half-up at 12dp before ordering — ties break
    on the term."""
    toks = docs.select(
        (F.col("doc_id") % 2).alias("half"), F.explode(F.expr(TOKENS)).alias("term")
    )
    counts = toks.groupBy("term").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c_b"),
    )
    tot = counts.agg(
        F.sum("c_a").alias("n_a"),
        F.sum("c_b").alias("n_b"),
        F.count(F.lit(1)).alias("v"),
    )
    p_a = (F.col("c_a").cast("double") + F.lit(1.0)) / (
        F.col("n_a").cast("double") + F.col("v").cast("double")
    )
    p_b = (F.col("c_b").cast("double") + F.lit(1.0)) / (
        F.col("n_b").cast("double") + F.col("v").cast("double")
    )
    ln_micro = F.floor(F.log(p_a / p_b) * F.lit(1e6) + F.lit(0.5)).cast("long")
    contrib = stable_round(p_a * ln_micro.cast("double") / F.lit(1e6), 12)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "term",
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            contrib.alias("kl_contrib"),
        )
        .orderBy(F.col("kl_contrib").desc(), "term")
        .limit(top)
    )


def vocab_kl_drift_sql(top: int = 40) -> str:
    p_a = "((CAST(c_a AS DOUBLE) + 1.0) / (CAST(n_a AS DOUBLE) + CAST(v AS DOUBLE)))"
    p_b = "((CAST(c_b AS DOUBLE) + 1.0) / (CAST(n_b AS DOUBLE) + CAST(v AS DOUBLE)))"
    ln_micro = f"CAST(floor(ln({p_a} / {p_b}) * 1000000.0 + 0.5) AS BIGINT)"
    contrib = stable_round_sql(f"{p_a} * CAST({ln_micro} AS DOUBLE) / 1000000.0", 12)
    return f"""
WITH toks AS (
  SELECT doc_id % 2 AS half, u.tok AS term
  FROM (SELECT doc_id, {TOKENS_SQL} AS t FROM documents), UNNEST(t) AS u(tok)
),
counts AS (
  SELECT term,
         SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c_a,
         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c_b
  FROM toks GROUP BY 1
),
tot AS (SELECT SUM(c_a) AS n_a, SUM(c_b) AS n_b, COUNT(*) AS v FROM counts)
SELECT term,
       CAST(c_a AS BIGINT) AS c_a,
       CAST(c_b AS BIGINT) AS c_b,
       {contrib} AS kl_contrib
FROM counts CROSS JOIN tot
ORDER BY kl_contrib DESC, term
LIMIT {top}
"""


def compression_ratio(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, raw_len, zlib_len, ratio) — DEFLATE compressibility,
    the classic low-entropy filter (template/boilerplate text
    compresses far below ~0.4; high-entropy garbage sits near 1.0).
    Used alongside the Gopher rules and LM scores as a third,
    model-free quality axis.

    Arrow-vectorized pandas UDF (zlib level 6, fixed, so results are
    reproducible); non-SQL-expressible — DuckDB has no DEFLATE — so
    the registry entry is rows-only and the behavior is pinned by a
    differential pytest against direct zlib."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    @pandas_udf(IntegerType())
    def _zlen(s: pd.Series) -> pd.Series:
        import zlib

        return s.map(
            lambda x: len(zlib.compress(x.encode("utf-8"), 6)) if x is not None else None
        )

    zl = _zlen(F.col(text_col))
    raw = F.length(F.col(text_col))  # chars; bytes for the ratio below
    raw_bytes = F.octet_length(F.col(text_col))
    return docs.select(
        "doc_id",
        raw.alias("raw_len"),
        zl.alias("zlib_len"),
        stable_round(
            zl.cast("double") / F.greatest(raw_bytes, F.lit(1)).cast("double"), 6
        ).alias("ratio"),
    ).orderBy("doc_id")


def vocab_zipf_slope(docs: DataFrame, top: int = 500) -> DataFrame:
    """One-row Zipf diagnostic: the least-squares slope of
    ln(freq) ~ ln(rank) over the top-``top`` vocabulary terms.

    Natural text sits near -1 (Zipf's law); template/synthetic corpora
    flatten toward 0 and boilerplate-heavy ones steepen — a one-number
    corpus-health check (Piantadosi 2014 review; public literature).

    Exactness: the only transcendental is ln, quantized ONCE per point
    to BIGINT micro-units; the regression then runs entirely in
    integer sums (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) with ONE double
    division at the output boundary — the same discipline as idf.
    The top-N relation is model-sized, so the rank window is bounded
    by construction."""
    from pyspark.sql.window import Window

    freqs = (
        docs.select(F.explode(F.expr(TOKENS)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "term")
        .limit(top)
    )
    ranked = freqs.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("freq").desc(), "term"))
    )
    x = F.floor(F.log(F.col("rank").cast("double")) * F.lit(1e6) + F.lit(0.5)).cast("long")
    y = F.floor(F.log(F.col("freq").cast("double")) * F.lit(1e6) + F.lit(0.5)).cast("long")
    pts = ranked.select(x.alias("x"), y.alias("y"))
    agg = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        F.col("n").cast("long").alias("n_terms"),
        stable_round(num.cast("double") / den.cast("double"), 6).alias("zipf_slope"),
    )


def vocab_zipf_slope_sql(top: int = 500) -> str:
    return f"""
WITH freqs AS (
  SELECT u.tok AS term, COUNT(*) AS freq
  FROM (SELECT {TOKENS_SQL} AS t FROM documents), UNNEST(t) AS u(tok)
  GROUP BY 1
  ORDER BY freq DESC, term
  LIMIT {top}
),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rank FROM freqs
),
pts AS (
  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y
  FROM ranked
),
agg AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
       {stable_round_sql("CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)", 6)} AS zipf_slope
FROM agg
"""


# ---------------------------------------------------------------------------
# Gopher n-gram repetition battery (Rae et al. 2021, §A1.1): the
# n-GRAM rungs of the repetition filters — repetition_stats above
# covers the token-level pair. Per document:
#   rep_top_n (n=2..4):  chars covered by ALL occurrences of the most
#                        frequent n-gram / total chars
#   rep_dup_n (n=5..10): chars covered by every n-gram that occurs
#                        more than once (count x gram length, the
#                        Dolma/NeMo-curator accounting) / total chars
# One combined explode carries (n, gram) structs for all nine sizes —
# a single shuffle keyed (doc_id, n, gram), then one window top-1 per
# (doc_id, n) for the top rungs and a conditional sum for the dup
# rungs. Ties: count DESC, gram ASC in both engines.

_REP_NS = list(range(2, 11))


def _rep_fold_all_expr() -> str:
    """ALL nine rungs' (top_chars / dup_chars) in ONE pass — a NARROW
    fold over a SINGLE sorted suffix array. Per-doc metrics must never
    shuffle (the relational groupBy-doc/n/gram shape measured 93 s at
    sf0.1 vs ~8.5 s for the per-n folds), and the per-n folds paid for
    nine array builds + nine sorts per document; this formulation pays
    ONE: sort the (10-token-truncated) token suffixes once, and every
    n-gram rung falls out, because strings sharing an identical
    n-token prefix are CONTIGUOUS in lexicographic order — so each n's
    gram runs are adjacent in the same sorted array. Suffixes shorter
    than n tokens carry a NULL n-prefix; a NULL never splits a run
    (a string without prefix P cannot sort strictly between two
    strings that both have prefix P), so the fold just skips it.

    Ties for the top gram: n-prefixes of the sorted suffixes appear in
    ascending order, so the strict `run > best` replacement keeps the
    lexicographically smallest gram at equal counts — the same
    (cnt DESC, gram ASC) rule as the DuckDB oracle's window."""
    max_n = max(_REP_NS)
    # Spark's sequence(1, 0) is DESCENDING [1, 0]; the filter guard is
    # what makes empty docs yield an empty suffix list, not slice(t,0,..)
    suffixes = (
        "array_sort(transform(filter(sequence(1, size(t)),"
        " i -> i >= 1 AND i <= size(t)),"
        f" i -> array_join(slice(t, i, {max_n}), ' ')))"
    )
    # per element: space count ONCE, then the nine token prefixes
    # (substring_index returns the WHOLE string below n separators —
    # the sc >= n-1 guard is what turns a too-short suffix into a NULL
    # non-gram for that rung instead of a bogus short gram)
    prefix_fields = ", ".join(
        f"'p{n}', IF(x.sc >= {n - 1}, substring_index(x.s, ' ', {n}),"
        " CAST(NULL AS STRING))"
        for n in _REP_NS
    )
    grams = (
        f"transform(transform({suffixes},"
        " s -> struct(length(s) - length(replace(s, ' ', '')) AS sc, s AS s)),"
        f" x -> named_struct({prefix_fields}))"
    )

    zeros, steps, fins = [], [], []
    for n in _REP_NS:
        a = f"acc.n{n}"
        close_dup = f"{a}.d + IF({a}.r > 1L, {a}.r * length({a}.p), 0L)"
        if n <= 4:
            # ties keep the lexicographically SMALLEST gram — compared
            # explicitly against the stored best gram, NOT inferred
            # from encounter order: suffix order only guarantees equal
            # grams are contiguous, not that distinct grams appear in
            # gram order (a token containing a sub-space control char
            # can invert it), so the cnt-tie needs the real comparison
            better = f"({a}.r > {a}.bc OR ({a}.r = {a}.bc AND {a}.p < {a}.bg))"
            zeros.append(
                f"'n{n}', named_struct('p', CAST(NULL AS STRING),"
                " 'r', 0L, 'bc', 0L, 'bg', CAST(NULL AS STRING))"
            )
            same = f"named_struct('p', {a}.p, 'r', {a}.r + 1L, 'bc', {a}.bc, 'bg', {a}.bg)"
            new = (
                f"named_struct('p', x.p{n}, 'r', 1L,"
                f" 'bc', IF({better}, {a}.r, {a}.bc),"
                f" 'bg', IF({better}, {a}.p, {a}.bg))"
            )
            fins.append(
                f"'top{n}', IF({better}, {a}.r * length({a}.p),"
                f" {a}.bc * length({a}.bg))"
            )
        else:
            zeros.append(
                f"'n{n}', named_struct('p', CAST(NULL AS STRING),"
                " 'r', 0L, 'd', 0L)"
            )
            same = f"named_struct('p', {a}.p, 'r', {a}.r + 1L, 'd', {a}.d)"
            new = f"named_struct('p', x.p{n}, 'r', 1L, 'd', {close_dup})"
            fins.append(f"'dup{n}', {close_dup}")
        steps.append(
            f"'n{n}', IF(x.p{n} IS NULL, {a},"
            f" IF({a}.p IS NOT NULL AND x.p{n} = {a}.p, {same}, {new}))"
        )

    zero = "named_struct(" + ", ".join(zeros) + ")"
    step = "(acc, x) -> named_struct(" + ", ".join(steps) + ")"
    fin = "acc -> named_struct(" + ", ".join(fins) + ")"
    return f"aggregate({grams}, {zero}, {step}, {fin})"


def spread_narrow(df: DataFrame) -> DataFrame:
    """Round-robin split for CPU-heavy PER-ROW stages whose input scan
    has fewer partitions than the cluster has slots (the sf0.1 fixture
    is ONE 600 KB parquet row group — unsplittable, so every narrow
    fold otherwise runs on one core of 32). The exchange ships the raw
    input rows round-robin BEFORE the expensive projection, costing
    one pass over the (tiny, under-partitioned) input; at 100 TB the
    scan already has more splits than slots and this is a NO-OP — the
    condition, not the operator, is what makes it scale-safe. This is
    categorically different from the rejected relational shapes, which
    shuffled the n-gram EXPLOSION (~9x corpus text) by content key."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — planning-only probe
        return df
    if cur >= target:
        return df
    return df.repartition(target)


def ngram_repetition(docs: DataFrame) -> DataFrame:
    """(doc_id, rep_top2..4, rep_dup5..10) — all stable_round(5).
    No content shuffle: every column is a per-row expression chain
    (the only exchange is spread_narrow's conditional round-robin of
    the raw docs), and since round 8 all nine rungs share ONE sorted
    suffix array + ONE fold (see _rep_fold_all_expr) instead of nine
    builds + sorts."""
    base = spread_narrow(docs).select(
        "doc_id",
        F.expr(TOKENS).alias("t"),
        F.greatest(F.length(F.array_join(F.expr(TOKENS), " ")), F.lit(1))
        .cast("double")
        .alias("total_chars"),
    )
    folded = base.select(
        "doc_id", "total_chars", F.expr(_rep_fold_all_expr()).alias("rep")
    )
    cols = []
    for n in _REP_NS:
        field = f"top{n}" if n <= 4 else f"dup{n}"
        name = f"rep_top{n}" if n <= 4 else f"rep_dup{n}"
        cols.append(
            stable_round(
                F.coalesce(F.col("rep").getField(field), F.lit(0))
                .cast("double")
                / F.col("total_chars"),
                5,
            ).alias(name)
        )
    return folded.select("doc_id", *cols).orderBy("doc_id")


def ngram_repetition_sql() -> str:
    cols = []
    for n in _REP_NS:
        src = "top_chars" if n <= 4 else "dup_chars"
        name = f"rep_top{n}" if n <= 4 else f"rep_dup{n}"
        cols.append(
            stable_round_sql(
                f"CAST(COALESCE(MAX(CASE WHEN p.n = {n} THEN p.{src} END), 0)"
                " AS DOUBLE) / t.total_chars",
                5,
            )
            + f" AS {name}"
        )
    col_sql = ",\n       ".join(cols)
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, t,
         GREATEST(length(array_to_string(t, ' ')), 1) AS total_chars
  FROM (SELECT doc_id, {TOKENS_SQL} AS t FROM documents)),
grams AS (
  SELECT doc_id, total_chars, gn.n AS n,
         array_to_string(t[gi.i : gi.i + gn.n - 1], ' ') AS gram
  FROM toks,
       UNNEST(generate_series(2, 10)) AS gn(n),
       UNNEST(generate_series(1, GREATEST(len(t) - gn.n + 1, 0))) AS gi(i)),
counts AS (
  SELECT doc_id, total_chars, n, gram, COUNT(*) AS cnt
  FROM grams GROUP BY ALL),
per_n AS (
  SELECT doc_id, total_chars, n,
         MAX(CASE WHEN rn = 1 THEN cnt * length(gram) END) AS top_chars,
         SUM(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) AS dup_chars
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                     ORDER BY cnt DESC, gram) AS rn
        FROM counts)
  GROUP BY ALL)
SELECT t.doc_id,
       {col_sql}
FROM toks t LEFT JOIN per_n p ON t.doc_id = p.doc_id
GROUP BY t.doc_id, t.total_chars
ORDER BY t.doc_id
"""


# ---------------------------------------------------------------------------
# PMI collocation mining — word2vec-style phrase detection (Mikolov et
# al. 2013 "Distributed Representations..."): adjacent token pairs
# scored by pointwise mutual information. PMI itself is a log, but its
# ARGUMENT count(ab)·N / (count(a)·count(b)) is rational and log is
# monotone — so the ranking uses the integer-quantized ratio
# (the BM25-idf / WordPiece discipline) and stays hash-exact across
# engines. Two map-side-combined groupBys + broadcast unigram joins.

PMI_SCALE = 10**6


def pmi_collocations(
    docs: DataFrame, min_count: int = 5, top: int = 50
) -> DataFrame:
    """(left, right, pair_cnt, pmi_ratio_q) — top collocations by the
    quantized PMI ratio (count DESC, pair ASC ties)."""
    docs = spread_narrow(docs)  # parallelize the tokenize/explode map side
    toks = F.expr(TOKENS)
    base = docs.select(F.explode(toks).alias("tok"))
    uni = base.groupBy("tok").agg(F.count(F.lit(1)).alias("ucnt"))
    # corpus size as a broadcast 1-row relation, not a driver action —
    # derived from uni so the token scan isn't paid a third time
    total = uni.agg(F.sum("ucnt").alias("n_total"))
    pairs = (
        docs.select(
            F.explode(
                F.expr(
                    "transform(slice(" + TOKENS + ", 1, size(" + TOKENS + ") - 1),"
                    " (s, i) -> struct(s AS l, " + TOKENS + "[i + 1] AS r))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= min_count)
    )
    scored = (
        pairs.join(F.broadcast(uni.withColumnRenamed("tok", "left")), "left")
        .withColumnRenamed("ucnt", "lcnt")
        .join(F.broadcast(uni.withColumnRenamed("tok", "right")), "right")
        .withColumnRenamed("ucnt", "rcnt")
        .crossJoin(F.broadcast(total))
        .select(
            "left",
            "right",
            F.col("pair_cnt").cast("long").alias("pair_cnt"),
            F.expr(
                f"CAST(pair_cnt * n_total * {PMI_SCALE}L DIV (lcnt * rcnt) AS BIGINT)"
            ).alias("pmi_ratio_q"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_ratio_q"), F.desc("pair_cnt"), F.asc("left"), F.asc("right")
    ).limit(top)


def pmi_collocations_sql(min_count: int = 5, top: int = 50) -> str:
    return f"""
WITH base AS MATERIALIZED (
  SELECT u.tok FROM (SELECT {TOKENS_SQL} AS t FROM documents), UNNEST(t) AS u(tok)),
total AS (SELECT COUNT(*) AS n FROM base),
uni AS (SELECT tok, COUNT(*) AS ucnt FROM base GROUP BY tok),
pairs AS (
  SELECT t[gi.i] AS "left", t[gi.i + 1] AS "right", COUNT(*) AS pair_cnt
  FROM (SELECT {TOKENS_SQL} AS t FROM documents),
       UNNEST(generate_series(1, GREATEST(len(t) - 1, 0))) AS gi(i)
  GROUP BY ALL HAVING COUNT(*) >= {min_count})
SELECT p."left", p."right", CAST(p.pair_cnt AS BIGINT) AS pair_cnt,
       (CAST(p.pair_cnt AS BIGINT) * total.n * {PMI_SCALE}) // (ul.ucnt * ur.ucnt)
         AS pmi_ratio_q
FROM pairs p
JOIN uni ul ON p."left" = ul.tok
JOIN uni ur ON p."right" = ur.tok
CROSS JOIN total
ORDER BY pmi_ratio_q DESC, pair_cnt DESC, p."left", p."right"
LIMIT {top}
"""


# ---------------------------------------------------------------------------
# Unicode script profile — the multilingual-pipeline companion to the
# stopword-lexicon lang_id: per-document character fractions by Unicode
# SCRIPT property (what mixed-script spam, transliteration noise, and
# wrong-language routing show up as before any lexicon matches).
# Counting is length-difference after regexp_replace of the script
# class — Java's \p{IsX} and RE2's \p{X} agree on these seven scripts
# (verified cross-engine), so the fractions hash-match exactly.

_SCRIPTS = [
    ("latin", "Latin"),
    ("cyrillic", "Cyrillic"),
    ("han", "Han"),
    ("arabic", "Arabic"),
    ("greek", "Greek"),
    ("hangul", "Hangul"),
    ("devanagari", "Devanagari"),
]


def script_profile(docs: DataFrame) -> DataFrame:
    """(doc_id, frac_<script>..., dominant_script) — fractions over
    non-whitespace chars, stable_round(5); dominant = the first script
    in the fixed order above holding the max count ('other' when no
    script char appears). Narrow projection: zero shuffle beyond the
    output sort."""
    docs = spread_narrow(docs)  # 7 regex passes/doc: CPU-heavy narrow stage
    nonws = F.length(F.regexp_replace("text", "\\s", ""))
    counts = {
        k: F.length("text") - F.length(F.regexp_replace("text", f"\\p{{Is{j}}}", ""))
        for k, j in _SCRIPTS
    }
    base = docs.select(
        "doc_id",
        F.greatest(nonws, F.lit(1)).cast("double").alias("nz"),
        *[v.alias(f"c_{k}") for k, v in counts.items()],
    )
    mx = F.greatest(*[F.col(f"c_{k}") for k, _ in _SCRIPTS])
    dominant = F.when(mx == 0, F.lit("other"))
    for k, _ in _SCRIPTS:
        dominant = dominant.when(F.col(f"c_{k}") == mx, F.lit(k))
    return base.select(
        "doc_id",
        *[
            stable_round(F.col(f"c_{k}").cast("double") / F.col("nz"), 5).alias(
                f"frac_{k}"
            )
            for k, _ in _SCRIPTS
        ],
        dominant.alias("dominant_script"),
    ).orderBy("doc_id")


def script_profile_sql() -> str:
    cnt = {
        k: f"length(text) - length(regexp_replace(text, '\\p{{{j}}}', '', 'g'))"
        for k, j in _SCRIPTS
    }
    cols = ",\n       ".join(
        stable_round_sql(f"CAST(c_{k} AS DOUBLE) / nz", 5) + f" AS frac_{k}"
        for k, _ in _SCRIPTS
    )
    mx = "GREATEST(" + ", ".join(f"c_{k}" for k, _ in _SCRIPTS) + ")"
    dom = "CASE WHEN " + mx + " = 0 THEN 'other' " + " ".join(
        f"WHEN c_{k} = {mx} THEN '{k}'" for k, _ in _SCRIPTS
    ) + " END"
    inner = ",\n         ".join(f"{v} AS c_{k}" for k, v in cnt.items())
    return f"""
WITH base AS (
  SELECT doc_id,
         GREATEST(length(regexp_replace(text, '\\s', '', 'g')), 1) AS nz,
         {inner}
  FROM documents)
SELECT doc_id,
       {cols},
       {dom} AS dominant_script
FROM base
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Position-exact duplicate n-gram coverage — the Gopher paper's own
# accounting (each character counted ONCE), complementing the
# Dolma-style count×length fractions of ngram_repetition (which can
# exceed 1.0 on heavily looped text). Per document and n in 5..10:
# fraction of TOKEN characters lying inside at least one duplicated
# n-gram. Still a narrow zero-shuffle plan: duplicate starts come from
# sorting (gram, index) pairs and folding runs; coverage is the
# distinct union of [i, i+n-1] token spans.

_COV_NS = list(range(5, 11))


def _dup_cover_all_expr() -> str:
    """ALL six rungs' covered-char counts in ONE pass — the same fused
    single-sorted-suffix-array trick as _rep_fold_all_expr (round-9
    optimization, guide §1.2 step 1): the per-n expression chain paid
    six array builds + six O(L log L) sorts per document; here the
    (10-token-truncated) suffixes are sorted ONCE carrying their start
    index, and each n's duplicated-gram runs are adjacent in that same
    order (equal n-token prefixes are contiguous; a too-short suffix
    carries a NULL prefix for that rung and a NULL never splits a run
    — the _rep_fold_all_expr contiguity argument verbatim, which rests
    on the TOKENS contract that every token char is > 0x20). The fold
    keeps, per n, the current run's start indexes and the accumulated
    duplicated-run indexes; the FINISH lambda closes the last run and
    folds each rung's covered positions into a char count directly, so
    the per-n outputs are plain struct fields and the heavy fold runs
    once per row."""
    max_n = max(_COV_NS)
    suffixes = (
        "array_sort(transform(filter(sequence(1, size(t)),"
        " i -> i >= 1 AND i <= size(t)),"
        f" i -> struct(array_join(slice(t, i, {max_n}), ' ') AS s, i AS i)))"
    )
    prefix_fields = ", ".join(
        f"'p{n}', IF(x.sc >= {n - 1}, substring_index(x.s, ' ', {n}),"
        " CAST(NULL AS STRING))"
        for n in _COV_NS
    )
    grams = (
        f"transform(transform({suffixes},"
        " x -> struct(length(x.s) - length(replace(x.s, ' ', '')) AS sc,"
        " x.s AS s, x.i AS i)),"
        f" x -> named_struct('i', x.i, {prefix_fields}))"
    )
    zeros, steps, fins = [], [], []
    for n in _COV_NS:
        a = f"acc.n{n}"
        zeros.append(
            f"'n{n}', named_struct('p', CAST(NULL AS STRING),"
            " 'r', CAST(array() AS ARRAY<INT>), 'd', CAST(array() AS ARRAY<INT>))"
        )
        steps.append(
            f"'n{n}', IF(x.p{n} IS NULL, {a},"
            f" IF({a}.p IS NOT NULL AND x.p{n} = {a}.p,"
            f" named_struct('p', {a}.p, 'r', array_append({a}.r, x.i), 'd', {a}.d),"
            f" named_struct('p', x.p{n}, 'r', array(x.i),"
            f" 'd', IF(size({a}.r) > 1, concat({a}.d, {a}.r), {a}.d))))"
        )
        dups = f"IF(size({a}.r) > 1, concat({a}.d, {a}.r), {a}.d)"
        covered = (
            f"array_distinct(flatten(transform({dups},"
            f" i -> sequence(i, i + {n - 1}))))"
        )
        fins.append(
            f"'c{n}', aggregate({covered}, 0L, (a2, p) -> a2 + length(t[p - 1]))"
        )
    zero = "named_struct(" + ", ".join(zeros) + ")"
    step = "(acc, x) -> named_struct(" + ", ".join(steps) + ")"
    fin = "acc -> named_struct(" + ", ".join(fins) + ")"
    return f"aggregate({grams}, {zero}, {step}, {fin})"


def ngram_dup_coverage(docs: DataFrame) -> DataFrame:
    """(doc_id, cov_dup5..cov_dup10) — position-exact duplicated-n-gram
    char coverage fractions over token chars, stable_round(5). All six
    rungs share ONE sorted suffix array + ONE fold (round 9; see
    _dup_cover_all_expr) instead of six builds + sorts."""
    base = spread_narrow(docs).select(
        "doc_id",
        F.expr(TOKENS).alias("t"),
        F.greatest(
            F.expr("aggregate(" + TOKENS + ", 0L, (a, x) -> a + length(x))"),
            F.lit(1),
        ).cast("double").alias("tok_chars"),
    )
    folded = base.select(
        "doc_id", "tok_chars", F.expr(_dup_cover_all_expr()).alias("dc")
    )
    cols = [
        stable_round(
            F.col("dc").getField(f"c{n}").cast("double") / F.col("tok_chars"), 5
        ).alias(f"cov_dup{n}")
        for n in _COV_NS
    ]
    return folded.select("doc_id", *cols).orderBy("doc_id")


def ngram_dup_coverage_sql() -> str:
    cols = ",\n       ".join(
        stable_round_sql(
            f"CAST(COALESCE(MAX(CASE WHEN p.n = {n} THEN p.cov END), 0) AS DOUBLE)"
            " / t.tok_chars",
            5,
        )
        + f" AS cov_dup{n}"
        for n in _COV_NS
    )
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, t,
         GREATEST(list_sum(list_transform(t, x -> length(x))), 1) AS tok_chars
  FROM (SELECT doc_id, {TOKENS_SQL} AS t FROM documents)),
grams AS MATERIALIZED (
  SELECT doc_id, tok_chars, gn.n AS n, gi.i AS i,
         array_to_string(t[gi.i : gi.i + gn.n - 1], ' ') AS gram
  FROM toks,
       UNNEST(generate_series(5, 10)) AS gn(n),
       UNNEST(generate_series(1, GREATEST(len(t) - gn.n + 1, 0))) AS gi(i)),
dup_starts AS (
  SELECT doc_id, tok_chars, n, i
  FROM (SELECT *, COUNT(*) OVER (PARTITION BY doc_id, n, gram) AS occ FROM grams)
  WHERE occ > 1),
covered AS (
  SELECT DISTINCT d.doc_id, d.tok_chars, d.n, p.pos
  FROM dup_starts d, UNNEST(generate_series(d.i, d.i + d.n - 1)) AS p(pos)),
per_n AS (
  SELECT c.doc_id, c.tok_chars, c.n,
         SUM(length(t.t[c.pos])) AS cov
  FROM covered c JOIN toks t ON c.doc_id = t.doc_id
  GROUP BY ALL)
SELECT t.doc_id,
       {cols}
FROM toks t LEFT JOIN per_n p ON t.doc_id = p.doc_id
GROUP BY t.doc_id, t.tok_chars
ORDER BY t.doc_id
"""


def length_outliers(docs: DataFrame, k: float = 3.0) -> DataFrame:
    """Robust per-source length-anomaly accounting: median and MAD
    (median absolute deviation) of document character length, and how
    many docs sit beyond k·MAD — the data-quality sweep that catches
    truncated shards and concatenation bugs where a mean/stddev gate
    is dragged by the outliers it is hunting.

    Exactness: median/MAD use exact interpolated percentile
    (Spark `percentile` == DuckDB `quantile_cont`, same linear
    interpolation on the same integer lengths — the midpoints are
    dyadic rationals, bit-identical in IEEE). Two grouped passes + one
    join; per-source state is two numbers, never row data."""
    lens = docs.select("source", F.length("text").cast("long").alias("len"))
    med = lens.groupBy("source").agg(
        F.expr("percentile(len, 0.5)").alias("med_len"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    dev = (
        lens.join(med, "source")
        .select("source", "med_len", "n_docs", F.abs(F.col("len") - F.col("med_len")).alias("ad"))
    )
    mad = dev.groupBy("source", "med_len", "n_docs").agg(
        F.expr("percentile(ad, 0.5)").alias("mad_len")
    )
    out = (
        lens.join(mad, "source")
        .withColumn(
            "is_out",
            (
                F.abs(F.col("len") - F.col("med_len"))
                > F.lit(float(k)) * F.col("mad_len")
            ).cast("int"),
        )
        .groupBy("source", "med_len", "mad_len", "n_docs")
        .agg(F.sum("is_out").cast("long").alias("n_outliers"))
    )
    return out.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("med_len").cast("double").alias("med_len"),
        F.col("mad_len").cast("double").alias("mad_len"),
        "n_outliers",
    ).orderBy("source")


def length_outliers_sql(k: float = 3.0) -> str:
    return f"""
WITH lens AS (SELECT source, CAST(length(text) AS BIGINT) AS len FROM documents),
med AS (
  SELECT source, quantile_cont(len, 0.5) AS med_len, COUNT(*) AS n_docs
  FROM lens GROUP BY source
),
mad AS (
  SELECT l.source, med_len, n_docs,
         quantile_cont(abs(l.len - med_len), 0.5) AS mad_len
  FROM lens l JOIN med USING (source)
  GROUP BY l.source, med_len, n_docs
)
SELECT m.source,
       CAST(m.n_docs AS BIGINT) AS n_docs,
       CAST(m.med_len AS DOUBLE) AS med_len,
       CAST(m.mad_len AS DOUBLE) AS mad_len,
       CAST(SUM(CASE WHEN abs(l.len - m.med_len) > {float(k)} * m.mad_len
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM lens l JOIN mad m USING (source)
GROUP BY m.source, m.n_docs, m.med_len, m.mad_len
ORDER BY m.source
"""


def source_kl_drift(docs: DataFrame) -> DataFrame:
    """Sequential vocabulary drift per source — consumed in source-name
    order, how far has each source's token distribution moved from
    everything ingested before it? KL(source ‖ history) restricted to
    the source's own support, with add-one smoothing on the history
    side over the union vocabulary — the distribution-shift companion
    to the set-freshness [[source_novelty]] curve (novelty says "new
    shingles"; drift says "different MIX"). First source has no
    history → NULL.

    Shape: one token explode + groupBy(src, term) — the vocab-build
    shuffle, O(distinct (src,term)) rows; the per-term history count
    is ONE cumulative window PARTITIONED BY TERM (same key as the
    vocab build, exchange reused — never a global window); per-source
    scalars (token totals, cumulative vocab) come from a triangular
    self-join of the sources-sized relation (broadcast, n_sources²
    rows). Cross-engine determinism: the ln is quantized ONCE to
    BIGINT micro-units (the idf discipline), per-term contributions
    c·ln_micro accumulate in DECIMAL(38,0) — exact and
    order-independent — and the single divide happens at the output
    boundary."""
    from pyspark.sql.window import Window

    counts = (
        docs.select(F.col("source").alias("src"), F.explode(F.expr(TOKENS)).alias("term"))
        .groupBy("src", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_hist = (
        Window.partitionBy("term")
        .orderBy("src")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_ch = counts.withColumn("ch", F.coalesce(F.sum("c").over(w_hist), F.lit(0)))

    per_src = counts.groupBy("src").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("vocab")
    )
    news = (
        counts.groupBy("term")
        .agg(F.min("src").alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("v_new"))
    )
    base = per_src.join(news, "src", "left").select(
        "src", "n", "vocab", F.coalesce("v_new", F.lit(0)).alias("v_new")
    )
    # cumulative history scalars via a triangular self-join of the
    # sources-sized relation — NOT a global (single-partition) window
    b = base.select(
        F.col("src").alias("bsrc"), F.col("n").alias("bn"), F.col("v_new").alias("bv")
    )
    scalars = (
        base.join(F.broadcast(b), F.col("bsrc") < F.col("src"), "left")
        .groupBy("src", "n", "vocab")
        .agg(
            F.coalesce(F.sum("bn"), F.lit(0)).alias("n_h"),
            F.coalesce(F.sum("bv"), F.lit(0)).alias("v_h"),
        )
    )

    ln_arg = (F.col("c").cast("double") * (F.col("n_h") + F.col("v_h")).cast("double")) / (
        F.col("n").cast("double") * (F.col("ch") + 1).cast("double")
    )
    ln_micro = F.floor(F.log(ln_arg) * F.lit(1e6) + F.lit(0.5)).cast("long")
    contrib = (F.col("c") * ln_micro).cast("decimal(38,0)")
    return (
        with_ch.join(F.broadcast(scalars), "src")
        .groupBy("src", "n", "vocab", "n_h", "v_h")
        .agg(F.sum(contrib).alias("ssum"))
        .select(
            F.col("src").alias("source"),
            F.col("n").cast("long").alias("n_tokens"),
            F.col("vocab").cast("long").alias("vocab"),
            F.col("n_h").cast("long").alias("n_hist_tokens"),
            F.col("v_h").cast("long").alias("hist_vocab"),
            F.when(
                F.col("n_h") > 0,
                stable_round(
                    F.col("ssum").cast("double") / (F.col("n").cast("double") * F.lit(1e6)),
                    9,
                ),
            ).alias("kl_drift"),
        )
        .orderBy("source")
    )


def source_kl_drift_sql() -> str:
    ln_arg = (
        "(CAST(c AS DOUBLE) * CAST(n_h + v_h AS DOUBLE)) / "
        "(CAST(n AS DOUBLE) * CAST(ch + 1 AS DOUBLE))"
    )
    ln_micro = f"CAST(floor(ln({ln_arg}) * 1000000.0 + 0.5) AS BIGINT)"
    kl = stable_round_sql("CAST(ssum AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)", 9)
    return f"""
WITH counts AS MATERIALIZED (
  SELECT source AS src, u.tok AS term, COUNT(*) AS c
  FROM (SELECT source, {TOKENS_SQL} AS t FROM documents), UNNEST(t) AS u(tok)
  GROUP BY 1, 2
),
with_ch AS (
  SELECT src, term, c,
         COALESCE(SUM(c) OVER (PARTITION BY term ORDER BY src
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ch
  FROM counts
),
per_src AS (SELECT src, SUM(c) AS n, COUNT(*) AS vocab FROM counts GROUP BY src),
news AS (
  SELECT src, COUNT(*) AS v_new
  FROM (SELECT term, MIN(src) AS src FROM counts GROUP BY term) GROUP BY src
),
base AS (
  SELECT p.src, p.n, p.vocab, COALESCE(w.v_new, 0) AS v_new
  FROM per_src p LEFT JOIN news w USING (src)
),
scalars AS (
  SELECT a.src, a.n, a.vocab,
         COALESCE(SUM(b.n), 0) AS n_h, COALESCE(SUM(b.v_new), 0) AS v_h
  FROM base a LEFT JOIN base b ON b.src < a.src
  GROUP BY 1, 2, 3
),
agged AS (
  SELECT src, n, vocab, n_h, v_h,
         -- guard: first source has no history -> ln(0); DuckDB raises
         -- where Spark's log() returns NULL, and the output CASE masks
         -- the row anyway
         SUM(CASE WHEN n_h > 0 THEN CAST(c * {ln_micro} AS DECIMAL(38,0)) END) AS ssum
  FROM (SELECT wc.src, wc.c, wc.ch, sc.n, sc.vocab, sc.n_h, sc.v_h
        FROM with_ch wc JOIN scalars sc USING (src)) w
  GROUP BY 1, 2, 3, 4, 5
)
SELECT src AS source,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(vocab AS BIGINT) AS vocab,
       CAST(n_h AS BIGINT) AS n_hist_tokens,
       CAST(v_h AS BIGINT) AS hist_vocab,
       CASE WHEN n_h > 0 THEN CAST({kl} AS DOUBLE) END AS kl_drift
FROM agged
ORDER BY source
"""


WINNOW_K = 4  # k-gram width of each fingerprint hash
WINNOW_W = 8  # winnowing window: one fingerprint per w consecutive grams


def winnow_fingerprints(docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W) -> DataFrame:
    """Robust winnowing fingerprints (Schleimer, Wilkerson & Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting",
    public literature — the MOSS scheme): hash every k-token gram,
    then in each sliding window of w consecutive gram hashes select
    the minimum, rightmost on ties. The selection guarantees that any
    shared run of ≥ w+k−1 tokens yields at least one SHARED
    fingerprint, with expected density 2/(w+1) — the property the
    whole-text [[doc_fingerprint]] digest and fixed-stride shingles
    both lack (robust to single-token edits and to alignment shift).
    Plagiarism/copy detection joins on fp; containment dedup uses the
    fingerprint sets as a cheap pre-filter.

    Shape: one narrow gram-hash explode (O(tokens) rows, 8-byte
    hashes), then ONE window pass partitioned by doc_id — the
    rightmost-min per window is a single max(struct(-h, pos)) window
    aggregate, no self-join, no shuffle beyond the doc_id
    repartition. Docs shorter than k+w−1 tokens have no full window
    and are excluded on both engines."""
    from transferdb_spark.ext.dedup import _h64
    from pyspark.sql.window import Window

    gram = _h64(f"concat_ws(' ', slice(toks, i, {k}))")
    grams = f"transform(sequence(1, size(toks) - {k} + 1), i -> {gram})"
    g = (
        docs.withColumn("toks", F.expr(TOKENS))
        .where(F.size("toks") >= k + w - 1)
        .select("doc_id", F.posexplode(F.expr(grams)).alias("g", "h"))
    )
    win = Window.partitionBy("doc_id").orderBy("g").rowsBetween(0, w - 1)
    sel = F.max(F.struct((-F.col("h")).alias("nh"), F.col("g").alias("p"))).over(win)
    cnt = F.count(F.lit(1)).over(win)
    return (
        g.select("doc_id", sel.alias("s"), cnt.alias("cnt"))
        .where(F.col("cnt") == w)  # full windows only
        .select(
            "doc_id",
            F.col("s.p").cast("int").alias("pos"),
            (-F.col("s.nh")).cast("long").alias("fp"),
        )
        .distinct()
        .orderBy("doc_id", "pos")
    )


def winnow_fingerprints_sql(k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    from transferdb_spark.ext.dedup import _h64_duck

    gram = _h64_duck(f"array_to_string(list_slice(toks, u.i, u.i + {k} - 1), ' ')")
    return f"""
WITH tk AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
g AS MATERIALIZED (
  SELECT doc_id, u.i - 1 AS g, {gram} AS h
  FROM tk, UNNEST(generate_series(1, len(toks) - {k} + 1)) u(i)
  WHERE len(toks) >= {k} + {w} - 1
),
mx AS (SELECT doc_id, MAX(g) AS mg FROM g GROUP BY doc_id),
mem AS (
  SELECT a.doc_id, a.g AS j, b.g AS p, b.h
  FROM g a
  JOIN mx USING (doc_id)
  JOIN g b ON b.doc_id = a.doc_id AND b.g BETWEEN a.g AND a.g + {w} - 1
  WHERE a.g <= mx.mg - {w} + 1
),
sel AS (
  SELECT doc_id, j, p, h,
         row_number() OVER (PARTITION BY doc_id, j ORDER BY h ASC, p DESC) AS rn
  FROM mem
)
SELECT DISTINCT doc_id, CAST(p AS INT) AS pos, CAST(h AS BIGINT) AS fp
FROM sel WHERE rn = 1
ORDER BY doc_id, pos
"""


WINNOW_MIN_SHARED = 2  # pair audit threshold: ≥2 shared fingerprints


def winnow_neardup_pairs(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """MOSS-style copy detection end-to-end: doc pairs sharing at
    least ``min_shared`` winnowing fingerprints, with the shared count
    and each side's fingerprint total (containment numerators). By the
    winnowing guarantee every ≥ w+k−1-token verbatim overlap
    contributes a shared fingerprint, so sustained copying can't hide;
    density 2/(w+1) keeps the index ~4× smaller than full shingling at
    these parameters.

    Shape: the fingerprint relation from [[winnow_fingerprints]]
    (already ~2/(w+1) of gram count), distinct (doc, fp), one
    self-join keyed on the 8-byte fp — fan-out per fp bounded by its
    doc-frequency, the same posting-list bound the n-gram Jaccard
    index uses — then a pair groupBy with a HAVING gate."""
    fps = winnow_fingerprints(docs, k, w).select("doc_id", "fp").distinct().persist()
    totals = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = fps.alias("a"), fps.alias("b")
    # SHUFFLE_HASH self-join (round 10, §2.4/§3.1 — same move as the
    # rare-shingle Jaccard): identical cached sides shuffle on fp and
    # the second exchange is reused; no broadcast build, AQE
    # skew-splitting applies at scale where broadcast cannot.
    pairs = (
        a.join(b.hint("SHUFFLE_HASH"), "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    ta = totals.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_a"))
    tb = totals.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_b"))
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
        .orderBy("doc_a", "doc_b")
    )


def winnow_neardup_pairs_sql(
    k: int = WINNOW_K, w: int = WINNOW_W, min_shared: int = WINNOW_MIN_SHARED
) -> str:
    inner = winnow_fingerprints_sql(k, w).strip().rstrip()
    # reuse the fingerprint query as a CTE body (strip its ORDER BY)
    assert inner.endswith("ORDER BY doc_id, pos")
    inner = inner[: -len("ORDER BY doc_id, pos")]
    return f"""
WITH fpq AS MATERIALIZED ({inner}),
fps AS (SELECT DISTINCT doc_id, fp FROM fpq),
totals AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {min_shared}
)
SELECT p.doc_a, p.doc_b,
       CAST(p.n_shared AS BIGINT) AS n_shared,
       CAST(ta.n_fp AS BIGINT) AS n_a,
       CAST(tb.n_fp AS BIGINT) AS n_b
FROM pairs p
JOIN totals ta ON ta.doc_id = p.doc_a
JOIN totals tb ON tb.doc_id = p.doc_b
ORDER BY doc_a, doc_b
"""
