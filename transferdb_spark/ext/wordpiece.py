"""Distributed WordPiece trainer — the third tokenizer-training rung.

BPE (ext/bpe.py) merges the most FREQUENT pair; the unigram LM
(ext/unigram_lm.py) prunes a seed vocabulary top-down; WordPiece
(Schuster & Nakajima 2012, the BERT tokenizer) merges the pair with
the highest LIKELIHOOD GAIN:

    score(l, r) = count(l·r) / (count(l) · count(r))

over the current segmentation, with non-initial subwords carrying the
``##`` continuation prefix. Every BERT-family pipeline trains this;
an engine with two tokenizer trainers and not this one has a hole.

Cross-engine exactness (the lesson of bpe_train_merges vs
unigram_vocab): the score is a RATIONAL number, so instead of float
division the argmax orders by the integer-quantized

    score_q = (freq · 10^12) DIV (count(l) · count(r))

— integer floor division is bit-identical on Spark and DuckDB, so the
oracle is a full unrolled-CTE replay like BPE's, not a rows-only row.
Ties break (score_q DESC, freq DESC, l, r). The trainer computes
score_q on Python ints, exact at any freq. The DuckDB twin computes it
in BIGINT: freq·10^12 needs freq < 9.2·10^6 — fine for the gate
corpus; at 100-TB corpus scale the twin's expression moves to
DECIMAL(38,0) (documented here rather than paid everywhere).

Scale shape = the BPE trainer's: corpus → (word, cnt) once, the one
Spark action, collected once (vocabulary-sized by construction);
the merge loop runs in plain Python in `bpe.merge_words`, which
adds the per-symbol counts of the current segmentation as the score
denominators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from transferdb_spark.ext.bpe import merge_words, word_counts

SCORE_SCALE = 10**12


def _wp_join(left: str, right: str, _step: int) -> str:
    return left + (right[2:] if right.startswith("##") else right)


def train_wordpiece(
    docs: DataFrame, n_merges: int = 10, min_freq: int = 2
) -> list[tuple[str, str, int, int]]:
    """Learn ``n_merges`` WordPiece merges over the documents corpus;
    returns [(left, right, freq, score_q)] in merge order. The seed
    segmentation is one symbol per code point, every non-initial one
    carrying the ``##`` continuation prefix."""
    words = [
        ([w[0]] + ["##" + c for c in w[1:]], cnt)
        for w, cnt in word_counts(docs).collect()
    ]
    merges, _ = merge_words(
        words, n_merges, min_freq, _wp_join,
        score=lambda freq, lcnt, rcnt: freq * SCORE_SCALE // (lcnt * rcnt),
    )
    return merges


def train_wordpiece_df(
    docs: DataFrame, n_merges: int = 10, min_freq: int = 2
) -> DataFrame:
    """queries() shape: (rank, left, right, freq, score_q)."""
    spark = docs.sparkSession
    merges = train_wordpiece(docs, n_merges, min_freq)
    rows = [(i, l, r, f, s) for i, (l, r, f, s) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, freq long, score_q long"
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# DuckDB oracle — the BPE unrolled-CTE replay with the WordPiece score


def train_wordpiece_sql(n_merges: int = 10, min_freq: int = 2) -> str:
    """Full training replay as chained CTEs: per iteration, pair
    frequencies JOIN per-symbol counts, argmax by the SAME quantized
    integer score, greedy run-parity merge application (the
    gaps-and-islands encoding proven in bpe.train_merges_sql)."""
    parts = _wp_ctes(n_merges, min_freq)
    unions = "\nUNION ALL ".join(
        f'SELECT {k - 1} AS rank, l AS "left", r AS "right", '
        f"CAST(freq AS BIGINT) AS freq, CAST(score_q AS BIGINT) AS score_q FROM t{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\nSELECT * FROM ({unions}) ORDER BY rank"


def _wp_ctes(n_merges: int, min_freq: int) -> list[str]:
    from transferdb_spark.ext.text import TOKENS_SQL

    parts = [
        f"""wc AS (
  SELECT tok AS word, COUNT(*) AS cnt
  FROM (SELECT unnest({TOKENS_SQL}) AS tok FROM documents)
  WHERE length(tok) > 0 GROUP BY tok),
w0 AS MATERIALIZED (
  SELECT word AS wid, cnt, CAST(g.i AS INT) AS pos,
         CASE WHEN g.i = 1 THEN substr(word, 1, 1)
              ELSE '##' || substr(word, CAST(g.i AS INT), 1) END AS sym
  FROM wc, UNNEST(generate_series(1, length(word))) AS g(i))"""
    ]
    for k in range(1, n_merges + 1):
        prev = f"w{k - 1}"
        # w{k-1} is referenced THREE times per level (s/f/m) — DuckDB
        # inlines multi-referenced CTEs unless MATERIALIZED, which
        # would recompute the whole chain 3^k times
        parts.append(
            f"""s{k} AS (SELECT sym, SUM(cnt) AS scnt FROM {prev} GROUP BY sym),
f{k} AS (
  SELECT l, r, SUM(cnt) AS freq FROM (
    SELECT sym AS l, lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS r, cnt
    FROM {prev})
  WHERE r IS NOT NULL GROUP BY l, r),
t{k} AS (
  SELECT f.l, f.r, f.freq,
         (CAST(f.freq AS BIGINT) * {SCORE_SCALE}) // (sl.scnt * sr.scnt) AS score_q
  FROM f{k} f JOIN s{k} sl ON f.l = sl.sym JOIN s{k} sr ON f.r = sr.sym
  WHERE f.freq >= {min_freq}
  ORDER BY score_q DESC, f.freq DESC, f.l, f.r LIMIT 1),
m{k} AS (
  SELECT w.wid, w.cnt, w.pos, w.sym,
         COALESCE(w.sym = t.l AND
           lead(w.sym) OVER (PARTITION BY w.wid ORDER BY w.pos) = t.r, FALSE) AS mt
  FROM {prev} w LEFT JOIN t{k} t ON TRUE),
k{k} AS (
  SELECT wid, cnt, pos, sym, mt,
         CASE WHEN mt THEN
           CAST(pos - MIN(pos) OVER (PARTITION BY wid, mt, grp) AS INT) % 2 = 0
         ELSE FALSE END AS keepm
  FROM (SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY wid, mt ORDER BY pos) AS grp
        FROM m{k})),
w{k} AS MATERIALIZED (
  SELECT wid, cnt, CAST(ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos) AS INT) AS pos,
         CASE WHEN keepm THEN
           sym || (CASE WHEN nxt LIKE '##%' THEN substr(nxt, 3) ELSE nxt END)
         ELSE sym END AS sym
  FROM (SELECT *, lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt,
               COALESCE(lag(keepm) OVER (PARTITION BY wid ORDER BY pos), FALSE) AS pkeep
        FROM k{k})
  WHERE NOT pkeep)"""
        )
    return parts
