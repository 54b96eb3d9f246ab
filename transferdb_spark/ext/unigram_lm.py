"""Distributed unigram-LM (SentencePiece-style) tokenizer training.

The second tokenizer-training rung next to ext/bpe.py: where BPE GROWS
a vocabulary bottom-up by merging frequent pairs, the unigram LM
(Kudo 2018, "Subword Regularization") SHRINKS a large seed vocabulary
top-down — score every candidate piece by its corpus log-likelihood,
re-segment the corpus with the scored vocabulary, and prune the
lowest-value pieces until the target size is reached. This is the
algorithm behind SentencePiece's default model; an LLM data pipeline
that trains tokenizers needs both rungs.

This implementation is the deterministic hard-EM (Viterbi) variant:
the E-step segments each word with the CURRENT scores (best-path DP),
the M-step recounts pieces from those segmentations. Determinism is
engineered end-to-end so a differential pytest can pin the trainer
against a pure-Python reference exactly:

- Piece counts are exact integers (weighted by word frequency).
- Log-probabilities are quantized ONCE, driver-side, to BIGINT
  micro-units (floor(ln(cnt/total)·1e6 + 0.5)) — the same
  ln-at-the-boundary discipline as BM25's idf (ext/retrieval.py). The
  Viterbi DP then maximizes an INTEGER sum, so best paths cannot
  depend on float addition order or libm ulp differences.
- DP ties keep the SHORTEST candidate piece (the l=1-first scan
  order), and vocabulary pruning ties break on (count DESC, piece
  ASC) — both rules are explicit and replicated by the reference.

Scale shape (100 TB of text):
- The corpus collapses to the (word, cnt) frequency table first (ONE
  corpus-wide shuffle, shared with the BPE trainer via
  bpe.word_counts); everything after iterates over DISTINCT words.
- Seeding explodes substrings (≤ max_piece_len per start) of distinct
  words — bounded by Σ|word|·L over unique words, never the corpus —
  into a map-side-combined groupBy(piece).
- Each EM iteration: the model (≤ seed vocab rows) is collected
  driver-side — model-sized, the classifier-weights/BPE-argmax
  precedent — and shipped to an Arrow-batched pandas UDF closure that
  Viterbi-segments each word; new counts are one groupBy(piece) over
  the exploded segmentations.
- No oracle_sql twin: the scores pass through ln() on three engines
  (Spark driver / DuckDB) whose last-ulp behavior is not guaranteed
  to agree, and a micro-unit boundary flip would be a false FAIL. The
  gate records the rows-only check; exactness is pinned instead by
  the differential pytest (tests/test_ext.py), which shares the
  driver's own math.log.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from transferdb_spark.ext.bpe import word_counts

SCALE = 1_000_000
VOCAB_SIZE = 200
SEED_SIZE = 1000
MAX_PIECE_LEN = 4
ITERS = 3
PRUNE_FRAC = 0.25

_ARR_STR = T.ArrayType(T.StringType())


def _q(p: float) -> int:
    """ln-result → BIGINT micro-units (floor(x·1e6 + 0.5))."""
    return math.floor(p * SCALE + 0.5)


def _scores(counts: dict[str, int]) -> dict[str, int]:
    """piece → quantized log-prob, computed ONCE driver-side so the
    Spark path and the pure-Python reference share the same libm."""
    total = sum(counts.values())
    return {p: _q(math.log(c / total)) for p, c in counts.items() if c > 0}


def viterbi_segment(
    word: str, scores: dict[str, int], max_len: int = MAX_PIECE_LEN
) -> list[str]:
    """Best-path segmentation under integer piece scores.

    best[i] is the max score over segmentations of word[:i]; candidate
    pieces are scanned SHORTEST-FIRST and only a STRICTLY greater
    score replaces the incumbent, so ties keep the shortest piece.
    Unknown single characters score the UNK floor (min score − 1e6 —
    worse than any real piece, but segmentation never fails)."""
    n = len(word)
    if n == 0:
        return []
    unk = (min(scores.values()) if scores else 0) - SCALE
    NEG = float("-inf")
    best = [NEG] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0
    for i in range(1, n + 1):
        for l in range(1, min(max_len, i) + 1):
            piece = word[i - l : i]
            s = scores.get(piece)
            if s is None:
                if l > 1:
                    continue
                s = unk
            cand = best[i - l] + s
            if cand > best[i]:
                best[i] = cand
                back[i] = l
    out = []
    i = n
    while i > 0:
        l = back[i]
        out.append(word[i - l : i])
        i -= l
    out.reverse()
    return out


def _segment_udf(scores: dict[str, int], max_len: int):
    @pandas_udf(_ARR_STR)
    def seg(words: pd.Series) -> pd.Series:
        return words.map(lambda w: viterbi_segment(w, scores, max_len))

    return seg


def _seed_counts(words: DataFrame, max_len: int) -> DataFrame:
    """(piece, cnt): every substring of length 1..max_len of every
    distinct word, weighted by word frequency. Row-local double
    transform over positions; the explode fan-out is |word|·max_len
    per DISTINCT word."""
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.transform(
                F.sequence(i, F.least(F.length("word"), i + F.lit(max_len - 1))),
                lambda j: F.col("word").substr(i, j - i + F.lit(1)),
            ),
        )
    )
    return (
        words.select("cnt", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _prune(
    counts: dict[str, int], vocab_size: int, prune_frac: float
) -> dict[str, int]:
    """Keep every single character; shrink multi-char pieces by at
    most prune_frac per round, never below the target. Ties break on
    (cnt DESC, piece ASC)."""
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    multi = {p: c for p, c in counts.items() if len(p) > 1 and c > 0}
    target_multi = max(vocab_size - len(chars), 0)
    keep_multi = max(target_multi, int(math.floor(len(multi) * (1.0 - prune_frac))))
    kept = sorted(multi.items(), key=lambda t: (-t[1], t[0]))[:keep_multi]
    out = dict(chars)
    out.update(kept)
    return out


def train_unigram(
    docs: DataFrame,
    vocab_size: int = VOCAB_SIZE,
    seed_size: int = SEED_SIZE,
    max_piece_len: int = MAX_PIECE_LEN,
    iters: int = ITERS,
    prune_frac: float = PRUNE_FRAC,
) -> dict[str, tuple[int, int]]:
    """Hard-EM unigram-LM training; returns piece → (cnt, score_micro).

    The returned model holds the FINAL counts (from the last Viterbi
    re-segmentation) and their quantized log-probs."""
    # reused every iteration; fully materialized (only collects) before
    # this function returns, so the persist has a clean unpersist point
    # — no session-lifetime cache leak from registry callables.
    words = word_counts(docs).persist()
    try:
        seeds = _seed_counts(words, max_piece_len)
        # ---- seed: ALL single chars (coverage floor, alphabet-
        # bounded) + top multi-char substrings — ONE collect (round-9:
        # the two-branch form persisted seeds and ran two jobs over it;
        # a union of the char branch with the top-N multi branch is a
        # single model-sized job, and with only two consumers fused
        # into one action the persist bought nothing) ----------------
        seed_rows = (
            seeds.where(F.length("piece") == 1)
            .unionAll(
                seeds.where(F.length("piece") > 1)
                .orderBy(F.desc("cnt"), "piece")
                .limit(seed_size)
            )
            .collect()
        )
        counts = {r["piece"]: int(r["cnt"]) for r in seed_rows}

        # ---- EM: segment with current scores, recount, prune -------
        for _ in range(iters):
            scores = _scores(counts)
            seg = _segment_udf(scores, max_piece_len)
            new = (
                words.select("cnt", F.explode(seg(F.col("word"))).alias("piece"))
                .groupBy("piece")
                .agg(F.sum("cnt").alias("cnt"))
                .collect()  # model-sized: ≤ |vocab| rows
            )
            new_counts = {r["piece"]: int(r["cnt"]) for r in new}
            # unseen single chars keep count 0 semantics but stay in
            # the vocabulary (coverage guarantee)
            for p in counts:
                if len(p) == 1 and p not in new_counts:
                    new_counts[p] = 0
            counts = _prune(new_counts, vocab_size, prune_frac)
    finally:
        words.unpersist()

    # chars with zero final count would have no defined log-prob; they
    # keep the UNK floor semantics at encode time, so drop them from
    # the scored model but the encoder still never fails.
    scores = _scores(counts)
    return {p: (counts[p], scores[p]) for p in scores}


def unigram_vocab(
    docs: DataFrame,
    vocab_size: int = VOCAB_SIZE,
    seed_size: int = SEED_SIZE,
    max_piece_len: int = MAX_PIECE_LEN,
    iters: int = ITERS,
    prune_frac: float = PRUNE_FRAC,
) -> DataFrame:
    """(piece, cnt, score_micro) — the trained model as a relation,
    ordered by (score_micro DESC, piece): the registry/query surface
    of train_unigram."""
    spark = docs.sparkSession
    model = train_unigram(docs, vocab_size, seed_size, max_piece_len, iters, prune_frac)
    rows = [(p, c, s) for p, (c, s) in sorted(model.items())]
    out = spark.createDataFrame(rows, "piece string, cnt bigint, score_micro bigint")
    return out.orderBy(F.desc("score_micro"), "piece")
