"""Distributed BPE merge training over the `documents` corpus.

The canonical tokenizer-training loop (Sennrich-style byte-pair
encoding): count symbol-pair frequencies over the corpus, merge the
most frequent pair, repeat. Every LLM data pipeline runs some form of
this before tokenized text exists at all — `ext/text.py` counts
BPE-ish tokens, this module TRAINS the merge table those counts
presuppose.

Scale shape (100 TB of text):
- The corpus collapses to a (word, count) frequency table first — ONE
  groupBy over the tokenized corpus, the one Spark action a trainer runs.
  The table is vocabulary-sized by construction (distinct words, not
  occurrences), so it is collected once.
- The merge loop then runs in plain Python over that table
  (`merge_words`, shared by the string, byte and WordPiece trainers and
  the length histogram), as Sennrich et al. and production BPE trainers
  do: each merge recounts adjacent-pair frequencies weighted by word
  count, takes the argmax and rewrites every word with a greedy
  left-to-right non-overlapping pass. The same loop as Spark jobs
  would pay a pair-count job and a materialisation per merge —
  O(merges) jobs over a table that fits in local memory.
- Merges are deterministic: ties break on the lexicographically
  smallest (left, right) pair, so two engines (and re-runs) produce
  identical merge tables. Python str order equals Spark's and DuckDB's
  UTF-8 binary order, and `list(word)` splits on code points like their
  `substring`.

Oracle: the merge loop is unrolled into chained DuckDB CTEs
(train_merges_sql — full hash-checked parity in the driver gate);
correctness is additionally pinned by a differential pytest against a
pure-Python reference implementation on the same corpus.
"""

from __future__ import annotations

from collections import Counter
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from transferdb_spark.ext.text import TOKENS
from transferdb_spark.ext.text import spread_narrow as _spread


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, cnt) frequency table — the one corpus-wide shuffle."""
    return (
        _spread(docs).select(F.explode(F.expr(TOKENS)).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_words(
    words: list[tuple[list, int]],
    n_merges: int,
    min_freq: int,
    join: Callable[[Any, Any, int], Any],
    score: Callable[[int, int, int], int] | None = None,
) -> tuple[list[tuple[Any, Any, int, int | None]], list[tuple[list, int]]]:
    """The merge loop over a collected (syms, cnt) word table.

    Each step sums pair frequencies over adjacent symbols weighted by
    cnt, drops pairs below ``min_freq`` (none left: stop) and takes the
    argmax — (freq desc, left, right), or with ``score`` (WordPiece:
    score(freq, count(left), count(right)) over per-symbol counts of the
    current segmentation) (score desc, freq desc, left, right). Every
    word is then rewritten with a greedy left-to-right non-overlapping
    pass that replaces (left, right) by ``join(left, right, step)``.

    Each merge recounts the whole table: O(merges · table symbols),
    plenty for the tens of merges the queries, pipeline and tests ask
    for. The next step for real vocabulary sizes (tens of thousands of
    merges) is an incremental pair index that updates only the counts
    of the words containing the merged pair.

    Returns ([(left, right, freq, score or None)], final word table)."""
    merges: list[tuple[Any, Any, int, int | None]] = []
    for step in range(n_merges):
        pair_freq: Counter = Counter()
        for syms, cnt in words:
            for pair in zip(syms, syms[1:]):
                pair_freq[pair] += cnt
        cands = [(freq, pair) for pair, freq in pair_freq.items() if freq >= min_freq]
        if not cands:
            break
        if score is None:
            q = None
            freq, (left, right) = min(cands, key=lambda c: (-c[0], c[1]))
        else:
            sym_freq: Counter = Counter()
            for syms, cnt in words:
                for s in syms:
                    sym_freq[s] += cnt
            q, freq, (left, right) = min(
                ((score(f, sym_freq[p[0]], sym_freq[p[1]]), f, p) for f, p in cands),
                key=lambda c: (-c[0], -c[1], c[2]),
            )
        merges.append((left, right, freq, q))
        new = join(left, right, step)
        words = [(_merge_pair(syms, left, right, new), cnt) for syms, cnt in words]
    return merges, words


def _merge_pair(syms: list, left, right, new) -> list:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(new)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_strings(docs: DataFrame, n_merges: int, min_freq: int):
    """String BPE over the code-point split of the collected word table."""
    words = [(list(w), cnt) for w, cnt in word_counts(docs).collect()]
    return merge_words(words, n_merges, min_freq, lambda l, r, _: l + r)


def train_merges(
    docs: DataFrame, n_merges: int = 10, min_freq: int = 2
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(left, right, freq)].

    Stops early when no pair reaches ``min_freq``.
    """
    merges, _ = _train_strings(docs, n_merges, min_freq)
    return [(l, r, f) for l, r, f, _ in merges]


def encoded_length_histogram(docs: DataFrame, n_merges: int = 5) -> DataFrame:
    """Tokenizer APPLY: symbolize the corpus vocabulary under the
    trained merge table and histogram symbols-per-word — the
    compression curve a tokenizer team reads before shipping a vocab
    (n_syms → distinct words at that length, corpus occurrences).

    The training loop's final word table IS the fully-merged
    symbolization, so the histogram is read off it locally."""
    _, words = _train_strings(docs, n_merges, min_freq=2)
    hist: dict[int, list[int]] = {}
    for syms, cnt in words:
        h = hist.setdefault(len(syms), [0, 0])
        h[0] += 1
        h[1] += cnt
    return docs.sparkSession.createDataFrame(
        [(n, w, o) for n, (w, o) in sorted(hist.items())],
        schema="n_syms int, n_words long, n_occurrences long",
    ).orderBy("n_syms")


def encoded_length_histogram_sql(n_merges: int = 5, min_freq: int = 2) -> str:
    """Oracle twin: the same unrolled merge CTEs, final select grouped
    on per-word symbol counts instead of the merge list."""
    parts = _merge_ctes(n_merges, min_freq)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(n_syms AS INT) AS n_syms,
       COUNT(*) AS n_words,
       CAST(SUM(cnt) AS BIGINT) AS n_occurrences
FROM (SELECT wid, MAX(pos) AS n_syms, MAX(cnt) AS cnt FROM w{n_merges} GROUP BY wid)
GROUP BY n_syms ORDER BY n_syms
"""
    )


def train_merges_sql(n_merges: int = 10, min_freq: int = 2) -> str:
    """DuckDB oracle for train_merges: the merge loop UNROLLED into
    chained CTEs (one pair-count + argmax + merge-apply block per
    iteration — n_merges is small, so full unrolling keeps the oracle
    pure SQL where a recursive CTE could not carry the per-step argmax).

    The greedy left-to-right pair merge is expressed relationally:
    symbols live as (word, pos, sym) rows; matched positions form
    gaps-and-islands runs, and greedy consumption = keeping alternating
    positions within each run (a kept match consumes its right symbol,
    which un-consumes the next, etc. — exactly run-parity). The merged
    rows concatenate sym||next, rows consumed by a kept left neighbour
    drop out, and positions re-densify for the next round. Ties break
    (freq DESC, l, r) in both engines."""
    parts = _merge_ctes(n_merges, min_freq)
    unions = "\nUNION ALL ".join(
        f'SELECT {k - 1} AS rank, l AS "left", r AS "right", '
        f"CAST(freq AS BIGINT) AS freq FROM t{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\nSELECT * FROM ({unions}) ORDER BY rank"


def _merge_ctes(n_merges: int, min_freq: int) -> list[str]:
    """Shared CTE chain: wc, w0, then (f/t/m/k/w){1..n}. m{k} LEFT
    JOINs the (possibly empty) argmax so an early-stopped training
    leaves w{k} = w{k-1} instead of an empty relation — parity with
    the Spark loop's break."""
    from transferdb_spark.ext.text import TOKENS_SQL

    parts = [
        f"""wc AS (
  SELECT tok AS word, COUNT(*) AS cnt
  FROM (SELECT unnest({TOKENS_SQL}) AS tok FROM documents)
  WHERE length(tok) > 0 GROUP BY tok),
w0 AS (
  SELECT word AS wid, cnt, CAST(g.i AS INT) AS pos,
         substr(word, CAST(g.i AS INT), 1) AS sym
  FROM wc, UNNEST(generate_series(1, length(word))) AS g(i))"""
    ]
    for k in range(1, n_merges + 1):
        prev = f"w{k - 1}"
        parts.append(
            f"""f{k} AS (
  SELECT l, r, SUM(cnt) AS freq FROM (
    SELECT sym AS l, lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS r, cnt
    FROM {prev})
  WHERE r IS NOT NULL GROUP BY l, r),
t{k} AS (SELECT l, r, freq FROM f{k} WHERE freq >= {min_freq}
         ORDER BY freq DESC, l, r LIMIT 1),
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
w{k} AS (
  SELECT wid, cnt, CAST(ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos) AS INT) AS pos,
         CASE WHEN keepm THEN sym || nxt ELSE sym END AS sym
  FROM (SELECT *, lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt,
               COALESCE(lag(keepm) OVER (PARTITION BY wid ORDER BY pos), FALSE) AS pkeep
        FROM k{k})
  WHERE NOT pkeep)"""
        )
    return parts


# ---------------------------------------------------------------------------
# Byte-level BPE (GPT-2-style): symbols are ints — 0..255 are raw
# UTF-8 bytes, merged symbols take ids 256, 257, ... in merge order.
# Training stops at ``vocab_size`` (the real tokenizer-training stop
# condition) or when no pair reaches ``min_freq``. Same local merge
# loop as the word-level trainer above, over int symbols, and there is
# no out-of-vocabulary symbol by construction (any byte sequence is
# encodable).
# ---------------------------------------------------------------------------

_ARR_INT = T.ArrayType(T.IntegerType())

# GPT-2's pre-tokenization pattern (public: Radford et al. 2019 /
# openai-gpt2 encoder.py): contractions, space-prefixed letter runs,
# space-prefixed number runs, space-prefixed punctuation runs, then
# whitespace (trailing-run lookahead keeps a final newline separate).
# Two renderings of the SAME pattern: Java regex for the Spark side
# (\p{L}/\p{Nd} property classes), Python stdlib re for the encode /
# differential side ([^\W\d_] is re's unicode-letter idiom). Parity
# notes: the punct class must explicitly re-admit '_' in Python
# (\w contains it, so a bare [^\s\w] silently DROPS underscores —
# characters matching no alternative vanish from re.findall); digits
# align on \p{Nd} == \d (upstream GPT-2 uses \p{N}, whose extra
# Nl/No members would land in different branches across the two
# engines — a deliberate, documented deviation on those rare chars).
GPT2_PRETOK_JAVA = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{Nd}+| ?[^\s\p{L}\p{Nd}]+|\s+(?!\S)|\s+"
GPT2_PRETOK_PY = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+|\s+(?!\S)|\s+"
)


def gpt2_pre_tokenize(text: str) -> list[str]:
    """Python-side GPT-2 pre-tokenization (covers every character:
    the alternatives partition the string)."""
    import re

    return re.findall(GPT2_PRETOK_PY, text)


def word_counts_gpt2(docs: DataFrame) -> DataFrame:
    """(token, cnt) under GPT-2 pre-tokenization — case-preserving and
    whitespace-carrying (' word' tokens), unlike the lowercased
    whitespace TOKENS split. JVM-side regexp_extract_all: the one
    corpus-wide shuffle, no Python in the scan."""
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all("text", F.lit(GPT2_PRETOK_JAVA), F.lit(0))
            ).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_bytes(
    docs: DataFrame,
    vocab_size: int = 280,
    min_freq: int = 2,
    pre_tokenizer: str = "whitespace",
) -> list[tuple[int, int, int, int]]:
    """Byte-level BPE training; returns [(left_id, right_id, new_id,
    freq)] with new_id assigned 256, 257, ... in merge order.

    Stops when the vocabulary (256 base bytes + merges) reaches
    ``vocab_size``, or earlier when no adjacent pair reaches
    ``min_freq`` — the stopping rule production tokenizer training
    uses (target vocab, not target merge count). Ties break on the
    numerically smallest (left, right), so re-runs and the pure-Python
    differential reference agree exactly.

    pre_tokenizer='whitespace' (default) trains over the lowercased
    whitespace word table; 'gpt2' trains over GPT-2 regex pre-tokens
    (case-preserving, leading-space-carrying — the real tokenizer
    training domain)."""
    if vocab_size <= 256:
        return []
    wc = word_counts_gpt2(docs) if pre_tokenizer == "gpt2" else word_counts(docs)
    words = [(list(w.encode("utf-8")), cnt) for w, cnt in wc.collect()]
    merges, _ = merge_words(words, vocab_size - 256, min_freq, lambda l, r, k: 256 + k)
    return [(l, r, 256 + k, f) for k, (l, r, f, _) in enumerate(merges)]


def vocab_tokens(merges: list[tuple[int, int, int, int]]) -> dict[int, bytes]:
    """symbol id -> byte string it expands to (base bytes + learned)."""
    vocab: dict[int, bytes] = {i: bytes([i]) for i in range(256)}
    for left, right, new_id, _ in merges:
        vocab[new_id] = vocab[left] + vocab[right]
    return vocab


def special_token_ids(
    merges: list[tuple[int, int, int, int]], special_tokens: list[str]
) -> dict[str, int]:
    """Assign ids to ADDED special tokens above the learned vocab
    (tokenizers-library convention): next free id after 256 base bytes
    and every merge-produced symbol, in the given order."""
    base = max([255] + [new_id for _, _, new_id, _ in merges]) + 1
    return {tok: base + i for i, tok in enumerate(special_tokens)}


def _make_text_encoder(
    ranks: dict,
    pre_tokenizer: str,
    specials: list[str],
    special_ids: dict[str, int] | None,
):
    """text -> list[int] encoder closure shared by the count and the
    id-sequence apply paths (one algorithm, two projections).

    ``ranks``: {(left, right): (rank, new_id)} from the merge table.
    ``specials`` must already be sorted longest-first; ``special_ids``
    maps each to its added-token id (required when specials given).
    """
    import re as _re

    def encode_word(word: bytes) -> list[int]:
        syms = list(word)
        while len(syms) > 1:
            best, at = None, -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r[0] < best[0]):
                    best, at = r, i
            if best is None:
                break
            # replace EVERY occurrence of this pair left-to-right
            # (matches training's greedy full-pass application)
            left, right = syms[at], syms[at + 1]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(best[1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def encode_ws(text: str) -> list[int]:
        # training merges never span whitespace (word_counts
        # pre-tokenizes), so rank-greedy over the full byte stream
        # decomposes exactly into per-word encoding + one base-byte
        # token per whitespace byte — same result, O(word) working
        # sets. lower() matches word_counts' TOKENS normalization, so
        # the apply path sees the distribution training saw. The
        # capturing split keeps each whitespace byte as its own
        # segment, preserving stream order for the id sequence.
        b = text.lower().encode("utf-8")
        out: list[int] = []
        for seg in _re.split(rb"(\s)", b):
            if not seg:
                continue
            if len(seg) == 1 and seg in b"\t\n\x0b\x0c\r ":
                out.append(seg[0])
            else:
                out.extend(encode_word(seg))
        return out

    def encode_gpt2(text: str) -> list[int]:
        # GPT-2 pre-tokens partition the text exactly; each token
        # is the training unit, so per-token encoding IS the
        # full-stream segmentation
        out: list[int] = []
        for t in gpt2_pre_tokenize(text):
            out.extend(encode_word(t.encode("utf-8")))
        return out

    encode = encode_gpt2 if pre_tokenizer == "gpt2" else encode_ws
    if not specials:
        return encode

    spec_re = "(" + "|".join(_re.escape(s) for s in specials) + ")"
    pat = _re.compile(spec_re)
    sids = special_ids or {}

    def encode_with_specials(text: str) -> list[int]:
        # alternation tries specials longest-first; capturing split
        # keeps the matched literals as segments
        out: list[int] = []
        for seg in pat.split(text):
            if not seg:
                continue
            if seg in sids:
                out.append(sids[seg])
            else:
                out.extend(encode(seg))
        return out

    return encode_with_specials


def encode_bytes_df(
    docs: DataFrame,
    merges: list[tuple[int, int, int, int]],
    pre_tokenizer: str = "whitespace",
    special_tokens: list[str] | None = None,
) -> DataFrame:
    """Tokenizer APPLY at corpus scale: (doc_id, n_bytes, n_tokens)
    under the trained byte-level merge table.

    The merge list is broadcast once (tokenizer tables are KBs); each
    Arrow batch encodes with the standard rank-greedy BPE algorithm —
    repeatedly merge the LOWEST-RANK pair present — which for a merge
    list produced by greedy training yields the same segmentation as
    replaying every merge in order, in O(word · merges-present) instead
    of O(word · total-merges).

    `special_tokens` are ADDED tokens (tokenizers-library semantics):
    the text splits on their literal occurrences FIRST (longest match
    wins when one special is a prefix of another), each occurrence
    costs exactly one token (`special_token_ids` maps them above the
    learned vocab), and BPE never merges across a special-token
    boundary — the split happens before pre-tokenization, so a
    document ending "…text<|endoftext|>" cannot leak the marker's
    bytes into a neighbouring merge."""
    spark = docs.sparkSession
    ranks_b = spark.sparkContext.broadcast(
        {(left, right): (i, new_id) for i, (left, right, new_id, _) in enumerate(merges)}
    )
    specials = sorted(special_tokens or [], key=len, reverse=True)
    sids = special_token_ids(merges, specials) if specials else None

    @pandas_udf(T.IntegerType())
    def n_tokens(texts: pd.Series) -> pd.Series:
        encode = _make_text_encoder(ranks_b.value, pre_tokenizer, specials, sids)
        return texts.map(lambda t: len(encode(t))).astype("int32")

    return docs.select(
        "doc_id",
        F.length(F.encode(F.col("text"), "UTF-8")).cast("int").alias("n_bytes"),
        n_tokens(F.col("text")).alias("n_tokens"),
    ).orderBy("doc_id")


def encode_ids_df(
    docs: DataFrame,
    merges: list[tuple[int, int, int, int]],
    pre_tokenizer: str = "whitespace",
    special_tokens: list[str] | None = None,
) -> DataFrame:
    """Tokenizer apply that EMITS the token-id sequence per document —
    (doc_id, n_tokens, token_ids array<int>) — the input the sequence
    packer consumes. Same broadcast merge table and rank-greedy
    algorithm as `encode_bytes_df` (one shared encoder closure), with
    the sequence kept instead of its length.

    Round-trip contract (pytest-pinned): concatenating
    `vocab_tokens(merges)[id]` over token_ids reconstructs the
    pre-tokenized byte stream exactly — `text.lower().encode()` for
    whitespace mode, `text.encode()` for gpt2 mode; added special
    tokens map to their single added id.

    Scale: token ids are ~4 bytes/token of Arrow batch traffic — the
    same order as the text itself; no shuffle is introduced (narrow
    projection)."""
    spark = docs.sparkSession
    ranks_b = spark.sparkContext.broadcast(
        {(left, right): (i, new_id) for i, (left, right, new_id, _) in enumerate(merges)}
    )
    specials = sorted(special_tokens or [], key=len, reverse=True)
    sids = special_token_ids(merges, specials) if specials else None

    @pandas_udf(_ARR_INT)
    def token_ids(texts: pd.Series) -> pd.Series:
        encode = _make_text_encoder(ranks_b.value, pre_tokenizer, specials, sids)
        return texts.map(encode)

    # per-row Python encode on an under-partitioned scan is the
    # textbook spread case (guide §2.5/§4 — same as the image-decode
    # pass): the sf-fixture documents scan is ONE row group, so the
    # encode otherwise runs on one core of 32. No-op when the scan
    # already has enough splits.
    docs = _spread(docs)
    return docs.select(
        "doc_id",
        token_ids(F.col("text")).alias("token_ids"),
    ).select(
        "doc_id",
        F.size("token_ids").alias("n_tokens"),
        "token_ids",
    )


def merges_frame(docs: DataFrame, n_merges: int = 10) -> DataFrame:
    """train_merges as a DataFrame (rank, left, right, freq) — the
    queries() surface for the driver's rows-only check."""
    spark = docs.sparkSession
    rows = [
        (i, l, r, f) for i, (l, r, f) in enumerate(train_merges(docs, n_merges))
    ]
    return spark.createDataFrame(
        rows, schema="rank int, left string, right string, freq long"
    ).orderBy("rank")
