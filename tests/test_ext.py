"""Extension operator tests: dedup, similarity, text, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from transferdb_spark.sources.registry import load_table

    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from transferdb_spark.sources.registry import load_table

    return load_table(spark, sf_dir, "embeddings")


def test_exact_dedup_finds_planted_dups(spark, docs):
    from transferdb_spark.ext.dedup import exact_dedup_groups

    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    groups = exact_dedup_groups(docs.unionByName(dup)).collect()
    assert len(groups) == 5
    assert all(g["group_size"] == 2 for g in groups)
    # canonical keeps the smallest id (the original)
    assert all(g["canonical_doc"] < 100000 for g in groups)


def test_minhash_lsh_catches_exact_dup(spark, docs):
    from transferdb_spark.ext.dedup import minhash_lsh_candidates

    dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    cands = minhash_lsh_candidates(docs.unionByName(dup))
    got = {(r["doc_a"], r["doc_b"]) for r in cands.collect()}
    originals = [r["doc_id"] for r in docs.limit(3).collect()]
    for o in originals:
        assert (o, o + 100000) in got  # identical docs always collide


def test_minhash_signature_stability(docs):
    from transferdb_spark.ext.dedup import NUM_HASHES, minhash_signatures

    s1 = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs.limit(20)).collect()}
    s2 = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs.limit(20)).collect()}
    assert s1 == s2  # deterministic across runs
    assert all(len(v) == NUM_HASHES for v in s1.values())


def test_ngram_jaccard_identical_is_one(spark, docs):
    from transferdb_spark.ext.dedup import ngram_jaccard_pairs

    dup = docs.limit(2).withColumn("doc_id", F.col("doc_id") + 100000)
    pairs = ngram_jaccard_pairs(docs.limit(2).unionByName(dup), threshold=0.99).collect()
    assert {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs} == {
        (r["doc_id"], r["doc_id"] + 100000, 1.0) for r in docs.limit(2).collect()
    }


def test_similarity_self_is_top(spark, emb):
    from transferdb_spark.ext.similarity import topk_bruteforce

    # plant an exact copy of vec 0 under a new id; it must rank #1 with cosine 1.0
    clone = emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(999999).cast("long"))
    top = topk_bruteforce(emb.unionByName(clone), query_vec_id=0, k=3).collect()
    assert top[0]["vec_id"] == 999999
    assert top[0]["cosine"] == 1.0


def test_lsh_bucket_determinism_and_recall(emb):
    from transferdb_spark.ext.similarity import lsh_buckets

    b1 = {r["vec_id"]: r["bucket"] for r in lsh_buckets(emb).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in lsh_buckets(emb).collect()}
    assert b1 == b2
    assert all(0 <= v < 16 for v in b1.values())


def test_lang_id_is_deterministic_and_total(docs):
    from transferdb_spark.ext.text import lang_id

    out = lang_id(docs).collect()
    assert len(out) == docs.count()
    assert all(r["lang_pred"] in ("en", "de", "es", "fr", "und") for r in out)


def test_multimodal_feature_extraction(spark):
    from media_fixtures import synthetic_media
    from transferdb_spark.ext.multimodal import FEATURE_DIM, extract_features

    media = synthetic_media(spark, n=32)
    feats = extract_features(media).collect()
    assert len(feats) == 32
    assert all(len(r["features"]) == FEATURE_DIM for r in feats)
    assert all(r["n_bytes"] >= 128 for r in feats)
    # determinism
    again = extract_features(synthetic_media(spark, n=32)).collect()
    assert [r["features"] for r in feats] == [r["features"] for r in again]


_UNSUPPORTED_MEDIA = {
    "png": b"\x89PNG\r\n\x1a\n" + bytes(24),
    "gif": b"GIF89a" + bytes(24),
    "tiff": b"II*\x00" + bytes(24),
    # progressive (SOF2) frame header: 8-bit, 8x8, one component
    "jpeg_sof2": b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00\xff\xd9",
    "mp4": b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00isommp41",
}


@pytest.mark.parametrize("fmt", sorted(_UNSUPPORTED_MEDIA))
def test_multimodal_decode_stub_raises(spark, fmt):
    """Formats without an in-repo codec raise NotImplementedError at
    the decode dispatch, and image_phashes quarantines them as NULL."""
    from transferdb_spark.ext.multimodal import MEDIA_SCHEMA, decode_image, image_phashes

    buf = _UNSUPPORTED_MEDIA[fmt]
    with pytest.raises(NotImplementedError):
        decode_image(buf)
    media = spark.createDataFrame(
        [(1, "image", buf, ("application/octet-stream", 8, 8, None))], MEDIA_SCHEMA
    )
    assert image_phashes(media).first()["phash"] is None


def test_ann_ivf_matches_bruteforce_topk(spark, sf_dir):
    """IVF with 4-of-16 probes must recover the true top-10 here (the
    fixture's neighbours share cells with the query)."""
    from transferdb_spark.ext.similarity import ann_topk_ivf, topk_bruteforce
    from transferdb_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ivf = {r["vec_id"]: r["cosine"] for r in ann_topk_ivf(emb, 0, 10).collect()}
    brute = {r["vec_id"]: r["cosine"] for r in topk_bruteforce(emb, 0, 10).collect()}
    # recall won't be perfect in general; assert the probed result is a
    # subset of the brute-force ranking extended to 3x depth
    deep = {r["vec_id"] for r in topk_bruteforce(emb, 0, 30).collect()}
    assert set(ivf) <= deep
    # and scores agree exactly where both found the same neighbour
    for v, c in ivf.items():
        if v in brute:
            assert brute[v] == c


def test_multimodal_feature_extraction_shapes(spark):
    from media_fixtures import synthetic_media
    from transferdb_spark.ext.multimodal import extract_features

    media = synthetic_media(spark, n=32)
    out = extract_features(media, fake=True).collect()
    assert len(out) == 32
    assert all(len(r["features"]) == 16 for r in out)
    # deterministic: same input bytes -> same features
    again = extract_features(synthetic_media(spark, n=32), fake=True).collect()
    assert [r["features"] for r in out] == [r["features"] for r in again]


def test_lsh_buckets_parameterized_planes(spark, sf_dir):
    """More planes → finer buckets, every vector still assigned."""
    from transferdb_spark.ext.similarity import lsh_buckets
    from transferdb_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    b4 = lsh_buckets(emb)
    b6 = lsh_buckets(emb, n_planes=6)
    assert b4.count() == n and b6.count() == n
    n4 = b4.select("bucket").distinct().count()
    n6 = b6.select("bucket").distinct().count()
    assert n4 <= 16 and n6 <= 64 and n6 > n4


def test_gopher_quality_rules_branch_coverage(spark):
    """Every Gopher rule flips on a purpose-built doc, and the DuckDB
    rendering agrees row-for-row (the fixture corpus never exercises
    the bullet/ellipsis line rules, so pin them here)."""
    import duckdb
    import pandas as pd

    from transferdb_spark.ext.text import LANG_STOPWORDS, gopher_quality, gopher_quality_sql

    # 64 words, mean length 5.0, stopword-rich
    good_words = ("the and is with people working together example " * 8).strip()
    cases = [
        (0, good_words, 1),  # passes all rules
        (1, "short text the and", 0),  # < 50 words
        (2, ("a b c d " * 20 + "the and").strip(), 0),  # mean word len < 3
        (3, good_words + " ###### ########## #####", 0),  # symbol ratio
        (4, "\n".join(["- " + good_words.split()[i % 9] for i in range(40)]) + "\n" + good_words, 0),  # bullets
        (5, "\n".join([good_words + "..."] * 3) + "\n" + good_words, 0),  # ellipsis lines
        (6, good_words + " " + " ".join(["123"] * 40), 0),  # alpha frac < 0.8
        (7, ("word waffle pelican trombone " * 15).strip(), 0),  # < 2 stopwords
    ]
    sdf = spark.createDataFrame(cases, "doc_id long, text string, want int")
    got = gopher_quality(sdf.drop("want")).toPandas().set_index("doc_id")
    for did, _, want in cases:
        assert got.loc[did, "keep"] == want, (did, dict(got.loc[did]))

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame([(d, t) for d, t, _ in cases], columns=["doc_id", "text"])
    )
    oracle = con.execute(gopher_quality_sql()).fetchdf().set_index("doc_id")
    for col in got.columns:
        assert list(got[col]) == list(oracle[col].astype(got[col].dtype)), col
    assert len(LANG_STOPWORDS["en"]) >= 8


def test_neardup_clusters_long_chain_logarithmic_rounds(spark):
    """An adversarial 1000-link path graph (diameter 999) would need
    999 rounds under plain min-label propagation — a hard availability
    cliff. The large-star/small-star engine must collapse it to one
    cluster in ≤ log₂(n)+c alternating rounds (Kiveris et al.'s bound),
    and a dense multi-cluster graph still resolves exactly."""
    import math

    from transferdb_spark.ext.dedup import neardup_clusters

    n = 1000
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = neardup_clusters(chain).collect()
    assert len(out) == n
    assert {r["cluster_id"] for r in out} == {0}
    assert neardup_clusters.last_rounds <= math.ceil(math.log2(n)) + 4, (
        neardup_clusters.last_rounds
    )

    # two clusters + a singleton-free disjoint triangle: exact labels
    edges = [(10, 11), (11, 12), (20, 21), (21, 22), (22, 20)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_id"] for r in neardup_clusters(df).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 22: 20}
    assert neardup_clusters.last_rounds <= 4


def test_ann_auto_planes_bound_bucket_occupancy(spark, emb):
    """Derived plane counts keep expected bucket occupancy near the
    target: derived_planes follows the clamp(ceil(log2(n/target)))
    formula, and the realized index at those plane counts has mean
    occupancy within 2× of target with no bucket holding the majority
    of the table (the 100 TB sizing contract)."""
    from pyspark.sql import functions as F

    from transferdb_spark.ext.similarity import (
        N_PLANES,
        ann_topk_lsh_auto,
        derived_planes,
        lsh_buckets,
    )

    # formula edges
    assert derived_planes(100, 4096) == N_PLANES  # small table: floor
    assert derived_planes(4096, 4096) == N_PLANES
    assert derived_planes(4097, 4096) == N_PLANES  # ceil(log2(~1)) < lo
    assert derived_planes(4096 * 32, 4096) == 5
    assert derived_planes(10**10, 4096) == 22  # ~10 TB of vectors
    assert derived_planes(10**12, 4096) == 24  # clamped at production hi

    n = emb.count()
    planes = derived_planes(n, target_bucket_rows=16, hi=12)
    assert planes > N_PLANES  # fixtures genuinely exercise the derivation

    hist = (
        lsh_buckets(emb, n_planes=planes)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    assert sum(r["cnt"] for r in hist) == n
    mean_occ = n / (1 << planes)
    assert mean_occ <= 2 * 16  # expected occupancy within 2× of target
    assert max(r["cnt"] for r in hist) < n / 2  # no majority bucket

    out = ann_topk_lsh_auto(emb, query_vec_id=0, k=10).collect()
    assert 0 < len(out) <= 10
    assert all(r["vec_id"] != 0 for r in out)


def test_wav_decode_and_audio_features(spark):
    """REAL audio path: PCM WAV parsed with struct, DSP features via
    numpy FFT — no audio library. The 440 Hz tone's energy must land
    in the right FFT band and duration/RMS must be exact."""
    import numpy as np

    from media_fixtures import synthetic_wav
    from transferdb_spark.ext.multimodal import MEDIA_SCHEMA, decode_wav, extract_features

    buf = synthetic_wav(freq_hz=440.0, ms=250, rate=8000)
    wave, rate = decode_wav(buf)
    assert rate == 8000 and len(wave) == 2000
    assert abs(float(np.sqrt((wave**2).mean())) - 0.5 / np.sqrt(2)) < 0.01

    media = spark.createDataFrame(
        [(1, "audio", buf, ("audio/wav", None, None, 250))], MEDIA_SCHEMA
    )
    row = extract_features(media, fake=False).first()
    f = row["features"]
    assert abs(f[0] - 0.25) < 1e-6  # duration sec
    assert abs(f[1] - 0.3535) < 0.01  # RMS of 0.5-amplitude sine
    # 440 Hz at rate 8000 over 12 rfft bands -> band index 440/(4000/12)=1
    band_energies = f[4:16]
    assert band_energies.index(max(band_energies)) == 1


def test_image_decode_resize_roundtrip(spark):
    """REAL image path: PPM and BMP decode to identical pixels."""
    import struct as _struct

    import numpy as np
    from media_fixtures import synthetic_ppm
    from transferdb_spark.ext.multimodal import decode_image

    ppm = synthetic_ppm(w=16, h=12, seed=3)
    px = decode_image(ppm)
    assert px.shape == (12, 16, 3)

    # build a BMP of the same pixels (bottom-up, BGR, padded rows)
    h, w = px.shape[:2]
    stride = (w * 3 + 3) & ~3
    body = b"".join(
        px[r, :, ::-1].tobytes() + b"\x00" * (stride - w * 3) for r in range(h - 1, -1, -1)
    )
    bmp = (
        b"BM"
        + _struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
        + body
    )
    assert np.array_equal(decode_image(bmp), px)


def test_bigram_lm_score_semantics(spark):
    """A repeated phrase scores higher (more predictable) than unique
    word salad; smoothing keeps unseen-prefix docs finite."""
    from transferdb_spark.ext.text import bigram_lm_score

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "en", "s", 22),
            (2, "the cat sat on the mat", "en", "s", 22),
            (3, "zq wv xk jm pl qn", "en", "s", 17),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in bigram_lm_score(docs).collect()}
    assert out[1]["n_bigrams"] == 5
    assert out[1]["lm_score"] == out[2]["lm_score"]
    assert out[1]["lm_score"] > out[3]["lm_score"]


def test_decontam_flags_eval_overlap(spark):
    """Docs sharing shingles with the eval slice are flagged with
    evidence counts; clean docs are not."""
    from transferdb_spark.ext.dedup import decontam_overlap

    eval_text = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (20, eval_text, "en", "s", 36),                      # eval (20 % 20 == 0)
            (1, "prefix words then alpha beta gamma delta", "en", "s", 40),  # contaminated
            (2, "completely unrelated text about pyspark engines", "en", "s", 48),  # clean
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r["doc_id"]: r for r in decontam_overlap(docs).collect()}
    assert 1 in rows and 2 not in rows and 20 not in rows
    assert rows[1]["n_shared_shingles"] >= 2 and rows[1]["n_eval_docs"] == 1


def test_pii_scrub_kernel(spark):
    """Counts and redaction on real PII shapes; untouched text passes
    through byte-identical."""
    from transferdb_spark.ext.text import pii_scrub

    rows = [
        (1, "mail bob.smith@corp.io or +1-555-0199, server 10.0.0.1 ok"),
        (2, "no pii here, not even 300.5 or a@b"),
        (3, "a@b.co then c.d-e@f.org twice"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ips"]) == (1, 1, 1)
    assert out[1]["redacted"] == "mail <EMAIL> or <PHONE>, server <IP> ok"
    assert (out[2]["n_emails"], out[2]["n_phones"], out[2]["n_ips"]) == (0, 0, 0)
    assert out[2]["redacted"] == rows[1][1]
    assert out[3]["n_emails"] == 2 and out[3]["redacted"] == "<EMAIL> then <EMAIL> twice"


def test_repetition_stats_semantics(spark):
    """dup_ratio and top_token_frac on a hand-computable doc."""
    from transferdb_spark.ext.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "w x y z")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["n_tokens"] == 4 and out[1]["distinct_tokens"] == 2
    assert out[1]["dup_ratio"] == 0.5 and out[1]["top_token_frac"] == 0.75
    assert out[2]["dup_ratio"] == 0.0 and out[2]["top_token_frac"] == 0.25


def test_doc_chunks_cover_and_overlap(spark, docs):
    """Chunk windows tile every document: starts advance by stride,
    every token index falls in >=1 chunk, short docs yield exactly one
    chunk, and chunk text is the corresponding token slice."""
    from transferdb_spark.ext.text import doc_chunks

    W, S = 32, 24
    sample = docs.limit(50)
    out = doc_chunks(sample, window=W, stride=S).collect()
    texts = {r["doc_id"]: r["text"] for r in sample.collect()}
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(texts)
    for did, chunks in by_doc.items():
        toks = texts[did].strip().lower().split()
        chunks.sort(key=lambda r: r["chunk_idx"])
        n = len(toks)
        for j, c in enumerate(chunks):
            assert c["chunk_idx"] == j
            assert c["start_tok"] == j * S
            assert c["n_chunk_tokens"] == min(W, n - j * S)
            assert c["chunk_text"] == " ".join(toks[j * S : j * S + W])
        # coverage: last chunk reaches the end of the doc
        last = chunks[-1]
        assert last["start_tok"] + last["n_chunk_tokens"] == n
        if n <= W:
            assert len(chunks) == 1


def test_doc_chunks_no_shuffle(spark, docs):
    from transferdb_spark.ext.text import doc_chunks

    plan = doc_chunks(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_doc_chunks_rejects_bad_params(docs):
    from transferdb_spark.ext.text import doc_chunks

    with pytest.raises(ValueError):
        doc_chunks(docs, window=0)
    with pytest.raises(ValueError):
        doc_chunks(docs, stride=0)


def test_bpe_train_matches_python_reference(spark, docs):
    """Differential: distributed BPE merges == pure-Python Sennrich
    reference on the same word counts (deterministic lexicographic
    tie-break)."""
    from collections import Counter

    from transferdb_spark.ext.bpe import train_merges

    sample = docs.limit(60)
    got = train_merges(sample, n_merges=8)

    wc = Counter()
    for r in sample.collect():
        for w in r["text"].strip().lower().split():
            if w:
                wc[w] += 1

    words = {w: list(w) for w in wc}
    want = []
    for _ in range(8):
        pc = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (l, r), freq = best
        if freq < 2:
            break
        want.append((l, r, freq))
        merged = l + r
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    assert got == want
    assert len(got) >= 3


def test_bpe_merges_frame_shape(spark, docs):
    from transferdb_spark.ext.bpe import merges_frame

    out = merges_frame(docs.limit(40), n_merges=4)
    rows = out.collect()
    assert [r["rank"] for r in rows] == list(range(len(rows)))
    assert all(r["freq"] >= 2 for r in rows)


def test_tokenizer_trainers_run_fixed_jobs_and_leak_no_cache(spark, docs):
    """Job-count and leak tripwire: the three trainers collect the word
    table once and run the merge loop in Python, so the Spark jobs
    of a call do not grow with the number of merges, and no call (nor
    the length histogram's frame) leaves a persisted RDD behind."""
    from transferdb_spark.ext.bpe import (
        encoded_length_histogram,
        train_bytes,
        train_merges,
    )
    from transferdb_spark.ext.wordpiece import train_wordpiece

    sc = spark.sparkContext
    sample = docs.limit(60)
    trainers = {
        "train_bytes": lambda k: train_bytes(sample, vocab_size=256 + k),
        "train_merges": lambda k: train_merges(sample, n_merges=k),
        "train_wordpiece": lambda k: train_wordpiece(sample, n_merges=k),
    }

    def persisted():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    def run(group, call):
        before = persisted()
        sc.setJobGroup(group, group)
        try:
            out = call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert persisted() == before, group
        # job ids reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    for name, train in trainers.items():
        few, jobs_few = run(f"tripwire-{name}-2", lambda: train(2))
        many, jobs_many = run(f"tripwire-{name}-12", lambda: train(12))
        assert len(few) == 2 and len(many) > 2, name
        assert 0 < jobs_many <= jobs_few, (name, jobs_few, jobs_many)

    before = persisted()
    assert encoded_length_histogram(sample, n_merges=12).collect()
    assert persisted() == before


def test_mulaw_wav_decode(spark):
    """G.711 mu-law WAV: compress a sine, wrap in RIFF fmt-tag-7,
    decode, and recover the waveform within mu-law quantization error."""
    import struct as _s

    import numpy as np

    from media_fixtures import mulaw_compress
    from transferdb_spark.ext.multimodal import decode_wav

    rate = 8000
    t = np.arange(rate // 4) / rate
    wave = (0.6 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
    payload = mulaw_compress(wave)
    fmt = _s.pack("<HHIIHH", 7, 1, rate, rate, 1, 8)
    wav = (
        b"RIFF" + _s.pack("<I", 4 + 8 + len(fmt) + 8 + len(payload)) + b"WAVE"
        + b"fmt " + _s.pack("<I", len(fmt)) + fmt
        + b"data" + _s.pack("<I", len(payload)) + payload
    )
    out, got_rate = decode_wav(wav)
    assert got_rate == rate and len(out) == len(wave)
    err = np.abs(out - wave)
    assert float(err.max()) < 0.03  # mu-law SNR bound at 0.6 amplitude
    assert float(np.corrcoef(out, wave)[0, 1]) > 0.999


def test_array_except_keeps_first_argument_order(spark):
    """Tripwire for dedup._reassemble_minus: array_except(sequence(1, n),
    cov) must return the surviving positions in ascending order. Spark
    does not document that array_except keeps its first argument's
    order; the span-dedup reassembly relies on it instead of sorting."""
    import numpy as np

    rng = np.random.default_rng(11)
    n = 5000
    removed = {
        doc: sorted(int(p) for p in rng.choice(n, size, replace=False) + 1)
        for doc, size in enumerate((1, 37, 900, 2500, 4999))
    }
    covered = spark.createDataFrame(
        [(d, p) for d, ps in removed.items() for p in ps], "doc_id int, pos int"
    ).repartition(7)
    cov = covered.groupBy("doc_id").agg(F.collect_set("pos").alias("cov"))
    kept = cov.select(
        "doc_id", F.array_except(F.sequence(F.lit(1), F.lit(n)), "cov").alias("kp")
    ).collect()
    assert len(kept) == len(removed)
    for r in kept:
        want = sorted(set(range(1, n + 1)) - set(removed[r["doc_id"]]))
        assert list(r["kp"]) == want, r["doc_id"]


def test_line_dedup_first_wins_and_reassembly(spark):
    """Global line dedup: repeated lines keep only the first
    occurrence (by doc, then position); docs reassemble in order;
    fully-deduped docs remain with empty text."""
    from transferdb_spark.ext.text import dedup_lines_global

    docs = spark.createDataFrame(
        [
            (1, "alpha\nfooter\nbeta"),
            (2, "footer\ngamma"),
            (3, "footer"),
            (4, "alpha\ndelta\nfooter"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines_global(docs).collect()}
    assert out[1]["clean_text"] == "alpha\nfooter\nbeta"
    assert out[2]["clean_text"] == "gamma" and out[2]["n_dropped"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    assert out[4]["clean_text"] == "delta" and out[4]["n_dropped"] == 2


def test_containment_catches_subset_docs(spark):
    """A short doc fully contained in a long one: Jaccard is low but
    containment(A in B) = 1.0 — exactly the quote/subset case the
    asymmetric score exists for."""
    from transferdb_spark.ext.dedup import containment_pairs, ngram_jaccard_rare_pairs

    long_text = " ".join(f"tok{i}" for i in range(40))
    short_text = " ".join(f"tok{i}" for i in range(10, 18))  # strict subset span
    docs = spark.createDataFrame(
        [(1, short_text), (2, long_text), (3, "совсем other words entirely unrelated")],
        "doc_id long, text string",
    )
    pairs = {(r["doc_a"], r["doc_b"]): r for r in containment_pairs(docs, 0.8).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["containment_a_in_b"] == 1.0
    assert pairs[(1, 2)]["containment_b_in_a"] < 0.5
    jac = ngram_jaccard_rare_pairs(docs, threshold=0.5).collect()
    assert not any(r["doc_a"] == 1 and r["doc_b"] == 2 for r in jac)  # jaccard misses it


def test_jpeg_roundtrip_psnr(spark):
    """Baseline JPEG codec: encode (4:4:4, Annex K tables) -> decode
    recovers smooth content above 35 dB PSNR; the decoder also handles
    images whose dimensions are not multiples of 8."""
    import numpy as np
    from jpeg_encoder import encode_jpeg
    from transferdb_spark.ext.jpeg import decode_jpeg

    xx, yy = np.meshgrid(np.linspace(0, 255, 45), np.linspace(0, 255, 37))
    img = np.stack([xx, yy, (xx + yy) / 2], axis=2).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert out.shape == img.shape
    err = out.astype(float) - img.astype(float)
    psnr = 10 * np.log10(255**2 / max((err**2).mean(), 1e-9))
    assert psnr > 35.0, psnr


def test_jpeg_truncated_stream_never_indexerrors(spark):
    """A truncated entropy segment must surface as a decode error (or a
    best-effort partial image), never a raw IndexError out of the bit
    reader — corpus ingestion meets torn files constantly."""
    import numpy as np
    import pytest
    from jpeg_encoder import encode_jpeg
    from transferdb_spark.ext.jpeg import decode_jpeg

    xx, yy = np.meshgrid(np.linspace(0, 255, 45), np.linspace(0, 255, 37))
    img = np.stack([xx, yy, (xx + yy) / 2], axis=2).astype(np.uint8)
    buf = encode_jpeg(img)
    for cut in (len(buf) - 3, len(buf) - 10, int(len(buf) * 0.75), int(len(buf) * 0.5)):
        try:
            out = decode_jpeg(buf[:cut])
            assert out.dtype == np.uint8 and out.ndim == 3  # partial decode OK
        except ValueError:
            pass  # explicit decode error OK
        except IndexError:
            pytest.fail(f"IndexError escaped decode_jpeg at cut={cut}")


def test_jpeg_decodes_real_world_files(spark):
    """Spec fidelity: JPEGs produced by other encoders (incl. a 4:2:0
    photo) decode at their declared dimensions with contentful stats."""
    import os

    import pytest as _pt

    from transferdb_spark.ext.multimodal import decode_image

    logo = (
        "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/"
        "test/imghdrdata/python.jpg"
    )
    if not os.path.exists(logo):
        _pt.skip("no sample JPEGs on this machine")
    px = decode_image(open(logo, "rb").read())
    assert px.shape == (16, 16, 3)
    assert float(px.std()) > 50  # contentful, not a zero-coefficient wash

    photo = (
        "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/doc/"
        "rust/html/embedded-book/assets/verify.jpeg"
    )
    if os.path.exists(photo):
        px2 = decode_image(open(photo, "rb").read())
        assert px2.shape[2] == 3 and px2.shape[0] > 100
        assert 10 < float(px2.std()) < 120


def test_jpeg_flows_through_spark_feature_path(spark):
    """JPEG media rides the mapInPandas feature-extraction path with
    REAL decode (fake=False) — the full Arrow batch -> decode ->
    feature kernel pipeline."""
    import numpy as np
    from jpeg_encoder import encode_jpeg
    from media_fixtures import encode_ppm
    from transferdb_spark.ext.multimodal import MEDIA_SCHEMA, extract_features

    xx, yy = np.meshgrid(np.linspace(0, 255, 32), np.linspace(0, 255, 24))
    img = np.stack([xx, yy, yy], axis=2).astype(np.uint8)
    media = spark.createDataFrame(
        [
            (1, "image", encode_jpeg(img), ("image/jpeg", 32, 24, None)),
            (2, "image", encode_ppm(img), ("image/x-portable-pixmap", 32, 24, None)),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in extract_features(media, fake=False).collect()}
    f1, f2 = np.array(rows[1]["features"]), np.array(rows[2]["features"])
    assert len(f1) == len(f2)
    # same pixels through lossy vs lossless codecs: features nearly equal
    assert float(np.abs(f1 - f2).max()) < 0.05


def test_byte_bpe_train_matches_python_reference(spark, docs):
    """Differential: distributed BYTE-level BPE (vocab-size stopping,
    int symbols, ids from 256) == a pure-Python byte-level reference
    on the same corpus; vocab expansion round-trips to byte strings."""
    from collections import Counter

    from transferdb_spark.ext.bpe import train_bytes, vocab_tokens

    sample = docs.limit(60)
    K = 10
    got = train_bytes(sample, vocab_size=256 + K)

    wc = Counter()
    for r in sample.collect():
        for w in r["text"].strip().lower().split():
            if w:
                wc[w.encode("utf-8")] += 1

    words = {w: list(w) for w in wc}
    want = []
    next_id = 256
    while next_id < 256 + K:
        pc = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (l, r), freq = best
        if freq < 2:
            break
        want.append((l, r, next_id, freq))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(next_id)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
        next_id += 1
    assert got == want
    assert len(got) == K  # corpus is rich enough to fill the vocab

    # vocab expansion: every learned token expands to the concatenation
    # of its parents' byte strings
    vocab = vocab_tokens(got)
    assert all(len(vocab[m[2]]) >= 2 for m in got)
    first = got[0]
    assert vocab[first[2]] == bytes([first[0]]) + bytes([first[1]])

    # vocab-size stopping: asking for fewer merges is a strict prefix
    assert train_bytes(sample, vocab_size=256 + 4) == got[:4]
    assert train_bytes(sample, vocab_size=256) == []


def test_byte_bpe_encode_matches_sequential_replay(spark, docs):
    """The broadcast rank-greedy apply must equal replaying every merge
    in training order over the same normalized byte stream."""
    from transferdb_spark.ext.bpe import encode_bytes_df, train_bytes

    sample = docs.limit(40)
    merges = train_bytes(sample, vocab_size=256 + 8)
    out = {r["doc_id"]: r for r in encode_bytes_df(sample, merges).collect()}
    assert len(out) == 40

    for r in sample.limit(8).collect():
        b = r["text"].lower().encode("utf-8")
        syms = list(b)
        for left, right, new_id, _ in merges:
            o, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    o.append(new_id)
                    i += 2
                else:
                    o.append(syms[i])
                    i += 1
            syms = o
        got = out[r["doc_id"]]
        assert got["n_tokens"] == len(syms), r["doc_id"]
        assert got["n_bytes"] == len(r["text"].encode("utf-8"))
        assert got["n_tokens"] <= got["n_bytes"]


def test_gpt2_pretokenizer_parity_and_training(spark, docs):
    """GPT-2 pre-tokenization: the JVM regex (Spark scan) and the
    Python rendering must tokenize the corpus identically (the
    alternatives partition every string), and byte-BPE training over
    the GPT-2 token table must match the pure-Python reference."""
    from collections import Counter

    from transferdb_spark.ext.bpe import (
        encode_bytes_df,
        gpt2_pre_tokenize,
        train_bytes,
        word_counts_gpt2,
    )

    # adversarial rows: underscores (Python \w contains _, so a naive
    # [^\s\w] punct class silently DELETES them — regression), mixed
    # symbol runs, contractions, digits
    extra = spark.createDataFrame(
        [
            (90001, "foo_bar snake_case_name __init__ a_1"),
            (90002, "it's we've 3_4 _ __ #_# x"),
        ],
        "doc_id long, text string",
    )
    sample = docs.limit(40).select("doc_id", "text").unionByName(extra)
    texts = [r["text"] for r in sample.collect()]

    # 1. engine parity: identical token multisets, and tokens
    # reconstruct the original text exactly (partition property —
    # nothing may vanish)
    want = Counter(t for x in texts for t in gpt2_pre_tokenize(x))
    got = Counter(
        dict((r["word"], r["cnt"]) for r in word_counts_gpt2(sample).collect())
    )
    assert got == want
    for x in texts:
        assert "".join(gpt2_pre_tokenize(x)) == x

    # 2. training differential vs pure-Python Sennrich over the same
    # byte sequences (case-preserving, space-carrying tokens)
    K = 8
    got_m = train_bytes(sample, vocab_size=256 + K, pre_tokenizer="gpt2")
    wc = Counter(t.encode("utf-8") for x in texts for t in gpt2_pre_tokenize(x))
    words = {w: list(w) for w in wc}
    want_m = []
    next_id = 256
    while next_id < 256 + K:
        pc = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        (l, r), freq = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if freq < 2:
            break
        want_m.append((l, r, next_id, freq))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(next_id)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
        next_id += 1
    assert got_m == want_m and len(got_m) == K

    # 3. encode under the gpt2 merges: per-doc token counts match a
    # pure-Python sequential merge replay over the pre-token streams
    out = {r["doc_id"]: r["n_tokens"] for r in encode_bytes_df(sample, got_m, pre_tokenizer="gpt2").collect()}
    for r in sample.limit(5).collect():
        syms = []
        for t in gpt2_pre_tokenize(r["text"]):
            s = list(t.encode("utf-8"))
            for left, right, new_id, _ in got_m:
                o, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                        o.append(new_id)
                        i += 2
                    else:
                        o.append(s[i])
                        i += 1
                s = o
            syms.extend(s)
        assert out[r["doc_id"]] == len(syms)


# ---------------------------------------------------------------------------
# SemDeDup: k-means + within-cluster cosine pruning (ext/semdedup.py)


def test_semdedup_kmeans_matches_numpy_reference(spark, emb):
    """Differential: the distributed Lloyd rounds (narrow Arrow assign →
    posexplode partial-agg → floor-div centroid update) must equal a
    sequential numpy replay of the same exact-integer recurrence."""
    import numpy as np

    from transferdb_spark.ext.semdedup import (
        ITERS,
        K,
        assign_clusters,
        kmeans_centroids,
    )
    from transferdb_spark.ext.similarity import QSCALE

    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    X = np.floor(
        np.array([r["embedding"] for r in rows], dtype=np.float64) * QSCALE + 0.5
    ).astype(np.int64)
    ids = np.array([r["vec_id"] for r in rows])

    C = X[np.argsort(ids)[:K]].copy()
    for _ in range(ITERS):
        S = (C * C).sum(axis=1)[None, :] - 2 * (X @ C.T)
        a = np.argmin(S, axis=1)
        for c in range(K):
            members = X[a == c]
            if len(members):
                # python floor-div per dim, matching the engine contract
                C[c] = np.array(
                    [int(s) // int(n) for s, n in zip(members.sum(axis=0), [len(members)] * 64)]
                )
    S = (C * C).sum(axis=1)[None, :] - 2 * (X @ C.T)
    want = dict(zip(ids.tolist(), np.argmin(S, axis=1).tolist()))

    got_c = kmeans_centroids(emb)
    assert np.array_equal(np.asarray(got_c), C)
    got = {r["vec_id"]: r["cluster"] for r in assign_clusters(emb, got_c).collect()}
    assert got == want


def test_semdedup_prune_properties(spark, emb):
    """Every dropped row names a lower-id keeper in the same cluster at
    cosine ≥ threshold, and a planted exact duplicate is always pruned
    against its original (cosine 1.0 survives quantization)."""
    from pyspark.sql import functions as F

    from transferdb_spark.ext.semdedup import THRESHOLD, semdedup_clusters, semdedup_prune

    dup = emb.filter(F.col("vec_id") < 3).withColumn("vec_id", F.col("vec_id") + 100000)
    both = emb.unionByName(dup)
    pruned = semdedup_prune(both).collect()
    by_id = {r["vec_id"]: r for r in pruned}
    assert all(r["kept_by"] < r["vec_id"] for r in pruned)
    assert all(r["cosine"] >= THRESHOLD for r in pruned)
    clusters = {r["vec_id"]: r["cluster"] for r in semdedup_clusters(both).collect()}
    for r in pruned:
        assert clusters[r["vec_id"]] == clusters[r["kept_by"]] == r["cluster"]
    for v in (100000, 100001, 100002):
        assert v in by_id and by_id[v]["cosine"] == 1.0


def test_semdedup_oracle_parity_small(spark, emb, sf_dir):
    """Spark vs DuckDB on the fixture: identical training replay →
    identical assignments and identical pruned row sets."""
    import duckdb

    from transferdb_spark.ext.semdedup import (
        semdedup_clusters,
        semdedup_clusters_sql,
        semdedup_prune,
        semdedup_prune_sql,
    )

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    got = {
        (r["vec_id"], r["cluster"], r["cluster_size"])
        for r in semdedup_clusters(emb).collect()
    }
    want = set(map(tuple, con.sql(semdedup_clusters_sql()).fetchall()))
    assert got == want
    gotp = {
        (r["vec_id"], r["cluster"], r["kept_by"], r["cosine"])
        for r in semdedup_prune(emb).collect()
    }
    wantp = set(map(tuple, con.sql(semdedup_prune_sql()).fetchall()))
    assert gotp == wantp


# ---------------------------------------------------------------------------
# DSIR importance resampling (ext/dsir.py)


def test_dsir_target_vocabulary_doc_ranks_first(spark):
    """A raw doc written in the target set's distinctive vocabulary must
    outscore raw docs written in the background vocabulary (the
    importance weight is positive exactly for buckets with excess
    target-side mass)."""
    from transferdb_spark.ext.dsir import TARGET_SOURCE, select_top

    tgt_text = "quasar spectra redshift doppler parallax"
    bg_text = "invoice shipment pallet freight customs duty ledger"
    rows = [(i, tgt_text, TARGET_SOURCE) for i in range(5)]
    rows += [(100 + i, bg_text, f"src{1 + i % 3}") for i in range(20)]
    rows.append((999, "redshift quasar parallax spectra", "srcX"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    top = select_top(docs, k=3).collect()
    assert top[0]["doc_id"] == 999 and top[0]["source"] == "srcX"
    assert top[0]["score"] > top[1]["score"]


def test_dsir_scores_exact_and_complete(spark, docs, sf_dir):
    """Oracle parity on the fixture plus invariants: every document is
    scored, target flags match the source column, and the integer
    fixed-point contract means Spark and DuckDB agree bit-for-bit."""
    import duckdb

    from transferdb_spark.ext.dsir import doc_scores, doc_scores_sql

    got = {
        (r["doc_id"], r["is_target"], r["n_grams"], r["score"])
        for r in doc_scores(docs).collect()
    }
    assert len(got) == docs.count()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = set(map(tuple, con.sql(doc_scores_sql()).fetchall()))
    assert got == want


def test_bpe_special_tokens_are_atomic(spark, docs):
    """Added special tokens cost exactly one token, never merge across
    their boundaries, and longest-match wins when one special prefixes
    another."""
    from pyspark.sql import functions as F

    from transferdb_spark.ext.bpe import (
        encode_bytes_df,
        special_token_ids,
        train_bytes,
    )

    merges = train_bytes(docs, vocab_size=280)
    sids = special_token_ids(merges, ["<|endoftext|>", "<|endoftext|>x"])
    assert min(sids.values()) > max(m[2] for m in merges)
    assert len(set(sids.values())) == 2

    sample = docs.limit(4).select("doc_id", "text")
    plain = {
        r["doc_id"]: r["n_tokens"]
        for r in encode_bytes_df(sample, merges).collect()
    }
    wrapped = sample.withColumn(
        "text", F.concat(F.col("text"), F.lit("<|endoftext|>"))
    )
    # without the special registered, the marker's bytes are encoded
    got_raw = {
        r["doc_id"]: r["n_tokens"] for r in encode_bytes_df(wrapped, merges).collect()
    }
    # with it, the marker costs exactly 1 on top of the plain encoding
    got_special = {
        r["doc_id"]: r["n_tokens"]
        for r in encode_bytes_df(
            wrapped, merges, special_tokens=["<|endoftext|>"]
        ).collect()
    }
    for d, n in plain.items():
        assert got_special[d] == n + 1
        assert got_raw[d] > got_special[d]

    # longest-first: "<|endoftext|>x" must match as ONE special, not
    # "<|endoftext|>" + encoded "x"
    one = spark.createDataFrame(
        [(1, "a<|endoftext|>xb")], "doc_id bigint, text string"
    )
    n_long = encode_bytes_df(
        one, merges, special_tokens=["<|endoftext|>", "<|endoftext|>x"]
    ).collect()[0]["n_tokens"]
    n_short = encode_bytes_df(
        one, merges, special_tokens=["<|endoftext|>"]
    ).collect()[0]["n_tokens"]
    # long variant: 'a' + special + 'b' = 3; short: 'a' + special + 'xb'
    assert n_long == 3
    assert n_short == 3 + 1  # 'x' and 'b' encode separately (no 'xb' merge)


def test_bm25_topk_matches_brute_force(spark, docs):
    """Differential: distributed BM25 == a pure-Python BM25 computed
    from collected tokens (same k1/b/idf quantization), including the
    top-k boundary and the (score DESC, doc_id) tie order."""
    import math

    from transferdb_spark.ext.retrieval import (
        B,
        DEFAULT_QUERY,
        IDF_SCALE,
        K1,
        bm25_topk,
    )

    got = bm25_topk(docs, k=15).collect()

    corpus = {
        r["doc_id"]: r["text"].strip().lower().split()
        for r in docs.select("doc_id", "text").collect()
    }
    n_docs = len(corpus)
    avgdl = sum(len(t) for t in corpus.values()) / n_docs
    terms = list(dict.fromkeys(DEFAULT_QUERY))
    df = {
        w: sum(1 for t in corpus.values() if w in t) for w in terms
    }
    scores = {}
    nt = {}
    for d, toks in corpus.items():
        s = 0.0
        matched = 0
        for w in terms:
            tf = toks.count(w)
            if tf == 0 or df[w] == 0:
                continue
            matched += 1
            idf_q = math.floor(
                math.log(1.0 + (n_docs - df[w] + 0.5) / (df[w] + 0.5)) * IDF_SCALE
                + 0.5
            )
            wgt = (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * (len(toks) / avgdl)))
            s += math.floor(idf_q * wgt / IDF_SCALE * 1e6 + 0.5) / 1e6
        if matched:
            scores[d] = round(s, 6)
            nt[d] = matched
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    assert [(r["doc_id"], r["n_terms"], round(r["score"], 6)) for r in got] == [
        (d, nt[d], s) for d, s in want
    ]


def test_bm25_rare_term_outranks_common(spark, docs):
    """The idf term must matter: querying only the rare token 'dup'
    ranks docs containing it with a higher per-hit score than a
    same-tf hit on a common token like 'merge'."""
    from transferdb_spark.ext.retrieval import bm25_topk

    rare = bm25_topk(docs, ("dup",), k=5).collect()
    common = bm25_topk(docs, ("merge",), k=5).collect()
    assert rare and common
    assert rare[0]["score"] > common[0]["score"]


def test_cluster_balanced_sample_quotas(spark, emb):
    """Every cluster contributes exactly min(ceil(sqrt(size)), size)
    vectors, hash-elected — and the subset is deterministic across
    invocations (input-order independence)."""
    import math

    from transferdb_spark.ext.semdedup import cluster_balanced_sample

    rows = cluster_balanced_sample(emb).collect()
    assert rows
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for cl, members in by_cluster.items():
        size = members[0]["cluster_size"]
        want = min(math.ceil(math.sqrt(size)), size)
        assert len(members) == want, (cl, size, len(members))
        assert all(m["quota"] == math.ceil(math.sqrt(size)) for m in members)
    again = cluster_balanced_sample(emb).collect()
    assert sorted(r["vec_id"] for r in again) == sorted(r["vec_id"] for r in rows)


def test_train_weights_diverged_raises_and_unpersists(spark):
    """A train whose weights go non-finite (here: lr=inf — the
    algebraic sigmoid's bounded gradient self-limits any finite lr)
    must fail LOUDLY with ArithmeticError — not crash later trying to
    parse CAST('inf' AS DOUBLE) — and the persisted feature relation
    must not leak past the call (the finally contract)."""
    import pytest as _pytest

    from transferdb_spark.ext.classifier import train_weights

    docs = spark.createDataFrame(
        [(1, "aa bb cc dd", "wiki"), (2, "zz yy xx ww", "web")],
        "doc_id long, text string, source string",
    )

    def cached():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = cached()
    with _pytest.raises(ArithmeticError, match="non-finite"):
        train_weights(docs, iters=3, lr=float("inf"))
    assert cached() == before  # no cache entry survived the failure


def test_quality_classifier_matches_numpy_reference(spark, docs):
    """Differential: distributed algebraic-sigmoid GD training == a
    pure-numpy replica (same hashing, quantization, iteration count),
    weight for weight; and the training loss strictly decreases over
    iterations on the fixture corpus."""
    import math

    import numpy as np

    from transferdb_spark.ext.classifier import (
        D,
        ITERS,
        LR,
        TARGET_SOURCE,
        train_weights,
    )
    from transferdb_spark.functions.hashing import HEX_DIGITS
    import hashlib

    got = {r["bucket"]: r["weight"] for r in train_weights(docs).collect()}

    def phash(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:HEX_DIGITS], 16)

    def q9(x: float) -> float:
        return math.floor(x * 1e9 + 0.5) / 1e9

    rows = docs.select("doc_id", "source", "text").collect()
    hits = {}  # doc_id -> (y, {bucket: x})
    for r in rows:
        toks = r["text"].strip().lower().split()
        feats: dict[int, int] = {}
        for t in toks:
            b = phash(t) % D
            feats[b] = feats.get(b, 0) + 1
        feats[D] = 1  # bias
        hits[r["doc_id"]] = (1 if r["source"] == TARGET_SOURCE else 0, feats)

    n = len(hits)
    w = np.zeros(D + 1)
    losses = []
    for _ in range(ITERS):
        grad = np.zeros(D + 1)
        loss = 0.0
        for y, feats in hits.values():
            # decimal-quantized contributions, exact like the engine
            z = sum(q9(w[b] * x) for b, x in sorted(feats.items()))
            z = float(z)
            s = 0.5 + z / (2.0 * (1.0 + abs(z)))
            err = s - float(y)
            loss += (s - y) ** 2
            for b, x in feats.items():
                grad[b] += q9(err * x)
        losses.append(loss / n)
        w -= LR * (grad / n)
    want = {b: math.floor(w[b] * 1e6 + 0.5) / 1e6 for b in range(D + 1)}

    assert set(got) == set(want)
    for b in got:
        assert got[b] == pytest.approx(want[b], abs=2e-6), (b, got[b], want[b])
    # algebraic-sigmoid GD actually learns on this corpus: monotone loss
    assert all(l2 < l1 for l1, l2 in zip(losses, losses[1:])), losses


def test_cms_heavy_hitters_one_sided_and_mergeable(spark, docs):
    """CMS guarantees: est >= exact for every probed term; the sketch
    built on the union of two disjoint halves equals cell-wise the sum
    of the two half-sketches (mergeability — why sketches scale)."""
    from transferdb_spark.ext.sketches import cms_heavy_hitters, cms_sketch

    hh = cms_heavy_hitters(docs).collect()
    assert hh and all(r["overestimate"] >= 0 for r in hh)

    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    whole = {(r["row"], r["col"]): r["cnt"] for r in cms_sketch(docs).collect()}
    sa = {(r["row"], r["col"]): r["cnt"] for r in cms_sketch(a).collect()}
    sb = {(r["row"], r["col"]): r["cnt"] for r in cms_sketch(b).collect()}
    merged: dict = {}
    for d in (sa, sb):
        for cell, c in d.items():
            merged[cell] = merged.get(cell, 0) + c
    assert merged == whole


def test_cms_heavy_hitters_matches_raw_occurrence_sketch(spark, docs):
    """Round-10 internals pin: cms_heavy_hitters now derives the sketch
    from the persisted exact-count relation (one tokenize pass); every
    reported est must equal the min over the term's DEPTH cells of the
    RAW-occurrence sketch (cms_sketch), i.e. the derivation is exact,
    not an approximation of the old two-pass form."""
    from transferdb_spark.ext.sketches import DEPTH, WIDTH, cms_heavy_hitters, cms_sketch
    from transferdb_spark.ext.text import TOKENS
    from transferdb_spark.functions.hashing import portable_hash64

    raw = {(r["row"], r["col"]): r["cnt"] for r in cms_sketch(docs).collect()}
    cell = {
        r["term"]: [
            (c, r[f"c{c}"]) for c in range(DEPTH)
        ]
        for r in docs.select(
            F.explode(F.expr(TOKENS)).alias("term")
        ).distinct().select(
            "term",
            *[
                F.pmod(portable_hash64(F.concat(F.lit(f"cms{c}:"), F.col("term"))), F.lit(WIDTH))
                .cast("int")
                .alias(f"c{c}")
                for c in range(DEPTH)
            ],
        ).collect()
    }
    for r in cms_heavy_hitters(docs, k=50).collect():
        want = min(raw[cells] for cells in cell[r["term"]])
        assert r["est"] == want, (r["term"], r["est"], want)


def test_hybrid_search_rerank_semantics(spark, docs, emb):
    """The hybrid result is exactly: BM25 top-N candidates, re-ranked
    by cosine — every returned doc must be in the lexical candidate
    set, ordered by cosine not by bm25."""
    from transferdb_spark.ext.retrieval import bm25_topk, hybrid_search_topk

    # candidate stage excludes the query doc from the CORPUS (so the
    # self-match never eats a candidate slot) — mirror that here
    cands = {r["doc_id"] for r in bm25_topk(docs, k=50, exclude_doc_id=0).collect()}
    got = hybrid_search_topk(docs, emb).collect()
    assert 0 not in {r["doc_id"] for r in got}
    assert len(got) == 10
    assert all(r["doc_id"] in cands for r in got)
    cosines = [r["cosine"] for r in got]
    assert cosines == sorted(cosines, reverse=True)
    bm = [r["bm25"] for r in got]
    assert bm != sorted(bm, reverse=True)  # rerank actually reordered


def test_retrieval_and_cms_on_adversarial_corpora(spark):
    """Seeded random corpora with edge content (empty text, whitespace
    runs, single-token docs, query terms absent entirely): BM25 still
    matches the brute-force reference and CMS stays one-sided."""
    import math
    import random

    from transferdb_spark.ext.retrieval import B, IDF_SCALE, K1, bm25_topk
    from transferdb_spark.ext.sketches import cms_heavy_hitters

    rng = random.Random(20260814)
    vocab = ["spark", "window", "merge", "dup", "zz", "q"]
    for trial in range(3):
        rows = []
        for d in range(40):
            kind = rng.random()
            if kind < 0.1:
                text = ""
            elif kind < 0.2:
                text = "   "
            elif kind < 0.3:
                text = rng.choice(vocab)
            else:
                text = "  ".join(
                    rng.choice(vocab) for _ in range(rng.randrange(1, 30))
                )
            rows.append((d, text))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = bm25_topk(docs, ("spark", "dup", "absent_term"), k=10).collect()

        import re

        # engine tokenization convention: split(trim(lower(text)), '\s+')
        # yields [''] for empty/whitespace-only text (dl=1), not []
        corpus = {d: re.split(r"\s+", t.strip().lower()) for d, t in rows}
        n = len(corpus)
        avgdl = sum(len(t) for t in corpus.values()) / n
        terms = ["spark", "dup", "absent_term"]
        df = {w: sum(1 for t in corpus.values() if w in t) for w in terms}
        scores, nt = {}, {}
        for d, toks in corpus.items():
            s, m = 0.0, 0
            for w in terms:
                tf = toks.count(w)
                if tf == 0:
                    continue
                m += 1
                idf_q = math.floor(
                    math.log(1.0 + (n - df[w] + 0.5) / (df[w] + 0.5)) * IDF_SCALE + 0.5
                )
                wgt = (tf * (K1 + 1.0)) / (
                    tf + K1 * (1.0 - B + B * (len(toks) / avgdl))
                )
                s += math.floor(idf_q * wgt / IDF_SCALE * 1e6 + 0.5) / 1e6
            if m:
                scores[d], nt[d] = round(s, 6), m
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        assert [(r["doc_id"], r["n_terms"], round(r["score"], 6)) for r in got] == [
            (d, nt[d], s) for d, s in want
        ], f"trial {trial}"

        hh = cms_heavy_hitters(docs, k=10).collect()
        assert all(r["overestimate"] >= 0 for r in hh), f"trial {trial}"


def test_bm25_phrase_counts_consecutive_only(spark):
    """Phrase tf counts CONSECUTIVE matches only — a doc with both
    words non-adjacent scores zero; overlapping repeats count each
    starting position; short docs never error."""
    from transferdb_spark.ext.retrieval import bm25_phrase_topk

    docs = spark.createDataFrame(
        [
            (1, "table scan merge table scan"),   # tf=2
            (2, "table merge scan"),              # non-adjacent: tf=0
            (3, "scan table"),                    # wrong order: tf=0
            (4, "table"),                         # shorter than phrase
            (5, ""),                              # empty
            (6, "x table scan y"),                # tf=1
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["tf"] for r in bm25_phrase_topk(docs, ("table", "scan")).collect()}
    assert got == {1: 2, 6: 1}


def test_bm25_proximity_boost_reorders(spark):
    """Two docs with IDENTICAL bags of the query terms: the one where
    the rare pair sits adjacent outranks the scattered one; a pair
    farther apart than PROX_WINDOW earns no boost (scores tie); docs
    with a single query term get the plain bag score."""
    from transferdb_spark.ext.retrieval import PROX_WINDOW, bm25_proximity_topk

    filler = " ".join(f"f{i}" for i in range(PROX_WINDOW + 2))
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {filler}"),            # adjacent: boost
            (2, f"alpha {filler} beta"),            # > window: no boost
            (3, f"beta {filler} alpha"),            # > window: no boost
            (4, f"alpha {filler} {filler}"),        # one term only
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bm25_proximity_topk(docs, ("alpha", "beta"), k=10).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["n_terms"] == 2 and got[4]["n_terms"] == 1
    # same dl + same tf everywhere for 1-3, so bag scores are equal;
    # only doc 1 carries the proximity term
    assert got[1]["score"] > got[2]["score"]
    assert got[2]["score"] == got[3]["score"]


def test_rrf_fusion_matches_python_reference(spark, docs, emb):
    """RRF == reference fusion computed in Python from the two top-N
    lists (rank = position in the deterministically ordered list),
    including docs present in only one list."""
    from transferdb_spark.ext.retrieval import RRF_K, bm25_topk, rrf_fusion_topk
    from transferdb_spark.ext.similarity import topk_bruteforce

    n, k = 20, 10
    lex = [r["doc_id"] for r in bm25_topk(docs, k=n, exclude_doc_id=0).collect()]
    sem = [r["vec_id"] for r in topk_bruteforce(emb, 0, k=n).collect()]
    expected = {}
    for rank, d in enumerate(lex, start=1):
        expected[d] = expected.get(d, 0.0) + 1.0 / (RRF_K + rank)
    for rank, d in enumerate(sem, start=1):
        expected[d] = expected.get(d, 0.0) + 1.0 / (RRF_K + rank)
    want = sorted(expected.items(), key=lambda t: (-round(t[1], 6), t[0]))[:k]

    got = rrf_fusion_topk(docs, emb, k=k).collect()
    assert [(r["doc_id"], r["rrf"]) for r in got] == [
        (d, round(v, 6)) for d, v in want
    ]
    for r in got:
        lr = lex.index(r["doc_id"]) + 1 if r["doc_id"] in lex else None
        sr = sem.index(r["doc_id"]) + 1 if r["doc_id"] in sem else None
        assert (r["lex_rank"], r["sem_rank"]) == (lr, sr)


def test_classifier_bigrams_separate_order_sensitive_classes(spark):
    """Classes with IDENTICAL unigram bags but different token ORDER:
    the unigram model scores every doc identically (cannot separate);
    the bigram model ranks every target doc above every non-target."""
    from transferdb_spark.ext.classifier import classifier_scores

    rows = []
    for i in range(8):
        rows.append((i, "src0", "a b a b a b"))
        rows.append((100 + i, "src1", "b a b a b a"))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    uni = classifier_scores(docs, bigrams=False).collect()
    assert len({r["score"] for r in uni}) == 1

    bi = classifier_scores(docs, bigrams=True).collect()
    t = [r["score"] for r in bi if r["y"] == 1]
    o = [r["score"] for r in bi if r["y"] == 0]
    assert len(t) == 8 and len(o) == 8
    assert min(t) > max(o)


def test_rrf_fusion_ann_uses_index_list(spark, docs, emb):
    """The ANN-fused RRF is exactly rrf fusion with the multi-probe
    LSH top-N as the semantic list: recompute the expected fusion in
    Python from the two source lists."""
    from transferdb_spark.ext.retrieval import RRF_K, bm25_topk, rrf_fusion_ann_topk
    from transferdb_spark.ext.similarity import ann_topk_multiprobe_auto

    n, k = 20, 10
    lex = [r["doc_id"] for r in bm25_topk(docs, k=n, exclude_doc_id=0).collect()]
    sem = [r["vec_id"] for r in ann_topk_multiprobe_auto(emb, 0, k=n).collect()]
    expected = {}
    for rank, d in enumerate(lex, start=1):
        expected[d] = expected.get(d, 0.0) + 1.0 / (RRF_K + rank)
    for rank, d in enumerate(sem, start=1):
        expected[d] = expected.get(d, 0.0) + 1.0 / (RRF_K + rank)
    want = sorted(expected.items(), key=lambda t: (-round(t[1], 6), t[0]))[:k]

    got = rrf_fusion_ann_topk(docs, emb, k=k).collect()
    assert [(r["doc_id"], r["rrf"]) for r in got] == [(d, round(v, 6)) for d, v in want]


def test_rrf_fusion_phrase_three_lists(spark, docs, emb):
    """Rung-4 fusion == Python reference over the THREE source lists
    (multi-phrase BM25, term BM25, multi-probe ANN), including docs
    present in only a subset of the lists and per-list rank columns."""
    from transferdb_spark.ext.retrieval import (
        RRF_K,
        bm25_multiphrase_topk,
        bm25_topk,
        rrf_fusion_phrase_topk,
    )
    from transferdb_spark.ext.similarity import ann_topk_multiprobe_auto

    n, k = 20, 10
    phr = [
        r["doc_id"]
        for r in bm25_multiphrase_topk(docs, k=n, exclude_doc_id=0).collect()
    ]
    lex = [r["doc_id"] for r in bm25_topk(docs, k=n, exclude_doc_id=0).collect()]
    sem = [r["vec_id"] for r in ann_topk_multiprobe_auto(emb, 0, k=n).collect()]
    expected = {}
    for lst in (phr, lex, sem):
        for rank, d in enumerate(lst, start=1):
            expected[d] = expected.get(d, 0.0) + 1.0 / (RRF_K + rank)
    want = sorted(expected.items(), key=lambda t: (-round(t[1], 6), t[0]))[:k]

    got = rrf_fusion_phrase_topk(docs, emb, k=k).collect()
    assert [(r["doc_id"], r["rrf"]) for r in got] == [
        (d, round(v, 6)) for d, v in want
    ]
    for r in got:
        pr = phr.index(r["doc_id"]) + 1 if r["doc_id"] in phr else None
        lr = lex.index(r["doc_id"]) + 1 if r["doc_id"] in lex else None
        sr = sem.index(r["doc_id"]) + 1 if r["doc_id"] in sem else None
        assert (r["phr_rank"], r["lex_rank"], r["sem_rank"]) == (pr, lr, sr)


def test_multiphrase_exclude_doc_removes_from_corpus(spark):
    """exclude_doc_id drops the doc BEFORE stats/df, matching the
    bm25_topk corpus-exclusion contract (df shifts, not just a
    post-filter of the hit list)."""
    from transferdb_spark.ext.retrieval import bm25_multiphrase_topk

    docs = spark.createDataFrame(
        [
            (0, "table scan table scan"),
            (1, "table scan filler words here"),
            (2, "no phrase at all in this one"),
        ],
        "doc_id long, text string",
    )
    base = bm25_multiphrase_topk(docs, (("table", "scan"),), k=10).collect()
    assert {r["doc_id"] for r in base} == {0, 1}
    excl = bm25_multiphrase_topk(
        docs, (("table", "scan"),), k=10, exclude_doc_id=0
    ).collect()
    assert {r["doc_id"] for r in excl} == {1}
    # with doc 0 gone, doc 1 is the only phrase-bearing doc of a
    # 2-doc corpus: df=1, n_docs=2 — score must differ from the
    # 3-doc/df=2 run, proving corpus-level (not post-hoc) exclusion
    s1_base = next(r["score"] for r in base if r["doc_id"] == 1)
    s1_excl = excl[0]["score"]
    assert s1_base != s1_excl


def test_viterbi_segment_rules():
    """DP semantics: strict-greater replacement (ties keep the
    shortest piece), unknown chars take the UNK floor, empty word."""
    from transferdb_spark.ext.unigram_lm import SCALE, viterbi_segment

    scores = {"a": -10, "b": -10, "ab": -15, "abc": -50, "c": -10}
    # "ab" (-15) beats "a"+"b" (-20)
    assert viterbi_segment("ab", scores) == ["ab"]
    # abc: best of abc(-50), ab+c(-25), a+b+c(-30) -> ab+c
    assert viterbi_segment("abc", scores) == ["ab", "c"]
    # tie: make ab == a+b; shortest-first scan keeps a+b
    t = {"a": -10, "b": -10, "ab": -20}
    assert viterbi_segment("ab", t) == ["a", "b"]
    # unknown char x: still segments, via the UNK floor
    got = viterbi_segment("axb", scores)
    assert got == ["a", "x", "b"]
    # UNK floor is worse than any real piece
    assert min(scores.values()) - SCALE < min(scores.values())
    assert viterbi_segment("", scores) == []


def test_unigram_lm_matches_python_reference(spark, docs):
    """Differential: the distributed trainer == a pure-Python
    reference (same seed/EM/prune rules) run over the collected
    corpus — every piece, count, and quantized score identical."""
    from collections import Counter

    from transferdb_spark.ext.text import TOKENS
    from transferdb_spark.ext.unigram_lm import (
        _prune,
        _scores,
        train_unigram,
        viterbi_segment,
    )

    kw = dict(vocab_size=120, seed_size=400, max_piece_len=4, iters=3)

    # ---- pure-Python reference over the collected token stream ----
    words = Counter()
    for r in docs.select(F.expr(TOKENS).alias("t")).collect():
        for w in r["t"]:
            if w:
                words[w] += 1
    seed = Counter()
    for w, c in words.items():
        for i in range(len(w)):
            for l in range(1, min(4, len(w) - i) + 1):
                seed[w[i : i + l]] += c
    chars = {p: c for p, c in seed.items() if len(p) == 1}
    multi = dict(
        sorted(
            ((p, c) for p, c in seed.items() if len(p) > 1),
            key=lambda t: (-t[1], t[0]),
        )[: kw["seed_size"]]
    )
    counts = dict(chars)
    counts.update(multi)
    for _ in range(kw["iters"]):
        scores = _scores(counts)
        new = Counter()
        for w, c in words.items():
            for piece in viterbi_segment(w, scores, kw["max_piece_len"]):
                new[piece] += c
        new_counts = dict(new)
        for p in counts:
            if len(p) == 1 and p not in new_counts:
                new_counts[p] = 0
        counts = _prune(new_counts, kw["vocab_size"], 0.25)
    scores = _scores(counts)
    want = {p: (counts[p], scores[p]) for p in scores}

    got = train_unigram(docs, **kw)
    assert got == want
    assert len(got) <= max(kw["vocab_size"], len([p for p in got if len(p) == 1]))


def test_positional_postings_probe_equals_build(spark, docs):
    """The probe shape (row-local, terms given) and the build shape
    (posexplode + groupBy, full index) agree exactly on the probed
    terms — same (term, doc_id, dl, sorted 1-based positions)."""
    from transferdb_spark.ext.retrieval import positional_postings

    terms = ("table", "scan", "window")
    probe = {
        (r["term"], r["doc_id"]): (r["dl"], list(r["positions"]))
        for r in positional_postings(docs, terms=terms).collect()
    }
    full = {
        (r["term"], r["doc_id"]): (r["dl"], list(r["positions"]))
        for r in positional_postings(docs)
        .where(F.col("term").isin(*terms))
        .collect()
    }
    assert probe == full
    assert probe  # fixture corpus contains the terms
    assert all(p == sorted(p) and p[0] >= 1 for _, (_, p) in probe.items())


def test_bm25_multiphrase_rules(spark):
    """Adjacency, per-phrase df/tf, and decimal-exact summation: a
    single-phrase call must equal bm25_phrase_topk's score column,
    and a two-phrase call sums per-phrase contributions with
    n_phrases counting matched phrases only."""
    from transferdb_spark.ext.retrieval import bm25_multiphrase_topk, bm25_phrase_topk

    docs = spark.createDataFrame(
        [
            (1, "table scan merge table scan"),
            (2, "table merge scan window merge"),
            (3, "scan table window merge"),
            (4, "table scan window merge"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    single = {
        r["doc_id"]: r["score"]
        for r in bm25_phrase_topk(docs, ("table", "scan")).collect()
    }
    got1 = {
        r["doc_id"]: (r["n_phrases"], r["score"])
        for r in bm25_multiphrase_topk(docs, (("table", "scan"),)).collect()
    }
    assert {d: s for d, (_, s) in got1.items()} == single
    assert all(n == 1 for n, _ in got1.values())

    both = {
        r["doc_id"]: (r["n_phrases"], r["score"])
        for r in bm25_multiphrase_topk(
            docs, (("table", "scan"), ("window", "merge"))
        ).collect()
    }
    ws = {
        r["doc_id"]: r["score"]
        for r in bm25_phrase_topk(docs, ("window", "merge")).collect()
    }
    assert set(both) == set(single) | set(ws)
    for d, (n, s) in both.items():
        assert n == (d in single) + (d in ws)
        assert s == pytest.approx(single.get(d, 0.0) + ws.get(d, 0.0), abs=2e-6)

    with pytest.raises(ValueError):
        bm25_multiphrase_topk(docs, ())
    with pytest.raises(ValueError):
        bm25_multiphrase_topk(docs, ((" ",),))


def test_bm25_slop_phrase_semantics(spark, docs):
    """slop=0 == the consecutive-match scorer (greedy chain reaching
    p+m-1 forces every gap to 1); growing slop only ADDS hits; the
    window bound is exact (first-to-last distance m-1+slop)."""
    from transferdb_spark.ext.retrieval import (
        bm25_phrase_topk,
        bm25_slop_phrase_topk,
    )

    phrase = ("table", "scan")
    exact = {
        r["doc_id"]: r["tf"]
        for r in bm25_phrase_topk(docs, phrase, k=10**6).collect()
    }
    slop0 = {
        r["doc_id"]: r["tf"]
        for r in bm25_slop_phrase_topk(docs, phrase, slop=0, k=10**6).collect()
    }
    assert slop0 == exact and exact

    s2 = {
        r["doc_id"]: r["tf"]
        for r in bm25_slop_phrase_topk(docs, phrase, slop=2, k=10**6).collect()
    }
    assert set(s2) >= set(slop0)
    assert all(s2[d] >= tf for d, tf in slop0.items())

    tiny = spark.createDataFrame(
        [
            (1, "a x b x c"),      # chain 1->3->5: span 4 = 2+slop(2)
            (2, "a x x b c"),      # chain 1->4->5: span 4
            (3, "a b x x c"),      # chain 1->2->5: span 4
            (4, "a x x x b c"),    # span 5 > 4: no hit at slop=2
            (5, "c b a"),          # wrong order
            (6, "a b c a x b x c"),  # two starts: spans 2 and 4
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["tf"]
        for r in bm25_slop_phrase_topk(tiny, ("a", "b", "c"), slop=2, k=100).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 6: 2}
    with pytest.raises(ValueError):
        bm25_slop_phrase_topk(tiny, ("a", "b"), slop=-1)


def test_multiphrase_probes_materialized_index(spark, docs, tmp_path):
    """Build-once/probe-many: a full positional index written to
    parquet and read back yields byte-identical multi-phrase results
    to the row-local probe path."""
    from transferdb_spark.ext.retrieval import (
        bm25_multiphrase_topk,
        positional_postings,
    )

    p = str(tmp_path / "postings")
    positional_postings(docs).write.parquet(p)
    idx = spark.read.parquet(p)

    phrases = (("table", "scan"), ("window", "merge"))
    via_probe = bm25_multiphrase_topk(docs, phrases).collect()
    via_index = bm25_multiphrase_topk(docs, phrases, index=idx).collect()
    assert [tuple(r) for r in via_index] == [tuple(r) for r in via_probe]


def test_rm3_expansion_changes_ranking(spark, docs):
    """RM3: expansion terms are elected from the BM25 feedback docs by
    integer relevance-model weight (no originals, no short tokens),
    and the expanded query surfaces docs the literal query missed —
    while lam=0 degenerates to plain BM25 ordering."""
    from transferdb_spark.ext.retrieval import (
        bm25_topk,
        rm3_bm25_topk,
        rm3_expansion_terms,
    )

    q = ("table", "scan")
    exp = rm3_expansion_terms(docs, q, n_fb=5, n_exp=4)
    assert 0 < len(exp) <= 4
    assert all(len(w) >= 3 and w not in q for w in exp)

    plain = [r["doc_id"] for r in bm25_topk(docs, q, k=10).collect()]
    rm3 = rm3_bm25_topk(docs, q, n_fb=5, n_exp=4, k=10).collect()
    assert [r["doc_id"] for r in rm3] != plain  # expansion reordered

    # lam=0: expansion contributions vanish -> plain BM25 ranking (the
    # n_terms column may still count matched expansion terms)
    degenerate = [
        r["doc_id"] for r in rm3_bm25_topk(docs, q, n_fb=5, n_exp=4, lam=0.0, k=10).collect()
    ]
    assert degenerate == plain


def test_kn_lm_continuation_beats_raw_frequency(spark):
    """The Kneser-Ney signature: a token that is frequent but follows
    only ONE history ('francisco' after 'san') earns a smaller
    continuation weight than a token with many histories, so a doc
    pairing a novel history with the versatile token outscores one
    pairing it with the one-history token — even though the raw bigram
    counts say the opposite. Add-one smoothing cannot see this."""
    from transferdb_spark.ext.text import kn_lm_score

    corpus = ["san francisco"] * 8 + [
        "new deal", "fair deal", "big deal", "real deal",
        "good deal", "raw deal", "done deal", "best deal",
    ]
    probes = ["the francisco", "the deal"]  # novel history 'the'
    rows = [(i, t) for i, t in enumerate(corpus + probes)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {r["doc_id"]: r["kn_score"] for r in kn_lm_score(docs).collect()}
    id_fran, id_deal = len(corpus), len(corpus) + 1
    # 'deal' has 8 distinct histories, 'francisco' has 1; both bigrams
    # 'the francisco'/'the deal' have c12=1 and the same history count,
    # so the continuation term alone decides the order
    assert got[id_deal] > got[id_fran]
    assert all(0.0 < v <= 1.0 for v in got.values())


def test_unicode_nfc_composes_decomposed_text(spark):
    """NFC: decomposed 'e'+COMBINING ACUTE composes to U+00E9 (shorter
    in characters), already-composed text passes through unchanged, and
    NULLs survive. Matches Python's unicodedata and DuckDB's
    nfc_normalize by construction."""
    from transferdb_spark.ext.text import unicode_nfc

    decomposed = "résumé data"  # 13 chars, 2 combining marks
    composed = "résumé data"      # 11 chars
    rows = [(0, decomposed), (1, composed), (2, "plain ascii"), (3, None)]
    out = {r["doc_id"]: r for r in unicode_nfc(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}

    assert out[0]["norm_text"] == composed and out[0]["changed"] is True
    assert out[0]["n_chars"] == 11
    assert out[1]["norm_text"] == composed and out[1]["changed"] is False
    assert out[2]["changed"] is False
    assert out[3]["norm_text"] is None and out[3]["changed"] is None


def test_cross_source_overlap_counts_shared_leads(spark):
    """Two sources sharing a copied lead paragraph pair up with the
    right shared count and containment pct; unrelated sources don't."""
    from transferdb_spark.ext.dedup import cross_source_overlap

    lead = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, "mirror_a", lead + " tail one"),
        (2, "mirror_a", "completely different text entirely here now ok"),
        (3, "mirror_b", lead + " other tail"),
        (4, "mirror_b", "unrelated content again nothing shared at all"),
        (5, "mirror_b", "third unique doc for source b padding row"),
        (6, "loner", "nothing in common with anybody whatsoever truly"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = cross_source_overlap(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("mirror_a", "mirror_b")
    assert r["n_shared"] == 1 and r["n_a"] == 2 and r["n_b"] == 3
    assert r["overlap_pct"] == 0.5  # 1 / min(2, 3)


def test_vocab_kl_drift_surfaces_shifted_terms(spark):
    """A term frequent in half A but rare in half B tops the KL(A||B)
    contribution list; a balanced term contributes ~0."""
    from transferdb_spark.ext.text import vocab_kl_drift

    rows = []
    for i in range(40):
        # even doc_ids (half A) say 'driftword', odd say 'other'
        word = "driftword" if i % 2 == 0 else "other"
        rows.append((i, f"common filler tokens {word} here"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = vocab_kl_drift(docs, top=5).collect()
    assert out[0]["term"] == "driftword"
    assert out[0]["c_a"] == 20 and out[0]["c_b"] == 0
    assert out[0]["kl_contrib"] > 0
    balanced = [r for r in out if r["term"] == "common"]
    assert not balanced or abs(balanced[0]["kl_contrib"]) < 1e-6


def test_hard_negatives_exclude_neardups_of_positives(spark):
    """A candidate that is a light edit of a positive (high Jaccard)
    is gated out; a lexically-overlapping but distinct doc survives
    with its BM25 score."""
    from transferdb_spark.ext.retrieval import hard_negatives_topk

    q = ("spark", "window")
    # doc 1 outranks everything (double tf, short); doc 2 is its
    # near-dup; doc 3 shares the query terms but little else
    pos_text = "spark window spark window merge quality"
    rows = [
        (1, pos_text),                                   # positive (top rank)
        (2, pos_text + " extra"),                        # near-dup of positive
        (3, "spark window totally different subject entirely here now"),
        (4, "no query terms at all in this document body"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = hard_negatives_topk(docs, q, n_pos=1, k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 in ids and 2 not in ids and 1 not in ids and 4 not in ids
    hn = next(r for r in out if r["doc_id"] == 3)
    assert hn["max_jaccard"] < 0.5 and hn["score"] > 0


def test_compression_ratio_matches_zlib_and_ranks_entropy(spark):
    """Differential vs direct zlib, and the semantic property: repeated
    boilerplate compresses far below high-entropy text."""
    import zlib

    from transferdb_spark.ext.text import compression_ratio

    boiler = "lorem ipsum dolor sit amet " * 40
    import random

    rng = random.Random(7)
    noise = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(8))
        for _ in range(120)
    )
    rows = [(0, boiler), (1, noise), (2, None)]
    out = {r["doc_id"]: r for r in compression_ratio(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}

    for i, text in ((0, boiler), (1, noise)):
        assert out[i]["zlib_len"] == len(zlib.compress(text.encode(), 6))
        assert out[i]["raw_len"] == len(text)
    assert out[0]["ratio"] < 0.15 < 0.5 < out[1]["ratio"]
    assert out[2]["zlib_len"] is None and out[2]["ratio"] is None


def test_funnel_first_touch_semantics(spark, tmp_path, monkeypatch):
    """Funnel: a click BEFORE signup doesn't count, steps must be
    ordered, and the 72 h bound drops late purchases."""
    from datetime import datetime, timedelta
    import __spark_entry__ as entry_mod

    t0 = datetime(2026, 2, 1, 8, 0, 0)
    rows = []
    eid = 0

    def ev(uid, event_type, hours):
        nonlocal eid
        eid += 1
        return (eid, uid, event_type, t0 + timedelta(hours=hours), 1.0, "{}")

    # u1: full ordered funnel within 72h
    rows += [ev(1, "signup", 0), ev(1, "click", 1), ev(1, "purchase", 2)]
    # u2: click precedes signup -> never reaches step 2
    rows += [ev(2, "click", 0), ev(2, "signup", 1), ev(2, "purchase", 2)]
    # u3: purchase 100h after signup -> step 2 only
    rows += [ev(3, "signup", 0), ev(3, "click", 1), ev(3, "purchase", 100)]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double, props string",
    )
    path = str(tmp_path)
    df.write.mode("overwrite").parquet(path + "/events.parquet")

    out = {r["step"]: r for r in entry_mod.funnel_conversion(spark, path).collect()}
    assert out[1]["n_users"] == 3
    assert out[2]["n_users"] == 2      # u2 excluded (click before signup)
    assert out[3]["n_users"] == 1      # u3 outside 72h
    assert out[3]["conversion"] == round(1 / 3, 6) or abs(out[3]["conversion"] - 1/3) < 1e-6


def test_ngram_repetition_short_docs_and_known_values(spark):
    """Gopher n-gram battery edge: a doc too short for ANY n-gram
    still emits a row of zeros (both engines — the oracle LEFT JOINs);
    a constructed doc's top-2-gram and dup-5-gram fractions match
    hand-computed values."""
    import duckdb

    from transferdb_spark.ext.text import ngram_repetition, ngram_repetition_sql

    rows = [
        (1, "x"),                                   # 1 token: no grams at all
        (2, "a b a b a b c"),                       # top 2-gram 'a b' x3
        (3, "p q r s t p q r s t p q r s t"),       # dup 5-gram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in ngram_repetition(docs).collect()}

    assert got[1]["rep_top2"] == 0.0 and got[1]["rep_dup10"] == 0.0
    # doc 2: total chars = 13; 'a b' occurs 3x, len 3 -> 9/13
    assert got[2]["rep_top2"] == round(9 / 13, 5)
    # doc 3: duplicated 5-grams are 'p q r s t' x3 plus its four
    # rotations x2 each, all len 9 -> (3 + 4*2) * 9 = 99 chars / 29
    assert got[3]["rep_dup5"] == round(99 / 29, 5)

    con = duckdb.connect()
    con.register("documents", __import__("pandas").DataFrame(
        rows, columns=["doc_id", "text"]))
    want = con.execute(ngram_repetition_sql()).df()
    import pandas as pd

    gdf = pd.DataFrame([got[k] for k in sorted(got)])
    for c in want.columns:
        assert list(gdf[c]) == list(want[c]), c


def test_ngram_repetition_control_chars_differential(spark):
    """ADVICE regression: a sub-space control character inside a token
    (\\x01, \\x05 — \\s+ alone would keep them) used to sort a suffix
    like 'x y\\x05z …' BETWEEN 'x y' and 'x y a', splitting a gram run
    in the fused sorted-suffix fold and undercounting vs the groupBy
    oracle. The tokenizer now consumes \\x00-\\x1f as separators on
    BOTH engines, so these fixtures must agree exactly."""
    import duckdb
    import pandas as pd

    from transferdb_spark.ext.text import ngram_repetition, ngram_repetition_sql

    rows = [
        (1, "x y\x05z q x y a x y a x y b"),  # the reported run-split shape
        (2, "a\x01b a\x01b a\x01b"),            # control char inside every token
        (3, "p q\x1fr p q r p q r"),            # class edge 0x1f
        (4, "n\x00m n m n m"),                  # NUL byte
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in ngram_repetition(docs).collect()}

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(ngram_repetition_sql()).df()
    gdf = pd.DataFrame([got[k] for k in sorted(got)])
    for c in want.columns:
        assert list(gdf[c]) == list(want[c]), c
    # doc 1 is now 'x y z q x y a x y a x y b': top 2-gram 'x y' x4
    assert got[1]["rep_top2"] == round(4 * 3 / len("x y z q x y a x y a x y b"), 5)


def test_script_profile_multilingual_differential(spark):
    """Unicode script fractions on a constructed multilingual corpus
    must match the DuckDB oracle exactly — mixed-script docs, a
    script-free doc (dominant='other'), and dominant-tie resolution by
    the fixed script order."""
    import duckdb
    import pandas as pd

    from transferdb_spark.ext.text import script_profile, script_profile_sql

    rows = [
        (1, "Hello world this is English text"),
        (2, "Привет мир это русский текст"),
        (3, "你好世界 这是中文"),
        (4, "مرحبا بالعالم"),
        (5, "Mixed Привет hello 你好 text"),
        (6, "12345 !!! ???"),            # no script chars -> other
        (7, "ab ба"),                    # 2 latin vs 2 cyrillic: tie -> latin
        (8, "γειά σου κόσμε 안녕하세요 नमस्ते"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = script_profile(docs).toPandas()
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(script_profile_sql()).df()
    for c in want.columns:
        assert got[c].astype(str).tolist() == want[c].astype(str).tolist(), c
    by = {r.doc_id: r.dominant_script for r in got.itertuples()}
    assert by[1] == "latin" and by[2] == "cyrillic" and by[3] == "han"
    assert by[4] == "arabic" and by[6] == "other" and by[7] == "latin"


def test_cohort_parameterized_anchor_matches_generated_oracle(spark, sf_dir):
    """Cohort workload parameters drive both engines: purchase-anchored
    cohorts over a 2-week horizon must match the DuckDB SQL generated
    from the same parameters."""
    import duckdb

    from transferdb_spark.operators.funnel import (
        cohort_retention_params,
        cohort_sql_from_params,
    )
    from transferdb_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events")
    got = cohort_retention_params(ev, anchor="purchase", max_weeks=2).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    want = con.execute(cohort_sql_from_params("purchase", 2)).df()
    assert got["week_offset"].max() <= 2
    for c in want.columns:
        assert got[c].astype(str).tolist() == want[c].astype(str).tolist(), c


def test_ngram_dup_coverage_is_position_exact(spark):
    """Position-exact coverage is BOUNDED BY 1 where the Dolma-style
    count x length accounting explodes: the fully-looped doc has every
    token char inside a duplicated 5-gram (cov_dup5 == 1.0 exactly,
    vs rep_dup5 == 99/29 ≈ 3.41 for the same doc), a gramless doc is
    all zeros, and a half-duplicated doc matches hand arithmetic."""
    import duckdb
    import pandas as pd

    from transferdb_spark.ext.text import (
        ngram_dup_coverage,
        ngram_dup_coverage_sql,
        ngram_repetition,
    )

    rows = [
        (1, "x"),
        (2, "p q r s t p q r s t p q r s t"),
        # one duplicated 5-gram pair 'a b c d e' at starts 1 and 8;
        # tokens 1-5 and 8-12 covered = 10 of 12 single-char tokens
        (3, "a b c d e z y a b c d e"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in ngram_dup_coverage(docs).collect()}
    assert got[1]["cov_dup5"] == 0.0 and got[1]["cov_dup10"] == 0.0
    assert got[2]["cov_dup5"] == 1.0  # every char covered, counted once
    rep = {r["doc_id"]: r.asDict() for r in ngram_repetition(docs).collect()}
    assert rep[2]["rep_dup5"] > 1.0  # the overlap-counting contrast
    assert got[3]["cov_dup5"] == round(10 / 12, 5)
    assert got[3]["cov_dup6"] == 0.0

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(ngram_dup_coverage_sql()).df()
    gdf = pd.DataFrame([got[k] for k in sorted(got)])
    for c in want.columns:
        assert list(gdf[c]) == list(want[c]), c


def test_wordpiece_matches_pure_python_reference(spark, sf_dir):
    """Distributed WordPiece trainer vs an independent pure-Python
    implementation of the Schuster-Nakajima likelihood-gain loop on
    the same corpus: identical merges, frequencies, and quantized
    scores in order."""
    import re
    from collections import Counter

    from transferdb_spark.ext.wordpiece import SCORE_SCALE, train_wordpiece
    from transferdb_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(300)
    texts = [r["text"] for r in docs.collect()]

    # reference: same whitespace tokenization as ext/text.TOKENS
    wc = Counter()
    for t in texts:
        for w in re.split(r"\s+", t.strip().lower()):
            if w:
                wc[w] += 1
    words = {w: ([w[0]] + ["##" + c for c in w[1:]], c) for w, c in wc.items()}

    def ref_train(n_merges, min_freq):
        out = []
        for _ in range(n_merges):
            pair_f = Counter()
            sym_f = Counter()
            for syms, c in words.values():
                for s in syms:
                    sym_f[s] += c
                for a, b in zip(syms, syms[1:]):
                    pair_f[(a, b)] += c
            best = None
            for (a, b), f in pair_f.items():
                if f < min_freq:
                    continue
                sq = (f * SCORE_SCALE) // (sym_f[a] * sym_f[b])
                k = (-sq, -f, a, b)
                if best is None or k < best[0]:
                    best = (k, a, b, f, sq)
            if best is None:
                break
            _, a, b, f, sq = best
            out.append((a, b, f, sq))
            merged = a + (b[2:] if b.startswith("##") else b)
            for w, (syms, c) in words.items():
                ns, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        ns.append(merged)
                        i += 2
                    else:
                        ns.append(syms[i])
                        i += 1
                words[w] = (ns, c)
        return out

    want = ref_train(6, 2)
    got = train_wordpiece(docs, n_merges=6, min_freq=2)
    assert got == want


def test_funnel_parameterized_steps_match_generated_oracle(spark, sf_dir):
    """The saved-workload relation parameterizes BOTH sides: a custom
    4-step funnel (view -> signup -> click -> purchase, 48 h bound)
    run through the generic Spark operator must match the DuckDB SQL
    generated from the same step list."""
    import duckdb

    from transferdb_spark.operators.funnel import (
        funnel_conversion_steps,
        funnel_sql_from_steps,
        steps_relation,
    )
    from transferdb_spark.sources.registry import load_table

    steps = ["view", "signup", "click", "purchase"]
    within = 48 * 3600
    ev = load_table(spark, sf_dir, "events")
    got = (
        funnel_conversion_steps(ev, steps_relation(spark, steps), within_s=within)
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    want = con.execute(funnel_sql_from_steps(steps, within)).df()
    assert got["event_type"].tolist() == want["event_type"].tolist()
    assert got["event_type"].tolist()[-1] == "purchase_48h"
    assert got["n_users"].tolist() == want["n_users"].tolist()
    assert [round(x, 6) for x in got["conversion"]] == [
        round(x, 6) for x in want["conversion"]
    ]


def test_session_edge_cases_asof_rm3_kl(spark):
    """Edge sweep over the round-6 operators: as-of against an EMPTY
    right side yields NULL payloads in every direction; RM3 degrades
    to plain BM25 when no expansion candidate survives the guards; KL
    drift handles a corpus whose halves share no vocabulary."""
    from transferdb_spark.ext.retrieval import bm25_topk, rm3_bm25_topk
    from transferdb_spark.ext.text import vocab_kl_drift
    from transferdb_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, 100)], "k long, ts long, eid long")
    empty_right = spark.createDataFrame([], "k long, ts long, v double")
    for d in ("backward", "forward", "nearest"):
        out = asof_join(
            left, empty_right, key="k", ts="ts", payload=["v"], direction=d
        ).collect()
        assert len(out) == 1 and out[0]["v_asof"] is None, d

    # two docs, every non-query token < 3 chars -> no expansion
    docs = spark.createDataFrame(
        [(1, "spark on it is"), (2, "spark up at")], ["doc_id", "text"]
    )
    rm3 = rm3_bm25_topk(docs, ("spark",), n_fb=2, n_exp=3, k=5).collect()
    plain = bm25_topk(docs, ("spark",), k=5).collect()
    assert [r["doc_id"] for r in rm3] == [r["doc_id"] for r in plain]

    # disjoint halves: every term is one-sided; contributions stay finite
    kl_docs = spark.createDataFrame(
        [(0, "aaa bbb ccc"), (2, "aaa bbb ddd"), (1, "xxx yyy zzz"), (3, "xxx yyy www")],
        ["doc_id", "text"],
    )
    rows = vocab_kl_drift(kl_docs, top=10).collect()
    assert rows and all(r["kl_contrib"] is not None for r in rows)
    assert rows[0]["c_b"] == 0 and rows[0]["kl_contrib"] > 0


def test_zipf_slope_separates_natural_from_uniform(spark):
    """A Zipfian corpus (freq ∝ 1/rank) fits slope ≈ -1; a uniform
    vocabulary (every term equally frequent) fits slope ≈ 0."""
    from transferdb_spark.ext.text import vocab_zipf_slope

    zipf_rows, uni_rows = [], []
    did = 0
    for r in range(1, 60):
        for _ in range(max(600 // r, 1)):  # freq ~ 1/rank
            zipf_rows.append((did := did + 1, f"zterm{r}"))
    for r in range(60):
        for _ in range(10):
            uni_rows.append((did := did + 1, f"uterm{r}"))

    z = vocab_zipf_slope(
        spark.createDataFrame(zipf_rows, ["doc_id", "text"]), top=50
    ).first()
    u = vocab_zipf_slope(
        spark.createDataFrame(uni_rows, ["doc_id", "text"]), top=50
    ).first()
    assert -1.2 < z["zipf_slope"] < -0.8, z
    assert abs(u["zipf_slope"]) < 0.05, u


def test_minhash_components_closes_chains(spark):
    """Connected components over the LSH candidate graph: A~B and B~C
    band collisions must close into ONE component labeled by the min
    doc_id even when A and C never share a band; disjoint near-dup
    pairs stay separate components; docs with no candidate edge do not
    appear (singletons are trivial components)."""
    import duckdb

    from transferdb_spark.ext.dedup import (
        minhash_components,
        minhash_components_sql,
        minhash_lsh_candidates,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (1, base),                                   # chain: 1~2~3
        (2, base + " extra"),
        (3, base + " extra more"),
        (10, "one two three four five six seven eight nine ten "
             "eleven twelve thirteen fourteen fifteen sixteen"),
        (11, "one two three four five six seven eight nine ten "
             "eleven twelve thirteen fourteen fifteen sixteen tail"),
        (99, "completely different isolated text with no relatives "
             "whatsoever in this tiny corpus of documents here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    edges = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(docs).collect()}
    assert (1, 2) in edges and (2, 3) in edges and (10, 11) in edges

    got = {
        r["doc_id"]: (r["component"], r["cluster_size"])
        for r in minhash_components(docs).collect()
    }
    assert got[1] == (1, 3) and got[2] == (1, 3) and got[3] == (1, 3)
    assert got[10] == (10, 2) and got[11] == (10, 2)
    assert 99 not in got

    # the oracle agrees on the same synthetic corpus
    con = duckdb.connect()
    import pandas as pd

    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {
        int(r[0]): (int(r[1]), int(r[2]))
        for r in con.execute(minhash_components_sql()).fetchall()
    }
    assert want == got


def test_chunk_documents_window_coverage(spark):
    """Chunking invariants on known docs: chunk k starts at k*stride,
    every token is covered, no empty tail chunk, short docs yield one
    chunk, and overlap length = window - stride on interior chunks."""
    from transferdb_spark.ext.packing import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),   # 10 toks
            (2, " ".join(f"u{i}" for i in range(4))),    # short: 1 chunk
            (3, "solo"),
        ],
        ["doc_id", "text"],
    )
    rows = chunk_documents(docs, window=6, stride=4).collect()
    by = {}
    for r in rows:
        by.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by[1], key=lambda r: r["chunk_id"])
    assert [r["chunk_id"] for r in c1] == [0, 1]
    assert c1[0]["chunk_text"] == "t0 t1 t2 t3 t4 t5"
    assert c1[1]["chunk_text"] == "t4 t5 t6 t7 t8 t9"   # starts at stride=4
    assert [r["n_tokens"] for r in c1] == [6, 6]
    assert [r["chunk_text"] for r in by[2]] == ["u0 u1 u2 u3"]
    assert [r["chunk_text"] for r in by[3]] == ["solo"]

    # uneven tail: 9 tokens, window 6 stride 4 -> chunks at 0 and 4 (5 toks)
    docs2 = spark.createDataFrame(
        [(9, " ".join(f"x{i}" for i in range(9)))], ["doc_id", "text"]
    )
    tail = chunk_documents(docs2, window=6, stride=4).collect()
    assert [(r["chunk_id"], r["n_tokens"]) for r in tail] == [(0, 6), (1, 5)]


def test_knn_label_vote_flags_mislabeled_vector(spark):
    """A vector surrounded by opposite-label near-identical neighbours
    must get knn_label = the neighbourhood's label; consistent
    clusters agree with themselves. Singleton buckets drop out."""
    import numpy as np

    from transferdb_spark.ext.similarity import DIM, knn_label_vote

    rng = np.random.default_rng(5)
    a = rng.normal(size=DIM); a /= np.linalg.norm(a)
    rows = []
    # tight cluster of label 1 ... with one label-0 interloper
    for i in range(6):
        v = a + rng.normal(scale=0.01, size=DIM)
        rows.append((i, [float(x) for x in v], 1 if i < 5 else 0))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {r["vec_id"]: r for r in knn_label_vote(emb, k=3).collect()}
    assert got[5]["label"] == 0 and got[5]["knn_label"] == 1  # flagged
    for i in range(5):
        assert got[i]["knn_label"] == 1


def test_embedding_int8_stats_exact_integers(spark):
    """Hand-checked int8 audit: max_q anchors the scale, codes
    round-half-away-from-zero, sse is the exact integer residual, the
    max element saturates at code 127, and a zero vector is all-zero."""
    from transferdb_spark.ext.similarity import DIM, QSCALE, embedding_int8_stats

    v = [0.0] * DIM
    v[0] = 1.0      # q = QSCALE -> m = QSCALE, code 127, residual 0? (127q - 127m = 0)
    v[1] = 0.5      # q = QSCALE/2 -> code round(63.5) = 64
    emb = spark.createDataFrame(
        [(0, v, 0), (1, [0.0] * DIM, 0)], ["vec_id", "embedding", "label"]
    )
    got = {r["vec_id"]: r for r in embedding_int8_stats(emb).collect()}
    m = QSCALE
    q1 = QSCALE // 2
    code1 = (254 * q1 + m) // (2 * m)  # = 64 (half away from zero)
    assert code1 == 64
    want_sse = (127 * q1 - code1 * m) ** 2  # only the 0.5 element has residual
    assert got[0]["max_q"] == m
    assert got[0]["n_maxcode"] == 1
    assert got[0]["sse_q"] == want_sse
    assert got[1]["max_q"] == 0 and got[1]["sse_q"] == 0 and got[1]["n_maxcode"] == 0


def test_funnel_step_latency_custom_steps_match_generated_oracle(spark, sf_dir):
    """funnel_step_latency with a CUSTOM 4-step workload matches the
    DuckDB SQL generated from the same list — exact integer
    epoch-micros min/max and floor-rounded DECIMAL-safe average."""
    import duckdb

    from transferdb_spark.operators.funnel import (
        funnel_latency_sql_from_steps,
        funnel_step_latency,
        steps_relation,
    )
    from transferdb_spark.sources.registry import load_table

    steps = ["view", "signup", "click", "purchase"]
    within = 48 * 3600
    ev = load_table(spark, sf_dir, "events")
    got = funnel_step_latency(
        ev, steps_relation(spark, steps), within_s=within
    ).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    want = con.execute(funnel_latency_sql_from_steps(steps, within)).df()
    assert got["step"].tolist() == want["step"].tolist() == [2, 3, 4]
    assert got["event_type"].tolist()[-1] == "purchase_48h"
    assert got["n_users"].tolist() == want["n_users"].tolist()
    for col in ("min_s", "max_s", "avg_s"):
        assert got[col].tolist() == want[col].tolist(), col
    # latencies are non-negative and min <= avg <= max per step
    assert all(got["min_s"] >= 0)
    assert all(got["min_s"] <= got["avg_s"]) and all(got["avg_s"] <= got["max_s"])


def test_ngram_repetition_control_char_tie_break(spark):
    """Historic tie-break shape for the fused single-sort fold: a
    token carrying a sub-space control char ("b\\x01") used to invert
    gram order in the sorted suffix array. The tokenizer now consumes
    \\x00-\\x1f as separators (so NO token character can sort below the
    gram join separator — the fold's contiguity + ascending-order
    invariant holds by construction), which makes this fixture
    tokenize as plain 'a b' x4; both engines must agree exactly."""
    import duckdb
    import pandas as pd

    from transferdb_spark.ext.text import ngram_repetition, ngram_repetition_sql

    toks = ["a", "b", "q", "a", "b", "r", "a", "b\x01", "s", "a", "b\x01", "t"]
    text = " ".join(toks)
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = ngram_repetition(docs).collect()[0].asDict()

    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": [1], "text": [text]}))
    want = con.execute(ngram_repetition_sql()).df().iloc[0].to_dict()
    for k in got:
        assert got[k] == want[k], (k, got[k], want[k])
    # '\x01' is a separator now: 'a b' occurs 4x (len 3), and
    # total_chars counts the NORMALIZED token join (control chars gone)
    total = len(" ".join(t.replace("\x01", "") for t in toks))
    assert abs(got["rep_top2"] - round(12 / total, 5)) < 1e-9


def test_filter_funnel_waterfall_reconciles(spark):
    """Hand-built corpus: the waterfall must attribute each doc to its
    FIRST failing rule, the standalone counts must see every failure,
    and the final n_remaining must equal gopher_quality's keep count."""
    import duckdb
    import pandas as pd

    from transferdb_spark.ext.text import (
        GOPHER_RULES,
        filter_funnel,
        filter_funnel_sql,
        gopher_quality,
    )

    good = "the and for with that this from have " * 8  # passes everything
    rows = [
        (1, good),
        (2, "the and for"),                     # fails min_words (stage 0)
        (3, ("supercalifragilistic " * 60) + "the and"),  # long words (stage 3)
        (4, good + " ###### ##### #####"),      # symbol ratio (stage 4)
        (5, "12 34 56 78 " * 20),               # non-alpha + no stopwords
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["stage"]: r.asDict() for r in filter_funnel(docs).collect()}
    assert [out[i]["rule"] for i in range(len(GOPHER_RULES))] == [
        n for n, _ in GOPHER_RULES
    ]
    removed = sum(out[i]["n_removed_here"] for i in out)
    kept = gopher_quality(docs).agg({"keep": "sum"}).first()[0]
    assert removed == len(rows) - kept
    assert out[len(GOPHER_RULES) - 1]["n_remaining"] == kept
    # doc 2 fails min_words first — even though it also lacks stopwords
    assert out[0]["n_removed_here"] >= 1
    # remaining is monotone non-increasing
    rem = [out[i]["n_remaining"] for i in range(len(GOPHER_RULES))]
    assert rem == sorted(rem, reverse=True)

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(filter_funnel_sql()).df()
    got = filter_funnel(docs).toPandas()
    for c in want.columns:
        assert list(got[c]) == list(want[c].astype(got[c].dtype)), c


def test_blocklist_filter_counts_exact_tokens(spark):
    """Exact-token semantics: 'slowly' must not trip a 'slow' entry;
    flagging needs min_hits matches; rollup is per source."""
    from transferdb_spark.ext.text import blocklist_filter

    rows = [
        (1, "slow slow slow query", "a"),     # 3 hits -> flagged
        (2, "slowly slower slowest", "a"),    # 0 hits (no exact match)
        (3, "merge big slow", "b"),           # 3 hits across terms -> flagged
        (4, "merge merge", "b"),              # 2 hits -> not flagged
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r.asDict() for r in blocklist_filter(docs).collect()}
    assert got["a"]["n_docs"] == 2 and got["a"]["n_flagged"] == 1
    assert got["a"]["total_hits"] == 3 and got["a"]["flag_rate"] == 0.5
    assert got["b"]["n_flagged"] == 1 and got["b"]["total_hits"] == 5


def test_embedding_energy_ratio_known_values(spark):
    """Hand-computed energy split: a vector with all mass in the head
    scores 1, an even split scores 0.5, and min_ratio picks the worst
    vector of the label."""
    from transferdb_spark.ext.similarity import embedding_energy_ratio

    rows = [
        (1, [1.0, 1.0, 0.0, 0.0], 7),   # head(2) carries all energy
        (2, [1.0, 0.0, 1.0, 0.0], 7),   # half
        (3, [0.0, 0.0, 2.0, 0.0], 8),   # none
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r["label"]: r.asDict() for r in embedding_energy_ratio(emb, head=2).collect()}
    assert got[7]["n_vecs"] == 2
    # pooled: (2 + 1) head units over (2 + 2) total = 0.75
    assert got[7]["energy_ratio"] == 0.75 and got[7]["min_ratio"] == 0.5
    assert got[8]["energy_ratio"] == 0.0 and got[8]["min_ratio"] == 0.0


def test_lsh_cluster_purity_flags_chained_components(spark):
    """Hand-built corpus: two true near-dups plus a 'bridge' doc that
    shares half its text with each — if banding chains all three into
    one component, the purity audit must show min_edge_jaccard well
    below mean; and a clean exact-dup pair must score jaccard 1.0.
    Differential vs the DuckDB recursive-closure oracle."""
    import duckdb
    import pandas as pd

    from transferdb_spark.ext.dedup import lsh_cluster_purity, lsh_cluster_purity_sql

    a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    rows = [
        (1, a),
        (2, a),  # exact dup of 1 -> jaccard 1.0
        (3, "one two three four five six seven eight " * 4),
        (4, "one two three four five six seven eight " * 2
            + "nine ten eleven twelve thirteen fourteen " * 2),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = lsh_cluster_purity(docs).collect()
    assert got, "fixture must band at least one component"
    by_comp = {r["component"]: r.asDict() for r in got}
    assert 1 in by_comp and by_comp[1]["min_edge_jaccard"] == 1.0
    for r in got:
        assert r["min_edge_jaccard"] <= r["mean_edge_jaccard"]
        assert r["n_edges"] >= r["n_members"] - 1  # connected

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(lsh_cluster_purity_sql()).df()
    gdf = lsh_cluster_purity(docs).toPandas()
    assert len(gdf) == len(want)
    for c in want.columns:
        assert list(gdf[c]) == list(want[c].astype(gdf[c].dtype)), c


def test_source_novelty_first_wins_accounting(spark):
    """Hand-built: source 'a' owns every shingle it has; 'b' repeats
    half of a's text (novel half) ; 'c' is pure repeat (novelty 0)."""
    from transferdb_spark.ext.dedup import source_novelty

    t1 = "one two three four five six seven eight nine ten"
    t2 = "one two three four five six seven eight nine ten " \
         "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, t1, "a"),
        (2, t2, "b"),
        (3, t1, "c"),   # every shingle already seen in 'a'
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r.asDict() for r in source_novelty(docs).collect()}
    assert got["a"]["n_novel"] == got["a"]["n_shingles"]  # first source
    assert got["c"]["n_novel"] == 0 and got["c"]["novelty_rate"] == 0.0
    assert 0 < got["b"]["n_novel"] < got["b"]["n_shingles"]
    # b's shingles = a's 8 (its first 10 tokens repeat t1 exactly) +
    # b's novel ones (boundary shingles like 'nine ten alpha' included)
    assert got["b"]["n_shingles"] == got["a"]["n_shingles"] + got["b"]["n_novel"]


def test_length_outliers_median_mad(spark):
    """Exact median/MAD on a constructed source: one absurdly long doc
    must be the only outlier, and MAD must resist it (unlike stddev)."""
    from transferdb_spark.ext.text import length_outliers

    rows = [
        (1, "x" * 100, "s"),
        (2, "x" * 102, "s"),
        (3, "x" * 104, "s"),
        (4, "x" * 98, "s"),
        (5, "x" * 5000, "s"),  # the truncation/concat bug
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = length_outliers(docs).collect()[0].asDict()
    assert got["n_docs"] == 5 and got["med_len"] == 102.0
    # abs devs: 2, 0, 2, 4, 4898 -> median 2
    assert got["mad_len"] == 2.0
    assert got["n_outliers"] == 1  # only the 5000-char doc exceeds 3*MAD... (4 < 6? no)


def test_source_jaccard_exact_sets(spark):
    """Hand-built 3-source matrix: identical sources have jaccard 1,
    disjoint sources share nothing (no output row), and a half-overlap
    pair matches the set formula n_inter/(n_a+n_b-n_inter)."""
    from transferdb_spark.ext.dedup import source_jaccard

    t1 = "one two three four five six seven eight nine ten"
    t2 = "one two three four five six seven eight nine ten " \
         "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t3 = "red orange yellow green blue indigo violet umber ochre teal"
    docs = spark.createDataFrame(
        [(1, t1, "a"), (2, t1, "b"), (3, t2, "c"), (4, t3, "d")],
        "doc_id long, text string, source string",
    )
    got = {
        (r["source_a"], r["source_b"]): r.asDict()
        for r in source_jaccard(docs).collect()
    }
    assert got[("a", "b")]["jaccard"] == 1.0
    ac = got[("a", "c")]
    assert ac["n_inter"] == ac["n_a"]  # a's shingle set ⊂ c's
    assert ac["jaccard"] == round(ac["n_inter"] / (ac["n_a"] + ac["n_b"] - ac["n_inter"]), 6)
    assert ("a", "d") not in got and ("b", "d") not in got  # disjoint


def test_source_minhash_jaccard_tracks_exact(spark):
    """The union-sketch estimate must be exact (1.0) for identical
    sources, 0 for disjoint ones, and strictly between for a genuine
    partial overlap."""
    from transferdb_spark.ext.dedup import source_minhash_jaccard

    t1 = "one two three four five six seven eight nine ten"
    t2 = "one two three four five six seven eight nine ten " \
         "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t3 = "red orange yellow green blue indigo violet umber ochre teal"
    docs = spark.createDataFrame(
        [(1, t1, "a"), (2, t1, "b"), (3, t2, "c"), (4, t3, "d")],
        "doc_id long, text string, source string",
    )
    got = {
        (r["source_a"], r["source_b"]): r.asDict()
        for r in source_minhash_jaccard(docs).collect()
    }
    # all source pairs present (sketch join is signature × signature)
    assert len(got) == 6
    assert got[("a", "b")]["est_jaccard"] == 1.0
    assert got[("a", "d")]["n_matched"] == 0
    assert 0.0 < got[("a", "c")]["est_jaccard"] <= 1.0


def test_kmeans_silhouette_matches_numpy_reference(spark, emb):
    """Differential: the Arrow silhouette pass must equal a sequential
    numpy replay of the exact-integer recurrence (train → assign →
    a²/b² → grid-snap → per-cluster mean/min), and every score must
    land in [0, 1] (assignment is argmin over the final centroids, so
    a ≤ b by construction)."""
    import numpy as np

    from transferdb_spark.ext.semdedup import (
        ITERS,
        K,
        SIL_SCALE,
        kmeans_centroids,
        kmeans_silhouette,
    )
    from transferdb_spark.ext.similarity import QSCALE

    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    X = np.floor(
        np.array([r["embedding"] for r in rows], dtype=np.float64) * QSCALE + 0.5
    ).astype(np.int64)

    C = np.asarray(kmeans_centroids(emb, K, ITERS), dtype=np.int64)
    S = (C * C).sum(axis=1)[None, :] - 2 * (X @ C.T)
    own = np.argmin(S, axis=1)
    d2 = (X * X).sum(axis=1)[:, None] + S
    r = np.arange(len(X))
    a2 = d2[r, own]
    masked = d2.copy()
    masked[r, own] = np.iinfo(np.int64).max
    b2 = masked.min(axis=1)
    hi = np.maximum(a2, b2).astype(np.float64)
    s = np.where(hi == 0, 0.0, (np.sqrt(b2.astype(float)) - np.sqrt(a2.astype(float))) / np.sqrt(hi))
    sq = np.floor(s * SIL_SCALE + 0.5).astype(np.int64)

    got = {g["cluster"]: g for g in kmeans_silhouette(emb).collect()}
    for c in sorted(set(own)):
        m = sq[own == c]
        assert got[c]["n_vecs"] == len(m)
        # stable_round is half-up; Python round() is banker's
        half_up = lambda v: np.floor(v * 1e6 + 0.5) / 1e6
        assert got[c]["mean_silhouette"] == half_up(m.sum() / (len(m) * SIL_SCALE))
        assert got[c]["min_silhouette"] == half_up(m.min() / SIL_SCALE)
        assert 0.0 <= got[c]["min_silhouette"] <= got[c]["mean_silhouette"] <= 1.0


def test_source_kl_drift_orders_shift(spark):
    """Hand-built: first source has NULL drift (no history); a source
    repeating the history's token mix drifts less than one with a
    disjoint vocabulary; history scalars accumulate exactly."""
    from transferdb_spark.ext.text import source_kl_drift

    t_mix = "cat dog cat dog cat dog cat dog"
    t_new = "zebra quagga okapi tapir zebra quagga okapi tapir"
    docs = spark.createDataFrame(
        [(1, t_mix, "a"), (2, t_mix, "b"), (3, t_new, "c")],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r.asDict() for r in source_kl_drift(docs).collect()}
    assert got["a"]["kl_drift"] is None and got["a"]["n_hist_tokens"] == 0
    assert got["b"]["n_hist_tokens"] == got["a"]["n_tokens"]
    assert got["c"]["n_hist_tokens"] == got["a"]["n_tokens"] + got["b"]["n_tokens"]
    assert got["b"]["hist_vocab"] == 2 and got["c"]["hist_vocab"] == 2
    assert got["b"]["kl_drift"] < got["c"]["kl_drift"]  # same mix vs disjoint


def test_winnow_fingerprints_guarantee_and_reference(spark):
    """The winnowing guarantee: docs sharing a run of ≥ w+k−1 tokens
    share at least one fingerprint; per-doc selection matches a
    sequential Python replay (rightmost-min per full window)."""
    import random

    from transferdb_spark.ext.dedup import _h64
    from transferdb_spark.ext.text import WINNOW_K, WINNOW_W, winnow_fingerprints

    rng = random.Random(23)
    words = [f"t{i}" for i in range(300)]

    def doc(n=50):
        return " ".join(rng.choice(words) for _ in range(n))

    shared = doc(WINNOW_W + WINNOW_K - 1)  # exactly the guarantee length
    d1 = doc() + " " + shared + " " + doc()
    d2 = doc() + " " + shared + " " + doc()
    d3 = doc()
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    rows = winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["pos"], r["fp"]))
    fps = {d: {fp for _, fp in v} for d, v in by_doc.items()}
    assert fps[1] & fps[2]  # guarantee: shared run -> shared fingerprint

    # sequential replay on doc 3 (hashes via Spark to share the exact md5 contract)
    toks = d3.lower().split()
    grams = [" ".join(toks[i : i + WINNOW_K]) for i in range(len(toks) - WINNOW_K + 1)]
    hs = [
        r["h"]
        for r in spark.createDataFrame([(g,) for g in grams], "s string")
        .selectExpr(_h64("s") + " AS h")
        .collect()
    ]
    want = set()
    for j in range(len(hs) - WINNOW_W + 1):
        window = hs[j : j + WINNOW_W]
        m = min(window)
        p = max(i for i, h in enumerate(window) if h == m) + j
        want.add((p, hs[p]))
    assert set(by_doc[3]) == want


def test_winnow_neardup_pairs_detects_copies(spark):
    """A doc embedding a long verbatim passage from another is paired
    with ≥ min_shared shared fingerprints; unrelated docs are not."""
    import random

    from transferdb_spark.ext.text import winnow_neardup_pairs

    rng = random.Random(41)
    words = [f"t{i}" for i in range(300)]

    def doc(n=60):
        return " ".join(rng.choice(words) for _ in range(n))

    passage = doc(30)  # long verbatim overlap
    d1 = doc() + " " + passage
    d2 = passage + " " + doc()
    d3 = doc()
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    pairs = {(r["doc_a"], r["doc_b"]): r.asDict() for r in winnow_neardup_pairs(docs).collect()}
    assert (1, 2) in pairs
    p = pairs[(1, 2)]
    assert p["n_shared"] >= 2 and p["n_shared"] <= min(p["n_a"], p["n_b"])
    assert not any(3 in k for k in pairs)


def test_phash_neardup_detects_reencodes(spark):
    """dHash near-dup: a noisy copy and a JPEG re-encode of the same
    image pair with the original at low Hamming distance; an unrelated
    image pairs with nothing; the banded-LSH recall guarantee holds
    (hamming <= bands-1 -> pair found)."""
    import numpy as np

    from jpeg_encoder import encode_jpeg
    from transferdb_spark.ext.multimodal import (
        dhash64,
        phash_neardup_pairs,
    )

    rng = np.random.default_rng(59)
    yy, xx = np.mgrid[0:32, 0:32]
    grad = ((yy * 5 + xx * 3) % 256).astype(np.uint8)
    base = np.stack([grad, grad[::-1], (grad + 80) % 256], axis=2).astype(np.uint8)
    noisy = np.clip(
        base.astype(np.int16) + rng.integers(-2, 3, base.shape), 0, 255
    ).astype(np.uint8)
    other = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)

    def ppm(px):
        h, w = px.shape[:2]
        return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()

    rows = [
        (1, "image", bytearray(ppm(base))),
        (2, "image", bytearray(ppm(noisy))),
        (3, "image", bytearray(encode_jpeg(base))),
        (4, "image", bytearray(ppm(other))),
        (5, "image", bytearray(b"not an image")),  # quarantined, not fatal
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, content binary"
    )
    pairs = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in phash_neardup_pairs(media).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert (1, 3) in pairs and pairs[(1, 3)] <= 6
    assert not any(4 in k or 5 in k for k in pairs)

    # differential: the Spark-side hash equals a local replay
    local = dhash64(base)
    from transferdb_spark.ext.multimodal import image_phashes
    hashes = {r["media_id"]: r["phash"] for r in image_phashes(media).collect()}
    assert hashes[1] == local
    assert hashes[5] is None
