"""Streaming corpus ingestion (incremental dedup) tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from transferdb_spark.sources.registry import load_table

    return load_table(spark, sf_dir, "documents")


def _drop(df, d, name):
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "_stage_" + name))
    # move the part file in as a single new drop file
    stage = os.path.join(d, "_stage_" + name)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    os.replace(os.path.join(stage, part), os.path.join(d, name + ".parquet"))


def _run_ingest(spark, src, target, ckpt):
    from transferdb_spark.streaming.corpus import ingest_documents_stream, stream_documents

    q = ingest_documents_stream(
        stream_documents(spark, src, max_files_per_trigger=1), target, ckpt
    )
    q.awaitTermination(120)


def test_incremental_ingest_dedupes_across_batches(spark, tmp_path, docs):
    """Batch 2 redelivers half of batch 1's docs under NEW doc_ids plus
    genuinely new docs; current state must keep exactly one copy per
    distinct text, surviving copy = the earliest ingested."""
    from transferdb_spark.streaming.corpus import corpus_current_state

    src = str(tmp_path / "src")
    os.makedirs(src)
    first = docs.filter(F.col("doc_id") < 300)
    _drop(first, src, "drop1")

    target, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    _run_ingest(spark, src, target, ckpt)

    # second drop: 100 redelivered texts (new ids) + 200 new docs
    redelivered = (
        docs.filter(F.col("doc_id") < 100)
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    fresh = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 500))
    _drop(redelivered.unionByName(fresh), src, "drop2")
    _run_ingest(spark, src, target, ckpt)

    state = corpus_current_state(spark, target)
    texts_in = docs.filter(F.col("doc_id") < 500).select(
        F.trim(F.lower("text")).alias("t")
    ).distinct().count()
    assert state.count() == texts_in
    # first-wins: no redelivered (+100000) id may survive when its
    # original was ingested in batch 1
    surviving_ids = {r["doc_id"] for r in state.select("doc_id").collect()}
    originals = {r["doc_id"] for r in docs.filter(F.col("doc_id") < 100).collect()}
    assert originals <= surviving_ids
    assert not {i + 100000 for i in originals} & surviving_ids


def test_ingest_collapses_within_batch_dups(spark, tmp_path, docs):
    from transferdb_spark.streaming.corpus import corpus_current_state

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = docs.filter(F.col("doc_id") < 50)
    doubled = base.unionByName(base.withColumn("doc_id", F.col("doc_id") + 1000))
    _drop(doubled, src, "drop1")
    target, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    _run_ingest(spark, src, target, ckpt)

    landed = spark.read.parquet(target)
    distinct_texts = base.select(F.trim(F.lower("text"))).distinct().count()
    # within-batch dedup happened at WRITE time, not just read time
    assert landed.count() == distinct_texts
    assert corpus_current_state(spark, target).count() == distinct_texts


def test_compact_corpus_preserves_state_and_prunes_history(spark, tmp_path, docs):
    from transferdb_spark.streaming.corpus import compact_corpus, corpus_current_state

    src = str(tmp_path / "src")
    os.makedirs(src)
    _drop(docs.filter(F.col("doc_id") < 200), src, "drop1")
    target, ckpt = str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    _run_ingest(spark, src, target, ckpt)
    _drop(
        docs.filter(F.col("doc_id") < 400).withColumn(
            "doc_id", F.col("doc_id") + 500000
        ),
        src,
        "drop2",
    )
    _run_ingest(spark, src, target, ckpt)

    before = {r["doc_id"] for r in corpus_current_state(spark, target).select("doc_id").collect()}
    n_dirs_before = len([d for d in os.listdir(target) if d.startswith("batch_id=")])
    assert n_dirs_before >= 2

    res = compact_corpus(spark, target)
    assert res["live_rows"] == len(before)
    after = {r["doc_id"] for r in corpus_current_state(spark, target).select("doc_id").collect()}
    assert after == before
    n_dirs_after = len([d for d in os.listdir(target) if d.startswith("batch_id=")])
    assert n_dirs_after == 1

    # ingest keeps working after compaction, and first-wins still holds
    _drop(
        docs.filter(F.col("doc_id") < 100).withColumn(
            "doc_id", F.col("doc_id") + 900000
        ),
        src,
        "drop3",
    )
    _run_ingest(spark, src, target, ckpt)
    final = {r["doc_id"] for r in corpus_current_state(spark, target).select("doc_id").collect()}
    assert final == before  # every drop3 text already lives in the corpus


def test_media_feature_stream_extracts_real_features(spark, tmp_path):
    """binaryFile stream -> real-decode feature kernel: drop PPM and
    JPEG blobs as files, run one availableNow pass, and get one
    feature row per file with contentful values."""
    import numpy as np

    from jpeg_encoder import encode_jpeg
    from transferdb_spark.ext.multimodal import encode_ppm
    from transferdb_spark.streaming.corpus import (
        media_feature_stream,
        stream_media_files,
    )

    src = tmp_path / "media"
    src.mkdir()
    xx, yy = np.meshgrid(np.linspace(0, 255, 24), np.linspace(0, 255, 16))
    img = np.stack([xx, yy, xx], axis=2).astype(np.uint8)
    (src / "a.bin").write_bytes(encode_ppm(img))
    (src / "b.bin").write_bytes(encode_jpeg(img))

    out = media_feature_stream(stream_media_files(spark, str(src)))
    q = (
        out.writeStream.format("memory")
        .queryName("media_feats")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM media_feats").collect()
    assert len(rows) == 2
    feats = [np.array(r["features"]) for r in rows]
    assert all(len(f) > 8 and float(np.abs(f).sum()) > 0 for f in feats)
    # same pixels, two codecs: near-identical features
    assert float(np.abs(feats[0] - feats[1]).max()) < 0.05


def test_streaming_cms_matches_batch_and_compacts(spark, tmp_path, docs):
    """Mergeability end-to-end: stream the documents in small file
    drops, land per-batch partial sketches, and the cell-wise merged
    state must equal the one-shot batch sketch; compaction folds the
    partials without changing a single cell."""
    import os

    from transferdb_spark.ext.sketches import cms_sketch
    from transferdb_spark.streaming.corpus import stream_documents
    from transferdb_spark.streaming.hotkeys import (
        compact_sketch,
        ingest_sketch_stream,
        sketch_current_state,
    )

    src = str(tmp_path / "drops")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    sink = str(tmp_path / "sketch")
    q = ingest_sketch_stream(
        stream_documents(spark, src, schema=docs.schema, max_files_per_trigger=1),
        sink,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    want = {(r["row"], r["col"]): r["cnt"] for r in cms_sketch(docs).collect()}
    got = {
        (r["row"], r["col"]): r["cnt"]
        for r in sketch_current_state(spark, sink).collect()
    }
    assert got == want
    n_batches = len([d for d in os.listdir(sink) if d.startswith("batch_id=")])
    assert n_batches >= 2  # maxFilesPerTrigger=1 over 4 files

    removed = compact_sketch(spark, sink)
    assert removed == n_batches
    after = {
        (r["row"], r["col"]): r["cnt"]
        for r in sketch_current_state(spark, sink).collect()
    }
    assert after == want


def test_neardup_sig_store_join_no_exchange_on_store(spark):
    """The per-batch gate join must NOT re-shuffle the signature store:
    with the store bucketed by band_key, the only Exchange in the plan
    belongs to the arriving batch's (tiny) signature side — the store
    scans its buckets in place."""
    from pyspark.sql import functions as F

    from transferdb_spark.streaming.corpus import (
        SIG_BUCKETS,
        _band_keys,
        candidate_store_join,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon tok{i} zeta eta theta iota kappa") for i in range(20)],
        ["doc_id", "text"],
    )
    table = "t_neardup_sigs_plan"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        _band_keys(docs).withColumn("batch_id", F.lit(0))
        .write.mode("append").partitionBy("batch_id")
        .bucketBy(SIG_BUCKETS, "band_key").sortBy("band_key")
        .format("parquet").saveAsTable(table)
    )
    store = spark.table(table).where(F.col("batch_id") != 1)
    # pre-materialized batch side so the store is the ONLY other input:
    # any Exchange beyond the batch side's single one would be a store
    # re-shuffle regression
    batch_sigs = spark.createDataFrame(
        [(100, 1), (101, 2)], "doc_id long, band_key long"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            candidate_store_join(batch_sigs, store)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert "Bucketed: true" in plan
    assert plan.count("Exchange") == 1


def test_ingest_neardup_stream_gates_lsh_hits(spark, tmp_path):
    """Ingest-time near-dup gate: batch-2 documents that are light
    edits of kept batch-1 documents (high shingle Jaccard -> band
    collision) are suppressed; genuinely novel docs land; within-batch
    near-dup pairs keep only the min doc_id."""
    import random

    from transferdb_spark.streaming.corpus import ingest_neardup_stream

    rng = random.Random(3)
    words = [f"tok{i}" for i in range(400)]

    def doc(n=40):
        return " ".join(rng.choice(words) for _ in range(n))

    base = [doc() for _ in range(6)]
    batch1 = [(i, base[i]) for i in range(6)]
    # batch 2: 3 near-dups of batch-1 docs (one word changed), 2 novel,
    # and an in-batch near-dup pair (ids 20 < 21 -> 21 drops)
    def variant(t):
        parts = t.split()
        parts[-1] = "changed"
        return " ".join(parts)

    novel_pair = doc()
    batch2 = (
        [(10 + i, variant(base[i])) for i in range(3)]
        + [(15, doc()), (16, doc())]
        + [(20, novel_pair), (21, variant(novel_pair))]
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(batch1, ["doc_id", "text"]).coalesce(1).write.parquet(src)
    spark.createDataFrame(batch2, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    q = ingest_neardup_stream(
        spark, src, str(tmp_path / "tgt"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    kept = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "tgt" / "docs")).collect()
    }
    assert set(range(6)) <= kept                      # batch 1 all novel
    assert kept.isdisjoint({10, 11, 12})              # near-dups gated
    assert {15, 16, 20} <= kept                       # novel docs land
    assert 21 not in kept                             # in-batch pair loser


def test_ingest_novelty_stream_tracks_fresh_shingles(spark, tmp_path):
    """Per-batch shingle novelty: batch 1 against an empty store is
    100% novel; batch 2 (half re-crawled batch-1 docs, half fresh) has
    a rate matching an independently computed batch anti-join over the
    same shingle helpers."""
    import random

    from transferdb_spark.ext.dedup import SHINGLE_HASHES, _shingled
    from transferdb_spark.streaming.corpus import ingest_novelty_stream

    rng = random.Random(9)
    words = [f"w{i}" for i in range(500)]

    def doc(n=40):
        return " ".join(rng.choice(words) for _ in range(n))

    batch1 = [(i, doc()) for i in range(6)]
    # batch 2: 3 exact re-crawls of batch-1 docs + 3 fresh docs
    batch2 = [(10 + i, batch1[i][1]) for i in range(3)] + [
        (15 + i, doc()) for i in range(3)
    ]

    src = str(tmp_path / "src")
    b1 = spark.createDataFrame(batch1, ["doc_id", "text"])
    b2 = spark.createDataFrame(batch2, ["doc_id", "text"])
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    q = ingest_novelty_stream(
        spark, src, str(tmp_path / "tgt"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    rows = {
        r["batch_id"]: r
        for r in spark.read.parquet(str(tmp_path / "tgt" / "novelty")).collect()
    }
    assert set(rows) == {0, 1}

    def hashes(df):
        return (
            _shingled(df)
            .select(F.explode(F.expr(SHINGLE_HASHES)).alias("h"))
            .distinct()
        )

    h1, h2 = hashes(b1), hashes(b2)
    assert rows[0]["n_shingles"] == h1.count()
    assert rows[0]["n_novel"] == rows[0]["n_shingles"]  # empty store
    assert rows[0]["novelty_rate"] == 1.0
    exp2 = h2.join(h1, "h", "left_anti").count()
    assert rows[1]["n_shingles"] == h2.count()
    assert rows[1]["n_novel"] == exp2
    assert 0.0 < rows[1]["novelty_rate"] < 1.0


def test_ingest_drift_stream_matches_batch_curve(spark, tmp_path):
    """Equivalence: with one drop per source, arriving in source-name
    order, the streaming KL-drift curve must reproduce the batch
    source_kl_drift numbers exactly (same estimator, same ln grid,
    same DECIMAL sums)."""
    import random

    from transferdb_spark.ext.text import source_kl_drift
    from transferdb_spark.streaming.corpus import ingest_drift_stream

    rng = random.Random(17)
    words = [f"w{i}" for i in range(120)]

    def doc(n=60):
        return " ".join(rng.choice(words) for _ in range(n))

    batches = [
        [(10 * b + i, doc(), f"s{b}") for i in range(4)] for b in range(3)
    ]
    src = str(tmp_path / "src")
    all_rows = []
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string, source string") \
            .coalesce(1).write.mode("append").parquet(src)
        all_rows += rows

    q = ingest_drift_stream(
        spark, src, str(tmp_path / "tgt"), str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    got = {
        r["batch_id"]: r.asDict()
        for r in spark.read.parquet(str(tmp_path / "tgt" / "drift")).collect()
    }
    docs = spark.createDataFrame(all_rows, "doc_id long, text string, source string")
    want = {r["source"]: r.asDict() for r in source_kl_drift(docs).collect()}
    assert set(got) == {0, 1, 2}
    for b in range(3):
        g, w = got[b], want[f"s{b}"]
        assert g["n_tokens"] == w["n_tokens"]
        assert g["vocab"] == w["vocab"]
        assert g["n_hist_tokens"] == w["n_hist_tokens"]
        assert g["hist_vocab"] == w["hist_vocab"]
        assert g["kl_drift"] == w["kl_drift"]


def test_ingest_monitors_replay_identically(spark, tmp_path):
    """Replay safety: reprocessing the same drops from a FRESH
    checkpoint (every batch redelivered) must leave both monitors'
    metric rows and stores byte-identical — each batch excludes, then
    DROPs and rewrites, its own store partition."""
    import random
    import shutil

    from transferdb_spark.streaming.corpus import (
        ingest_drift_stream,
        ingest_novelty_stream,
    )

    rng = random.Random(31)
    words = [f"w{i}" for i in range(200)]
    src = str(tmp_path / "src")
    for b in range(2):
        rows = [(10 * b + i, " ".join(rng.choice(words) for _ in range(40))) for i in range(4)]
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1) \
            .write.mode("append").parquet(src)

    def run(kind, fn, out_name):
        tgt = str(tmp_path / f"tgt_{kind}")
        results = []
        for attempt in range(2):
            ckpt = str(tmp_path / f"ckpt_{kind}_{attempt}")  # fresh -> full redelivery
            q = fn(spark, src, tgt, ckpt, max_files_per_trigger=1)
            q.awaitTermination(180)
            rows = sorted(
                tuple(r) for r in
                spark.read.parquet(tgt + "/" + out_name)
                .orderBy("batch_id").collect()
            )
            results.append(rows)
        return results

    first, second = run("nov", ingest_novelty_stream, "novelty")
    assert first == second
    first, second = run("dr", ingest_drift_stream, "drift")
    assert first == second
