"""Streaming corpus monitor tests: per-batch novelty and drift."""

from __future__ import annotations

from pyspark.sql import functions as F


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
