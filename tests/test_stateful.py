"""applyInPandasWithState custom stateful operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_streaming_dedup_first_seen_wins(spark, sf_dir, tmp_path):
    """Exact dedup over a document stream: duplicates WITHIN a batch
    collapse to the min doc_id, and duplicates of content seen in an
    earlier micro-batch are suppressed entirely. Survivor set equals
    the batch dedup_exact result because batch-1 ids < batch-2 ids."""
    from transferdb_spark.sources.registry import load_table
    from transferdb_spark.streaming.stateful import run_dedup_to_memory

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    first = docs.filter(F.col("doc_id") % 2 == 0)
    # second batch: fresh odd-id docs PLUS re-submissions of batch-1
    # texts under new (higher) ids — cross-batch duplicates
    resub = first.limit(30).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    # offset ALL batch-2 ids above batch-1's so first-seen-wins and
    # global min-id dedup agree even for natural dups straddling the
    # batch boundary
    second = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
        .unionByName(resub)
    )

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    first.coalesce(1).write.mode("overwrite").parquet(src)
    second.coalesce(1).write.mode("append").parquet(src)

    q = run_dedup_to_memory(spark, src, ckpt, name="t_dedup", max_files_per_trigger=1)
    q.awaitTermination(180)

    got = {
        (r["doc_id"], r["text"])
        for r in spark.sql("SELECT doc_id, text FROM t_dedup").collect()
    }
    expected = {
        (r["doc_id"], r["text"])
        for r in first.unionByName(second)
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
        .collect()
    }
    assert got == expected
    assert len(got) < first.count() + second.count()  # something was deduped


def test_streaming_dedup_ttl_evicts_idle_state(spark, tmp_path):
    """A duplicate arriving AFTER the TTL horizon re-emits (the idle
    eviction batch removed its state); a key that receives data while
    its state lives stays suppressed. The second file lands only after
    the first survivor is visible and an idle tick has passed."""
    import time

    from transferdb_spark.streaming.incr import stream_events
    from transferdb_spark.streaming.stateful import streaming_dedup

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    spark.createDataFrame([(1, "same text")], ["doc_id", "text"]).coalesce(
        1
    ).write.parquet(src)

    stream = stream_events(spark, src)
    q = (
        streaming_dedup(stream, ttl_ms=1)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ttl")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        def rows():
            return [
                r["doc_id"]
                for r in spark.sql("SELECT doc_id FROM t_ttl ORDER BY doc_id").collect()
            ]

        deadline = time.time() + 60
        while rows() != [1] and time.time() < deadline:
            time.sleep(0.5)
        assert rows() == [1]
        # idle ticks: the 1 ms timeout fires on the next empty batch,
        # evicting the hash state
        time.sleep(4)
        spark.createDataFrame([(2, "same text")], ["doc_id", "text"]).coalesce(
            1
        ).write.mode("append").parquet(src)
        while rows() != [1, 2] and time.time() < deadline:
            time.sleep(0.5)
        assert rows() == [1, 2]  # evicted -> the late duplicate re-emits
    finally:
        q.stop()


def test_streaming_transitions_match_batch_matrix(spark, sf_dir, tmp_path):
    """Streaming Markov transitions: the summed per-batch increments
    equal the batch event_transitions counts when micro-batches arrive
    in event-time order — including transitions that STRADDLE the
    batch boundary (carried by the per-user last-event state)."""
    import importlib.util

    from transferdb_spark.sources.registry import load_table
    from transferdb_spark.streaming.incr import run_available, stream_events
    from transferdb_spark.streaming.stateful import streaming_transitions

    spec = importlib.util.spec_from_file_location(
        "entry_for_trans", "/root/repo/__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    events = load_table(spark, sf_dir, "events").drop("props")
    mid = events.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    first = events.filter(F.col("ts") <= mid)
    second = events.filter(F.col("ts") > mid)
    src = str(tmp_path / "src")
    first.coalesce(1).write.mode("overwrite").parquet(src)
    second.coalesce(1).write.mode("append").parquet(src)

    stream = stream_events(spark, src, max_files_per_trigger=1)
    q = run_available(streaming_transitions(stream), str(tmp_path / "ckpt"), "t_trans")
    q.awaitTermination(180)

    got = {
        (r["src"], r["dst"]): r["total"]
        for r in spark.sql(
            "SELECT src, dst, SUM(n) AS total FROM t_trans GROUP BY src, dst"
        ).collect()
    }
    want = {
        (r["src"], r["dst"]): r["n"]
        for r in entry.event_transitions(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_funnel_matches_batch_counts(spark, sf_dir, tmp_path):
    """Streaming first-touch funnel: summed per-step increments equal
    the batch parameterized funnel's n_users when micro-batches arrive
    in event-time order — chains straddling the batch boundary are
    carried by the per-user progress state, and the 72 h bound
    terminally fails users exactly like the batch HAVING."""
    import importlib.util

    from transferdb_spark.sources.registry import load_table
    from transferdb_spark.streaming.incr import run_available, stream_events
    from transferdb_spark.streaming.stateful import streaming_funnel

    spec = importlib.util.spec_from_file_location(
        "entry_for_funnel", "/root/repo/__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    events = load_table(spark, sf_dir, "events").drop("props")
    mid = events.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    src = str(tmp_path / "src")
    events.filter(F.col("ts") <= mid).coalesce(1).write.mode("overwrite").parquet(src)
    events.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(src)

    stream = stream_events(spark, src, max_files_per_trigger=1)
    q = run_available(streaming_funnel(stream), str(tmp_path / "ckpt"), "t_funnel")
    q.awaitTermination(180)

    got = {
        r["step"]: r["total"]
        for r in spark.sql(
            "SELECT step, SUM(n) AS total FROM t_funnel GROUP BY step"
        ).collect()
    }
    want = {
        r["step"]: r["n_users"]
        for r in entry.funnel_conversion(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_funnel_drop_terminal_frees_state(spark, tmp_path):
    """ADVICE regression: drop_terminal removes a user's state the
    moment they complete (or terminally fail) the funnel — proven
    behaviorally: after completion, a fresh step-1 event RE-OPENS the
    funnel (step-1 increment emitted again), which can only happen if
    the terminal state was dropped. Default (drop_terminal=False)
    keeps the terminal state and stays silent on the same input."""
    import datetime as dt

    def drops(src):
        t0 = dt.datetime(2024, 1, 1)
        b1 = [(1, t0, 1, "view"), (1, t0 + dt.timedelta(minutes=1), 2, "click")]
        b2 = [(1, t0 + dt.timedelta(hours=1), 3, "view")]
        cols = ["user_id", "ts", "event_id", "event_type"]
        spark.createDataFrame(b1, cols).coalesce(1).write.mode("overwrite").parquet(src)
        spark.createDataFrame(b2, cols).coalesce(1).write.mode("append").parquet(src)

    from transferdb_spark.streaming.incr import run_available, stream_events
    from transferdb_spark.streaming.stateful import streaming_funnel

    def run(name, **kw):
        src = str(tmp_path / f"src_{name}")
        drops(src)
        stream = stream_events(spark, src, max_files_per_trigger=1)
        q = run_available(
            streaming_funnel(stream, steps=["view", "click"], **kw),
            str(tmp_path / f"ck_{name}"),
            name,
        )
        q.awaitTermination(180)
        return {
            r["step"]: r["total"]
            for r in spark.sql(
                f"SELECT step, SUM(n) AS total FROM {name} GROUP BY step"
            ).collect()
        }

    # default: user 1 completed in batch 1; the later 'view' is ignored
    assert run("f_keep") == {1: 1, 2: 1}
    # drop_terminal: state was freed at completion, so the later
    # 'view' opens a new attempt -> a second step-1 increment
    assert run("f_drop", drop_terminal=True) == {1: 2, 2: 1}


def test_streaming_transitions_ttl_evicts_idle_users(spark, tmp_path):
    """transitions ttl_ms: a user idle past the TTL is evicted, so the
    edge spanning the idle gap is NOT counted — the bounded-state
    horizon semantics (streaming_dedup's knob, same contract)."""
    import datetime as dt
    import time

    from transferdb_spark.streaming.incr import stream_events
    from transferdb_spark.streaming.stateful import streaming_transitions

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1)
    cols = ["user_id", "ts", "event_id", "event_type"]
    spark.createDataFrame([(1, t0, 1, "a")], cols).coalesce(1).write.parquet(src)

    stream = stream_events(spark, src)
    q = (
        streaming_transitions(stream, ttl_ms=1)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_trans_ttl")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        time.sleep(5)  # idle ticks fire the 1 ms timeout -> state evicted
        # b then c in one batch: if state survived, a->b AND b->c both
        # appear; after eviction the chain restarts at b, so ONLY b->c
        spark.createDataFrame(
            [
                (1, t0 + dt.timedelta(minutes=1), 2, "b"),
                (1, t0 + dt.timedelta(minutes=2), 3, "c"),
            ],
            cols,
        ).coalesce(1).write.mode("append").parquet(src)
        deadline = time.time() + 60
        edges = lambda: {  # noqa: E731
            (r["src"], r["dst"])
            for r in spark.sql("SELECT src, dst FROM t_trans_ttl").collect()
        }
        while not edges() and time.time() < deadline:
            time.sleep(0.5)
        assert edges() == {("b", "c")}
    finally:
        q.stop()


def test_transition_matrix_custom_whitelist_differential(spark, sf_dir, tmp_path):
    """VERDICT item: the parameterized transition matrix with a CUSTOM
    whitelist — differential against a DuckDB oracle generated from
    the SAME list (journeys re-link across dropped events), plus the
    streaming twin's summed increments matching the batch matrix for
    that whitelist across a micro-batch boundary."""
    import duckdb

    from transferdb_spark.operators.funnel import (
        transition_matrix,
        transition_types_relation,
        transitions_sql_from_types,
    )
    from transferdb_spark.sources.registry import load_table, table_path
    from transferdb_spark.streaming.incr import run_available, stream_events
    from transferdb_spark.streaming.stateful import streaming_transitions

    types = ["click", "purchase", "view"]  # drops signup/error -> re-links
    ev = load_table(spark, sf_dir, "events").drop("props")
    got = {
        (r["src"], r["dst"]): (r["n"], r["prob"])
        for r in transition_matrix(ev, transition_types_relation(spark, types)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{table_path(sf_dir, 'events')}'"
    )
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(transitions_sql_from_types(types)).fetchall()
    }
    assert got == want and got  # non-empty and exact

    # streaming twin, same whitelist, split across two micro-batches
    mid = ev.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    src = str(tmp_path / "src")
    ev.filter(F.col("ts") <= mid).coalesce(1).write.mode("overwrite").parquet(src)
    ev.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(src)
    stream = stream_events(spark, src, max_files_per_trigger=1)
    q = run_available(
        streaming_transitions(stream, event_types=types), str(tmp_path / "ckpt"), "t_trans_wl"
    )
    q.awaitTermination(180)
    summed = {
        (r["src"], r["dst"]): r["total"]
        for r in spark.sql(
            "SELECT src, dst, SUM(n) AS total FROM t_trans_wl GROUP BY src, dst"
        ).collect()
    }
    assert summed == {k: n for k, (n, _p) in got.items()}
