"""Incremental replication — Structured Streaming over the event stream.

The reference's `all` mode polls LogMiner every 300 ms, filters records
by per-table SCN checkpoints (≥/> reset dance for re-read redo), and
applies them through ordered worker pools with UPDATE = DELETE+REPLACE
(/root/reference/module/migrate/sql/oracle/o2m/incr.go:61-247,
public/logminer.go:100-193, o2m/apply.go:58-233).

Structured Streaming replaces every piece of that machinery:
- poll loop        -> micro-batch trigger (availableNow: drain what has
                      landed, then stop)
- SCN checkpoints  -> the streaming checkpoint (offsets, exactly-once)
- ≥/> re-read gate -> idempotent anti-join apply in foreachBatch
- ordered appliers -> per-key dedupe inside the batch + idempotent merge
- late records     -> event-time watermark on windowed aggregations

The `events` fixture plays the redo stream: event_id ≈ SCN (monotone),
event_type ≈ operation, ts = event time.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from transferdb_spark.state.store import _write_json_atomic


def stream_events(
    spark: SparkSession,
    source_dir: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source over event parquet drops.

    Each new file in source_dir is a redo-log batch — the analogue of
    LogMiner's archived-log discovery (T1, incr.go:507-548).
    max_files_per_trigger caps each micro-batch (honored by availableNow
    too), mirroring the reference's bounded per-poll log pull."""
    if schema is None:
        files = [f for f in os.listdir(source_dir) if f.endswith(".parquet")]
        if not files:
            raise ValueError(f"no parquet seed in {source_dir} to infer schema")
        schema = spark.read.parquet(os.path.join(source_dir, files[0])).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # Same source-boundary rule as the batch registry: fixture parquet
    # has shipped as TIMESTAMP_NTZ, which watermarks reject — cast to
    # session-tz TIMESTAMP (epoch-preserving, session tz pinned UTC).
    from transferdb_spark.sources.registry import _normalize_ntz

    return _normalize_ntz(reader.parquet(source_dir))


def run_available(
    df: DataFrame, checkpoint_dir: str, sink, output_mode: str = "append"
):
    """Start ``df`` as an availableNow query (drain what has landed,
    then stop) and return the started query — the one stream harness.

    ``sink`` is either a foreachBatch function ``(batch, batch_id)`` or
    the name of an in-memory table (the memory sink). The checkpoint
    holds the source offsets, so a restart resumes where the last run
    committed."""
    w = (
        df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    if isinstance(sink, str):
        return w.format("memory").queryName(sink).start()
    return w.foreachBatch(sink).start()


def _load_gate(checkpoint_dir: str) -> dict:
    path = os.path.join(checkpoint_dir, "scn_gate.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    return {"max_scn": None, "batch_floors": {}}


def cdc_landed_rows(checkpoint_dir: str) -> int:
    """Rows apply_cdc_stream has landed through ``checkpoint_dir``, all
    runs together, read from its SCN gate file — no scan of the target.
    The difference across one run is what that run's batches landed."""
    return _load_gate(checkpoint_dir).get("landed_rows", 0)


def _latest_per_key(batch: DataFrame, key: str, scn_col: str) -> DataFrame:
    """Newest image per business key within one micro-batch — the
    UPDATE = DELETE+REPLACE collapse (ties break on ts)."""
    return (
        batch.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(key).orderBy(F.desc(scn_col), F.desc("ts"))
            ),
        )
        .filter("_rn = 1")
        .drop("_rn")
    )


def apply_cdc_stream(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key: str = "event_id",
    scn_col: str = "event_id",
):
    """foreachBatch idempotent apply — the T4-T6 replacement.

    Per-batch IO is O(batch) and NEVER reads the target, so apply cost
    does not grow with target size. Three mechanisms replace the old
    full-target anti-join:

    1. **SCN gate** — the reference drops redo records at or below the
       per-table SCN checkpoint because LogMiner re-reads redo
       (/root/reference/module/migrate/sql/oracle/public/
       logminer.go:134-174). Same here: a tiny driver-side watermark
       (max applied `scn_col`) filters re-delivered records out of each
       batch. State is O(1) per stream, persisted next to the
       checkpoint so restarts keep the gate.
    2. **Batch-idempotent writes** — each micro-batch lands in its own
       `batch_id=N` subdirectory with overwrite, so a batch replayed
       after a failure between write and checkpoint commit rewrites the
       same files instead of duplicating them (the ≥ half of the
       reference's ≥/> dance).
    3. **Latest-wins log** — the target is an append-only change log;
       `cdc_current_state` resolves the newest image per business key
       at read time. An update for an already-applied key therefore
       lands and wins — the parquet analogue of the reference's
       UPDATE = DELETE+REPLACE apply (o2m/apply.go:119-233) — instead
       of being anti-joined away.

    The gate also keeps the running count of landed rows
    (cdc_landed_rows), taken in the same observed write.
    """

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        gate = _load_gate(checkpoint_dir)
        bkey = str(batch_id)
        if bkey in gate["batch_floors"]:
            floor = gate["batch_floors"][bkey]  # replayed batch: original gate
        else:
            floor = gate["max_scn"]
        gated = batch if floor is None else batch.filter(F.col(scn_col) > floor)
        # the batch's max SCN and row count are observed DURING the
        # write: each key keeps its max-SCN row, so max over `latest` =
        # max over `gated` and the batch is read once (an empty batch
        # observes None)
        obs = Observation()
        latest = _latest_per_key(gated, key, scn_col).observe(
            obs, F.max(scn_col).alias("max_scn"), F.count(F.lit(1)).alias("rows")
        )
        latest.write.mode("overwrite").parquet(
            os.path.join(target_dir, f"batch_id={batch_id}")
        )
        batch_max, rows = obs.get["max_scn"], obs.get["rows"]
        new_max = gate["max_scn"]
        if batch_max is not None:
            new_max = batch_max if new_max is None else max(new_max, batch_max)
        # a replayed batch overwrote its own files: its rows replace
        # the count it added before
        landed = gate.get("landed_rows", 0) - gate.get("batch_rows", {}).get(bkey, 0) + rows
        # keep only this batch's floor and rows: earlier batches are committed
        gate = {
            "max_scn": new_max,
            "batch_floors": {bkey: floor},
            "batch_rows": {bkey: rows},
            "landed_rows": landed,
        }
        os.makedirs(checkpoint_dir, exist_ok=True)
        _write_json_atomic(os.path.join(checkpoint_dir, "scn_gate.json"), gate)

    return run_available(stream, checkpoint_dir, apply_batch)


def cdc_current_state(
    spark: SparkSession, target_dir: str, key: str = "event_id", scn_col: str = "event_id"
) -> DataFrame:
    """Latest-wins view over the CDC change log landed by
    apply_cdc_stream: one row per key, the image with the highest SCN.

    This is where UPDATE semantics live (reference applies
    UPDATE = DELETE+REPLACE into a mutable DB; a parquet log resolves
    it at read time). At 100 TB the window shuffles once on the key —
    or compact periodically by rewriting the log through this view."""
    df = spark.read.parquet(target_dir)
    w = Window.partitionBy(key).orderBy(F.desc(scn_col), F.desc("ts"), F.desc("batch_id"))
    out = df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
    return out.drop("batch_id")


def compact_cdc_log(
    spark: SparkSession,
    target_dir: str,
    key: str = "event_id",
    scn_col: str = "event_id",
) -> dict:
    """Compact the landed CDC change log to its current state.

    The change log appends one `batch_id=N` directory per micro-batch,
    so `cdc_current_state` read cost grows with HISTORY. Compaction
    rewrites the log so read cost tracks LIVE KEYS: resolve the newest
    image per key (same latest-wins rule as the read path), land it as
    one snapshot batch directory, and drop the historical ones. SCN
    ordering stays correct because snapshot rows keep their original
    `scn_col` values — a later change always outranks the snapshot.
    The streaming writer keeps appending new batch dirs afterward
    (its epoch ids come from the checkpoint, not from dir names).

    Crash safety on a plain filesystem: the snapshot is first written
    to an underscore-prefixed dir (ignored by Spark's partition
    discovery), old dirs are renamed aside before the snapshot is
    renamed in, and the aside dirs are removed last. Each call first
    settles a swap cut short: `_old_*` dirs are renamed back while
    `_compact_tmp` (the snapshot not yet in) exists, else deleted. A
    table format (Delta/Iceberg) makes this swap one atomic commit —
    the reference's meta-DB transaction (database/meta/meta.go:100-117).
    The SCN gate's `landed_rows` is untouched: after a compaction it
    still counts rows the stream landed, not rows the log holds.

    Returns {"live_rows", "dirs_removed"}, live_rows observed during
    the snapshot write.
    """
    import shutil

    tmp = os.path.join(target_dir, "_compact_tmp")
    for d in sorted(d for d in os.listdir(target_dir) if d.startswith("_old_")):
        if os.path.exists(tmp):
            os.rename(os.path.join(target_dir, d), os.path.join(target_dir, d[len("_old_"):]))
        else:
            shutil.rmtree(os.path.join(target_dir, d))
    old_dirs = sorted(
        d for d in os.listdir(target_dir) if d.startswith("batch_id=")
    )
    if len(old_dirs) <= 1:
        return {"live_rows": None, "dirs_removed": 0}
    max_bid = max(int(d.split("=", 1)[1]) for d in old_dirs)

    obs = Observation()
    snap = cdc_current_state(spark, target_dir, key=key, scn_col=scn_col)
    snap.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(tmp)
    live_rows = obs.get["rows"]

    for d in old_dirs:
        os.rename(os.path.join(target_dir, d), os.path.join(target_dir, f"_old_{d}"))
    os.rename(tmp, os.path.join(target_dir, f"batch_id={max_bid}"))
    for d in old_dirs:
        shutil.rmtree(os.path.join(target_dir, f"_old_{d}"))
    return {"live_rows": live_rows, "dirs_removed": len(old_dirs)}


def hourly_rollup_stream(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T-family windowed aggregation with late-data watermark.

    The reference has no window semantics (SCN ordering only) — this is
    the Spark-native upgrade: tumbling 1h windows, late events beyond
    the watermark dropped deterministically.

    Sizing note: a streaming aggregation's STATE partition count is
    spark.sql.shuffle.partitions at the query's FIRST start and is
    pinned into the checkpoint permanently — set it to the expected
    state volume (keys, not input rows) BEFORE first start; per-task
    state-store overhead makes oversizing expensive at every trigger.
    Drive it with ``run_available(hourly_rollup_stream(stream_events(
    spark, src)), ckpt, name, output_mode="complete")``."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def dedup_stream(
    stream: DataFrame, keys: list[str] | None = None, watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once record stream from an at-least-once source.

    dropDuplicatesWithinWatermark keeps one copy of each key and
    expires its dedup state once event time passes the watermark —
    bounded state, unlike dropDuplicates' grow-forever set. This is
    the streaming-native form of the reference's ≥/> SCN re-read gate
    (logminer.go:134-174): re-delivered redo inside the window is
    dropped by key, not by offset arithmetic."""
    keys = keys or ["event_id"]
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def attribution_join_stream(
    clicks: DataFrame, purchases: DataFrame, within: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Stream-stream inner join bounded by an event-time range: each
    purchase is attributed to the same user's click(s) in the preceding
    `within` interval.

    Both sides carry watermarks AND the join condition bounds the two
    event times relative to each other, so Spark can evict join state
    as the watermark advances — state size tracks the `within` window,
    not stream length. Without the range condition this would be an
    unbounded-state join, which does not survive at scale.

    The reference has no stream-stream semantics (SCN ordering only,
    incr.go:61-247) — this is the Spark-native upgrade. ``watermark``
    (default: the join window itself) is the lateness allowance; the
    one-source wrapper with the ORACLED batch twin lives in
    streaming/joins.py and delegates here."""
    wm = watermark or within
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", wm)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", wm)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}"))
    )
    return c.join(p, cond, "inner").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )
