"""Streaming corpus monitors — per-batch accounting for a growing
document corpus.

A training pipeline receives new document drops continuously; these
foreachBatch streams measure each drop against everything ingested
before it, without re-reading history:

- `ingest_novelty_stream`: the share of a batch's distinct shingles
  the store has never seen (the streaming twin of
  ext/dedup.source_novelty).
- `ingest_drift_stream`: KL(batch ‖ history) over term counts (the
  streaming twin of ext/text.source_kl_drift).

Both keep a BUCKETED store table keyed by the join column, so the
per-batch join reads store buckets in place and only the batch side
shuffles: per-batch cost is O(batch), not O(store). History is the
STRICTLY-EARLIER store partitions and each batch drops-then-rewrites
its own, so a redelivered batch lands identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transferdb_spark.streaming.incr import run_available, stream_events


def _write_metric_row(
    spark: SparkSession, path: str, cols: list[tuple[str, object, str]]
) -> None:
    """Overwrite ``path`` with ONE metric row built from literals.

    spark.range(0, 1, 1, numPartitions=1) + lit columns is a single
    1-task JVM-only job: no createDataFrame Python boundary, no
    repartition(1) shuffle (the previous shape), and the caller passes
    the STATIC partition dir so no dynamic-partitionOverwrite machinery
    runs. NULLs are typed via the explicit cast."""
    row = spark.range(0, 1, 1, 1).select(
        *[F.lit(v).cast(t).alias(n) for n, v, t in cols]
    )
    row.write.mode("overwrite").parquet(path)


SIG_BUCKETS = 16


def _store_name(kind: str, target_dir: str) -> str:
    """Catalog name of the ``kind`` monitor's store table ("novelty":
    shingle hashes, "drift": term counts), one per target dir."""
    import hashlib

    prefix = {"novelty": "novelty_sh_", "drift": "drift_tc_"}[kind]
    return prefix + hashlib.md5(target_dir.encode()).hexdigest()[:10]


def _rewrite_store_partition(
    spark: SparkSession, rows: DataFrame, table: str, batch_id: int, key: str
) -> None:
    """Land ``rows`` as the store's ``batch_id`` partition, bucketed
    and sorted by ``key``: DROP the partition first, so a redelivered
    batch rewrites its own rows instead of duplicating them."""
    if spark.catalog.tableExists(table):
        spark.sql(f"ALTER TABLE {table} DROP IF EXISTS PARTITION (batch_id={batch_id})")
    (
        rows.withColumn("batch_id", F.lit(batch_id))
        .write.mode("append")
        .partitionBy("batch_id")
        .bucketBy(SIG_BUCKETS, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


# ---------------------------------------------------------------------------
# ingest-time NOVELTY accounting — the freshness monitor of a continuous
# corpus ingest: per micro-batch, how many of the batch's distinct
# shingles has the store never seen?


def ingest_novelty_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Documents stream → per-batch shingle-novelty rate, persisted to
    ``target_dir/novelty`` as (batch_id, n_shingles, n_novel,
    novelty_rate) — the streaming twin of ext/dedup.source_novelty
    with arrival order in place of source order. A feed whose novelty
    rate decays to zero is re-crawling, not growing — the signal that
    gates further ingest spend.

    Replay safety: history is the STRICTLY-EARLIER store partitions,
    and a batch DROPs-then-rewrites its own — identical answers under
    same-id redelivery AND under a wiped-checkpoint restart (pinned by
    the replay-identity test). Scale: the store is a BUCKETED table
    keyed by the 8-byte shingle hash — the anti-join that classifies every batch reads
    store buckets in place (no store-side Exchange); only the batch's
    distinct hashes shuffle, so per-batch cost is O(batch shingles),
    not O(store)."""
    from transferdb_spark.ext.dedup import SHINGLE_HASHES, _shingled

    out_dir = os.path.join(target_dir, "novelty")
    table = _store_name("novelty", target_dir)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        hashes = (
            _shingled(batch)
            .select(F.explode(F.expr(SHINGLE_HASHES)).alias("h"))
            .distinct()
            .persist()
        )
        try:
            novel = hashes
            store = None
            if spark.catalog.tableExists(table):
                store = spark.table(table).where(
                    F.col("batch_id") < batch_id  # history = strictly earlier
                )
                novel = hashes.join(store.select("h"), "h", "left_anti")
            if store is not None:
                # ONE agg job for both counts (round 10): a left join
                # against the bucketed store with a seen-flag replaces
                # the two separate count jobs (and the novel persist
                # they filled) — per-batch driver jobs 3 → 2; the
                # store write below recomputes the anti-join once from
                # the cached hashes, which the bucketed in-place read
                # keeps O(batch)
                row = (
                    hashes.join(
                        store.select("h").withColumn("_seen", F.lit(1)), "h", "left"
                    )
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(
                            F.when(F.col("_seen").isNull(), 1).otherwise(0)
                        ).alias("nn"),
                    )
                    .first()
                )
                n_sh, n_novel = int(row["n"]), int(row["nn"] or 0)
            else:
                n_sh = hashes.count()
                n_novel = n_sh
            rate = round(n_novel / n_sh, 6) if n_sh else 0.0
            # one-row metric write: spark.range(...,numPartitions=1) +
            # literal columns is a single 1-task JVM-only job — no
            # Python-boundary createDataFrame, no repartition(1)
            # shuffle, and writing the STATIC batch_id=N path directly
            # drops the dynamic-partitionOverwrite machinery (~1.2 s
            # of first-use cost measured in its timed window; replay
            # semantics unchanged — the same single partition dir is
            # overwritten, and read-time partition discovery restores
            # batch_id exactly as the dynamic write's path did).
            _write_metric_row(
                spark,
                os.path.join(out_dir, f"batch_id={batch_id}"),
                [
                    ("n_shingles", n_sh, "long"),
                    ("n_novel", n_novel, "long"),
                    ("novelty_rate", rate, "double"),
                ],
            )
            _rewrite_store_partition(spark, novel, table, batch_id, "h")
        finally:
            hashes.unpersist()

    stream = stream_events(spark, source_dir, max_files_per_trigger=max_files_per_trigger)
    return run_available(stream, checkpoint_dir, apply_batch)


# ---------------------------------------------------------------------------
# ingest-time DISTRIBUTION-drift accounting — the streaming twin of
# ext/text.source_kl_drift with arrival order in place of source
# order: per micro-batch, KL(batch ‖ everything ingested before it).


def ingest_drift_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Documents stream → per-batch vocabulary KL drift, persisted to
    ``target_dir/drift`` as (batch_id, n_tokens, vocab, v_new,
    n_hist_tokens, hist_vocab, kl_drift). Same estimator as the batch
    [[source_kl_drift]] (support-restricted KL, add-one smoothing on
    the history side, ln quantized to BIGINT micro-units, DECIMAL
    sums), so when each drop is one source the stream reproduces the
    batch curve exactly — pinned by test. A feed whose drift collapses
    to ~0 is sending the same mix; a spike is a changed upstream.

    Scale/replay mirror the novelty monitor: the token-count store is
    a BUCKETED table keyed by term (store side joins its buckets in
    place, no Exchange; only the batch's vocabulary shuffles), history
    SCALARS come from the tiny per-batch metric rows (never a store
    scan), and history is the STRICTLY-EARLIER partitions with the
    batch DROPping-then-rewriting its own — identical answers under
    same-id redelivery and under a wiped-checkpoint restart (pinned by
    the replay-identity test). Per-batch cost is O(batch vocabulary),
    not O(store)."""
    from transferdb_spark.ext.text import TOKENS

    out_dir = os.path.join(target_dir, "drift")
    table = _store_name("drift", target_dir)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        counts = (
            batch.select(F.explode(F.expr(TOKENS)).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("c"))
            .persist()
        )
        try:
            # history scalars from prior metric rows — O(#batches)
            n_h = v_h = 0
            if os.path.isdir(out_dir):
                prior = (
                    spark.read.parquet(out_dir)
                    .where(F.col("batch_id") < batch_id)  # history = strictly earlier
                    .agg(F.sum("n_tokens").alias("n"), F.sum("v_new").alias("v"))
                    .first()
                )
                n_h, v_h = int(prior["n"] or 0), int(prior["v"] or 0)
            hist = None
            if spark.catalog.tableExists(table):
                hist = (
                    spark.table(table)
                    .where(F.col("batch_id") < batch_id)
                    .select("term", F.col("c").alias("hc"))
                )
            if hist is not None:
                ch = (
                    counts.join(hist, "term", "left")
                    .groupBy("term", "c")
                    .agg(F.coalesce(F.sum("hc"), F.lit(0)).alias("ch"))
                )
            else:
                ch = counts.select("term", "c", F.lit(0).alias("ch"))
            ln_arg = (F.col("c").cast("double") * F.lit(float(n_h + v_h))) / (
                F.col("n").cast("double") * (F.col("ch") + 1).cast("double")
            )
            agg = ch.crossJoin(
                ch.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("vocab"))
            ).agg(
                F.first("n").alias("n"),
                F.first("vocab").alias("vocab"),
                F.sum(F.when(F.col("ch") == 0, 1).otherwise(0)).alias("v_new"),
                F.sum(
                    F.when(
                        F.lit(n_h > 0),
                        (
                            F.col("c")
                            * F.floor(F.log(ln_arg) * F.lit(1e6) + F.lit(0.5)).cast("long")
                        ).cast("decimal(38,0)"),
                    )
                ).alias("ssum"),
            ).first()
            n_b, vocab_b, v_new = int(agg["n"] or 0), int(agg["vocab"] or 0), int(agg["v_new"] or 0)
            kl = None
            if n_h > 0 and agg["ssum"] is not None and n_b:
                # driver-side twin of canonical.stable_round (half-up
                # via floor — matches the batch operator bit-for-bit)
                import math

                kl = math.floor(float(agg["ssum"]) / (n_b * 1e6) * 1e9 + 0.5) / 1e9
            # one-row metric write — same static-path literal-row shape
            # as the novelty stream (see _write_metric_row)
            _write_metric_row(
                spark,
                os.path.join(out_dir, f"batch_id={batch_id}"),
                [
                    ("n_tokens", n_b, "long"),
                    ("vocab", vocab_b, "long"),
                    ("v_new", v_new, "long"),
                    ("n_hist_tokens", n_h, "long"),
                    ("hist_vocab", v_h, "long"),
                    ("kl_drift", kl, "double"),
                ],
            )
            _rewrite_store_partition(spark, counts, table, batch_id, "term")
        finally:
            counts.unpersist()

    stream = stream_events(spark, source_dir, max_files_per_trigger=max_files_per_trigger)
    return run_available(stream, checkpoint_dir, apply_batch)
