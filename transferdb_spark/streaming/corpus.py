"""Streaming corpus ingestion — incremental dedup for a growing
document corpus.

The batch dedup operators (ext/dedup.py) answer "what is duplicated in
THIS corpus"; a training pipeline also needs the incremental question:
new document drops arrive continuously, and each drop must be folded
in without re-deduplicating history. Same architecture as the CDC
apply (streaming/incr.py): per-batch IO is O(batch), the target is
never read during ingest, and dedup resolves at read time with
first-wins-per-digest (for dedup the EARLIEST copy is canonical — the
mirror image of CDC's latest-wins).

- `ingest_documents_stream`: foreachBatch lands each micro-batch in
  its own `batch_id=N` directory (overwrite → replay-safe), tagged
  with the content digest computed in-flight. Within-batch exact dups
  collapse immediately (cheap map-side win); cross-batch dups land and
  are resolved at read.
- `corpus_current_state`: one groupBy/window per read — the surviving
  (earliest) doc per digest.
- `compact_corpus`: rewrites the landing to its survivor snapshot so
  read cost tracks LIVE documents, not ingest history (on a table
  format this swap is one atomic commit).

At 100 TB: the read-time resolution shuffles on digest — the same
single wide op batch exact-dedup pays — and compaction amortizes it;
ingest itself stays narrow. Digests use xxhash64 over the normalized
text (engine-internal, production path).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from transferdb_spark.functions.hashing import fast_hash64

DIGEST_COL = "_digest"


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


def with_digest(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the content digest (normalized text → xxhash64 top-40)."""
    return docs.withColumn(DIGEST_COL, fast_hash64(F.trim(F.lower(F.col(text_col)))))


def stream_documents(
    spark: SparkSession,
    source_dir: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source over document parquet drops — each
    new file is one crawl/delivery batch."""
    if schema is None:
        files = [f for f in os.listdir(source_dir) if f.endswith(".parquet")]
        if not files:
            raise ValueError(f"no parquet seed in {source_dir} to infer schema")
        schema = spark.read.parquet(os.path.join(source_dir, files[0])).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def ingest_documents_stream(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    available_now: bool = True,
):
    """foreachBatch idempotent corpus ingest.

    Each micro-batch: digest in-flight, collapse within-batch exact
    dups (keep min doc_id — deterministic), land in `batch_id=N` with
    overwrite so a replayed batch rewrites the same files instead of
    duplicating. No target reads — cross-batch dups are resolved by
    `corpus_current_state` at read time."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        digested = with_digest(batch, text_col)
        survivors = (
            digested.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(DIGEST_COL).orderBy("doc_id")
                ),
            )
            .filter("_rn = 1")
            .drop("_rn")
        )
        survivors.write.mode("overwrite").parquet(
            os.path.join(target_dir, f"batch_id={batch_id}")
        )

    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(apply_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="300 milliseconds")
    return writer.start()


def corpus_current_state(spark: SparkSession, target_dir: str) -> DataFrame:
    """Surviving docs: FIRST-wins per digest — earliest ingest batch
    (the partition-discovered `batch_id`), then lowest doc_id
    (deterministic, engine-stable). The dedup mirror of
    cdc_current_state's latest-wins; like it, `batch_id` is dropped so
    a compaction snapshot stores no physical copy of the partition
    column."""
    log = spark.read.parquet(target_dir)
    rn = F.row_number().over(
        Window.partitionBy(DIGEST_COL).orderBy("batch_id", "doc_id")
    )
    return log.withColumn("_rn", rn).filter("_rn = 1").drop("_rn").drop("batch_id")


def compact_corpus(spark: SparkSession, target_dir: str) -> dict:
    """Rewrite the ingest log to its survivor snapshot (same
    underscore-tmp + rename-aside swap as compact_cdc_log). Survivors
    keep their place at the EARLIEST batch id, so first-wins ordering
    against future (higher-id) batches is preserved. Returns
    {"live_rows", "dirs_removed"}."""
    old_dirs = sorted(d for d in os.listdir(target_dir) if d.startswith("batch_id="))
    if len(old_dirs) <= 1:
        return {"live_rows": None, "dirs_removed": 0}
    min_bid = min(int(d.split("=", 1)[1]) for d in old_dirs)

    snap = corpus_current_state(spark, target_dir)

    tmp = os.path.join(target_dir, "_compact_tmp")
    snap.write.mode("overwrite").parquet(tmp)
    live_rows = spark.read.parquet(tmp).count()

    aside = []
    for d in old_dirs:
        src = os.path.join(target_dir, d)
        dst = os.path.join(target_dir, f"_old_{d}")
        os.rename(src, dst)
        aside.append(dst)
    # snapshot lands as the EARLIEST batch id: future ingest batches
    # have higher ids, so snapshot rows keep winning first-wins ties
    os.rename(tmp, os.path.join(target_dir, f"batch_id={min_bid}"))
    for d in aside:
        shutil.rmtree(d)
    return {"live_rows": live_rows, "dirs_removed": len(old_dirs)}


def stream_media_files(spark: SparkSession, source_dir: str) -> DataFrame:
    """Streaming media ingestion: each dropped file is one media blob.

    `binaryFile` gives (path, modificationTime, length, content) with
    checkpointed file offsets — the continuous analogue of a crawl
    delivering images/audio. No decode happens here; the stream stays
    a narrow scan until a feature stage consumes it."""
    schema = (
        "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
    )
    return (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", "*.bin")
        .load(source_dir)
    )


def media_feature_stream(files: DataFrame) -> DataFrame:
    """Continuous feature extraction: binary stream → MEDIA_SCHEMA
    shape → the SAME Arrow-batched real-decode kernel the batch path
    uses (ext/multimodal.extract_features). Per-batch work is a narrow
    map — no aggregation state, so this scales with arrival rate, not
    history."""
    from pyspark.sql import functions as F

    from transferdb_spark.ext.multimodal import extract_features

    media = files.select(
        F.xxhash64("path").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content"),
        F.struct(
            F.lit("image/auto").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    return extract_features(media, fake=False)


# ---------------------------------------------------------------------------
# ingest-time NEAR-dup gating — the incremental twin of the batch
# MinHash-LSH dedup (ext/dedup.py): each arriving micro-batch is
# checked against the accumulated band-signature store and against
# itself; only novel documents (and their signatures) land.


def _band_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) — the exact banding the batch
    operator uses, imported so the two paths can never drift."""
    from transferdb_spark.ext.dedup import BANDS, NUM_HASHES, _h64, minhash_signatures

    r = NUM_HASHES // BANDS
    band_hash = _h64(f"array_join(slice(sig, b * {r} + 1, {r}), ',')")
    bands = f"transform(sequence(0, {BANDS - 1}), b -> {band_hash})"
    return minhash_signatures(docs).select(
        "doc_id", F.posexplode(F.expr(bands)).alias("band_idx", "band_hash")
    )


def _band_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, band_key) — the banding above with (band_idx,
    band_hash) fused into ONE join key. A single key is what lets the
    signature store be bucketed by it: Spark only elides the
    store-side Exchange when the bucket spec covers ALL join keys
    (spark.sql.requireAllClusterKeysForCoPartition), so a two-column
    join would re-shuffle the store every batch."""
    return _band_sigs(docs).select(
        "doc_id", F.xxhash64("band_idx", "band_hash").alias("band_key")
    )


SIG_BUCKETS = 16


def _sig_table_name(target_dir: str) -> str:
    import hashlib

    return "neardup_sigs_" + hashlib.md5(target_dir.encode()).hexdigest()[:10]


def candidate_store_join(sigs: DataFrame, store: DataFrame) -> DataFrame:
    """doc_ids of batch docs colliding with the kept-signature store.

    Extracted so the plan is pinnable by test: with the store bucketed
    by band_key, the store side scans its buckets in place (Bucketed:
    true, no Exchange) and only the small per-batch side shuffles."""
    return (
        sigs.alias("n")
        .join(store.alias("s"), F.col("n.band_key") == F.col("s.band_key"))
        .select(F.col("n.doc_id").alias("doc_id"))
    )


def ingest_neardup_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    sig_table: str | None = None,
    sig_buckets: int = SIG_BUCKETS,
):
    """Documents stream → LSH near-dup gate → survivor landing.

    Per batch: band signatures are computed once (narrow + one groupBy),
    joined against (a) the signature STORE of all previously-kept docs
    and (b) the batch itself (min-doc_id wins within a band cluster);
    hits are suppressed, survivors land in docs/batch_id=N and their
    signatures append to the store partition batch_id=N. Replay safety:
    the store read keeps only STRICTLY-EARLIER partitions and the
    batch DROPs-then-rewrites its own, so a redelivered batch lands
    identically — and a restart from a wiped checkpoint (ids reset to
    0) cannot see "future" partitions either; any stale higher
    partitions are overwritten as the restarted stream advances.

    Scale: the store is a BUCKETED table keyed by band_key — the join
    that gates every batch reads the store's buckets in place with NO
    Exchange on the store relation (pinned by test); only the arriving
    batch's signatures shuffle, so per-batch cost is O(batch), not
    O(store). The store grows with kept docs × bands; bucket count
    should be sized so each bucket file stays in the hundreds of MB at
    target scale (a table format with bucket transforms would replace
    the DROP-PARTITION dance with an atomic commit, changing the sink,
    not the gate)."""
    schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    docs_dir = os.path.join(target_dir, "docs")
    table = sig_table or _sig_table_name(target_dir)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        sigs = _band_keys(batch).persist()
        try:
            drop = None
            if spark.catalog.tableExists(table):
                store = spark.table(table).where(
                    F.col("batch_id") < batch_id  # history = strictly earlier
                )
                drop = candidate_store_join(sigs, store)
            within = (
                sigs.alias("a")
                .join(
                    sigs.alias("b"),
                    (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.doc_id") > F.col("b.doc_id")),
                )
                .select(F.col("a.doc_id").alias("doc_id"))
            )
            drop = within if drop is None else drop.unionByName(within)
            kept = batch.join(drop.distinct(), "doc_id", "left_anti")
            # STATIC batch_id=N path write (round 9): replay semantics
            # identical to the dynamic-partitionOverwrite form (the
            # same single partition dir is overwritten; read-time
            # partition discovery restores batch_id), without loading
            # the dynamic-overwrite commit machinery per batch.
            kept.write.mode("overwrite").parquet(
                os.path.join(docs_dir, f"batch_id={batch_id}")
            )
            kept_sigs = sigs.join(kept.select("doc_id"), "doc_id").withColumn(
                "batch_id", F.lit(batch_id)
            )
            if spark.catalog.tableExists(table):
                spark.sql(
                    f"ALTER TABLE {table} DROP IF EXISTS PARTITION (batch_id={batch_id})"
                )
            (
                kept_sigs.write.mode("append")
                .partitionBy("batch_id")
                .bucketBy(sig_buckets, "band_key")
                .sortBy("band_key")
                .format("parquet")
                .saveAsTable(table)
            )
        finally:
            sigs.unpersist()

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# ingest-time NOVELTY accounting — the freshness monitor a continuous
# corpus ingest runs next to the dedup gate: per micro-batch, how many
# of the batch's distinct shingles has the store never seen?


def _shingle_store_name(target_dir: str) -> str:
    import hashlib

    return "novelty_sh_" + hashlib.md5(target_dir.encode()).hexdigest()[:10]


def ingest_novelty_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    store_table: str | None = None,
    store_buckets: int = SIG_BUCKETS,
):
    """Documents stream → per-batch shingle-novelty rate, persisted to
    ``target_dir/novelty`` as (batch_id, n_shingles, n_novel,
    novelty_rate) — the streaming twin of ext/dedup.source_novelty
    with arrival order in place of source order. A feed whose novelty
    rate decays to zero is re-crawling, not growing — the signal that
    gates further ingest spend.

    Replay safety mirrors the dedup gate: history is the
    STRICTLY-EARLIER store partitions, and a batch DROPs-then-rewrites
    its own — identical answers under same-id redelivery AND under a
    wiped-checkpoint restart (pinned by the replay-identity test). Scale
    mirrors it too: the store is a BUCKETED table keyed by the 8-byte
    shingle hash — the anti-join that classifies every batch reads
    store buckets in place (no store-side Exchange); only the batch's
    distinct hashes shuffle, so per-batch cost is O(batch shingles),
    not O(store)."""
    from transferdb_spark.ext.dedup import SHINGLE_HASHES, _shingled

    schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    out_dir = os.path.join(target_dir, "novelty")
    table = store_table or _shingle_store_name(target_dir)

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
            if spark.catalog.tableExists(table):
                spark.sql(
                    f"ALTER TABLE {table} DROP IF EXISTS PARTITION (batch_id={batch_id})"
                )
            (
                novel.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .partitionBy("batch_id")
                .bucketBy(store_buckets, "h")
                .sortBy("h")
                .format("parquet")
                .saveAsTable(table)
            )
        finally:
            hashes.unpersist()

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# ingest-time DISTRIBUTION-drift accounting — the streaming twin of
# ext/text.source_kl_drift with arrival order in place of source
# order: per micro-batch, KL(batch ‖ everything ingested before it).


def _term_store_name(target_dir: str) -> str:
    import hashlib

    return "drift_tc_" + hashlib.md5(target_dir.encode()).hexdigest()[:10]


def ingest_drift_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    store_table: str | None = None,
    store_buckets: int = SIG_BUCKETS,
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

    schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    out_dir = os.path.join(target_dir, "drift")
    table = store_table or _term_store_name(target_dir)

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
            if spark.catalog.tableExists(table):
                spark.sql(
                    f"ALTER TABLE {table} DROP IF EXISTS PARTITION (batch_id={batch_id})"
                )
            (
                counts.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .partitionBy("batch_id")
                .bucketBy(store_buckets, "term")
                .sortBy("term")
                .format("parquet")
                .saveAsTable(table)
            )
        finally:
            counts.unpersist()

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
