"""`full` mode — chunked full table migration (SURVEY.md §3.1).

Reference pipeline: snapshot SCN → chunk split → per-chunk
SELECT-normalize-INSERT through three nested worker pools
(/root/reference/module/migrate/sql/oracle/o2m/full.go:66-385).

Spark-first shape: ONE declarative job per table —
read → normalize select → write, narrow, with no exchange. Chunk
identity is the persisted predicate plan (StateStore), not the file
layout: a fresh run lands the whole table in one write and marks every
chunk in one state flush, and resume or failed-chunk retry re-runs a
chunk with its predicate pushed into the parquet scan. Spark's
scheduler is the worker pool, with one write task per scan split.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from transferdb_spark.operators.normalize import normalize_projection
from transferdb_spark.plans.chunker import elect_split_key, plan_chunks, plan_chunks_quantile
from transferdb_spark.state.store import FAILED, SUCCESS, StateStore


def charset_projection(df: DataFrame, source_charset: str, target_charset: str) -> DataFrame:
    """In-flight value charset conversion (F9 wired into migrate).

    The reference converts every extracted value source-charset →
    UTF8MB4 → target-charset before the INSERT
    (/root/reference/database/oracle/full.go:126-135,
    /root/reference/common/strings.go:383-451). Spark strings are UTF-8
    internally, so the conversion lands on the byte boundaries:
    BINARY columns carrying source-charset bytes are decoded to proper
    strings; when the target charset is itself non-UTF-8 (byte-oriented
    landing, e.g. a GBK CSV drop), string columns are encoded to
    target-charset bytes. A narrow projection — no shuffle, and the
    CJK charsets route through Arrow-batched pandas UDFs
    (functions/charset.py), never row-at-a-time Python."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType, StringType

    from transferdb_spark.functions.charset import canonical_charset, decode_from, encode_as

    src = canonical_charset(source_charset)
    dst = canonical_charset(target_charset)
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, BinaryType) and src != "UTF-8":
            c = decode_from(f.name, source_charset)
            if dst != "UTF-8":
                c = encode_as(c, target_charset)
            cols.append(c.alias(f.name))
        elif isinstance(f.dataType, StringType) and dst != "UTF-8":
            cols.append(encode_as(f.name, target_charset).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(cols)


def full_migrate_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    workdir: str,
    n_chunks: int = 32,
    key: str | None = None,
    normalize: bool = False,
    store: StateStore | None = None,
    user_range: str | None = None,
    partition_cols: list[str] | None = None,
    chunk_strategy: str = "width",
    source_charset: str | None = None,
    target_charset: str | None = None,
    layout_cols: list[str] | None = None,
    bounds: tuple[int, int] | None = None,
) -> str:
    """Migrate one table to the parquet target; returns target path.

    normalize=False keeps native types (lossless lakehouse landing);
    True applies the reference's canonical string projection (P1).
    user_range is the P5 operator — a user WHERE clause ANDed with
    every chunk predicate (reference merges config `range` into chunk
    SQL, module/migrate/sql/oracle/o2m/full.go:740-804); Catalyst
    pushes it into the scan alongside the chunk ranges.
    partition_cols writes a hive-partitioned layout (the 100 TB table
    organization: partition pruning serves the dominant filter axis,
    parquet row-group stats serve the rest).
    chunk_strategy="quantile" plans equi-depth chunks from approximate
    key quantiles — use on skewed keys, where fixed-width ranges put
    most of the table in one straggler chunk.
    layout_cols Z-orders the written files on those columns
    (plans/layout.py) — pick the 2-3 dominant FILTER columns of
    downstream queries so min/max file skipping serves all of them. It
    adds a column-range scan and one range exchange that the default
    narrow write does not pay; chunk bookkeeping and resume are
    unchanged (resume appends per-chunk predicates without
    re-clustering).
    bounds is the split key's (min, max) when the caller already has
    it: elect_split_key returns it with the key, so a table is planned
    from one aggregate.
    Schema evolution across a resume is safe: the chunk plan hangs off
    the split key only, so a source that gained columns between runs
    resumes cleanly — evolved chunks land with the wider schema and the
    target reads through sources.registry.load_evolved (mergeSchema,
    NULL-for-missing on pre-evolution rows). A re-plan whose chunk
    bounds moved is refused by StateStore.init_table instead.
    """
    store = store or StateStore(workdir, "full")
    if user_range:
        df = df.filter(user_range)
    if key is None:
        key, bounds = elect_split_key(df)
    planner = plan_chunks_quantile if chunk_strategy == "quantile" else plan_chunks
    chunks = planner(df, key, n_chunks, bounds=bounds)
    states = store.init_table(table, chunks)
    pending = store.pending(table)
    target = os.path.join(workdir, "target", table)

    # charset decode first (binary-in-source-charset → UTF-8 strings),
    # then the canonical normalize projection sees real strings
    out = df
    if source_charset and target_charset and source_charset != target_charset:
        out = charset_projection(out, source_charset, target_charset)
    if normalize:
        out = normalize_projection(out)

    def _writer(d):
        w = d.write.option("maxRecordsPerFile", 5_000_000)
        if partition_cols:
            # hive-style layout: downstream date/tenant filters become
            # partition pruning (directories skipped, never scanned)
            w = w.partitionBy(*partition_cols)
        return w

    if len(pending) == len(states):
        # fresh run: the default write is one narrow scan → project →
        # write job, with as many tasks as the scan has splits; only
        # the requested layouts shuffle
        try:
            if layout_cols and partition_cols:
                # cluster WITHIN each hive partition: shuffling on the
                # partition columns then sorting (partition, z) keeps
                # one writer task per partition slice — a global
                # z-range shuffle followed by partitionBy would write
                # (tasks × dirs) small files
                from pyspark.sql import functions as F

                from transferdb_spark.plans.layout import column_ranges, morton_expr

                ranges = column_ranges(out, layout_cols)
                z = F.expr(morton_expr(layout_cols, ranges, idiv="div"))
                shaped = (
                    out.withColumn("__z", z)
                    .repartition(n_chunks, *partition_cols)
                    .sortWithinPartitions(*partition_cols, "__z")
                    .drop("__z")
                )
            elif layout_cols:
                from transferdb_spark.plans.layout import zorder_layout

                shaped = zorder_layout(out, layout_cols, n_files=n_chunks)
            elif partition_cols:
                shaped = out.repartition(n_chunks, *partition_cols)
            else:
                shaped = out
            _writer(shaped).mode("overwrite").parquet(target)
            store.mark(table, [c.chunk_id for c in states], SUCCESS)
        except Exception as e:
            store.mark(table, [c.chunk_id for c in states], FAILED, str(e)[:500])
            raise
    else:
        # resume: re-run only failed/waiting chunks, predicate pushdown
        for c in pending:
            try:
                _writer(out.filter(c.predicate)).mode("append").parquet(target)
                store.mark(table, c.chunk_id, SUCCESS)
            except Exception as e:
                store.mark(table, c.chunk_id, FAILED, str(e)[:500])
                raise
    return target


def full_migrate_keyless(
    spark: SparkSession,
    src_path: str,
    table: str,
    workdir: str,
    n_chunks: int = 32,
    normalize: bool = False,
    store: StateStore | None = None,
) -> str:
    """Migrate a table with NO numeric split key — the ROWID path.

    The reference falls back to
    DBMS_PARALLEL_EXECUTE.CREATE_CHUNKS_BY_ROWID for heap tables
    without a usable key (/root/reference/database/oracle/full.go:42-93):
    chunks are physical extent ranges, planned from storage metadata.
    Here the physical unit is the parquet part-file: plan_chunks_rowid
    packs name-sorted files into size-balanced contiguous groups from a
    driver-side listing (no data scan), and resume re-reads only the
    failed groups. The chunk plan goes through the same StateStore, so
    keyless tables get identical checkpoint/resume semantics to keyed
    ones.
    """
    from transferdb_spark.plans.chunker import plan_chunks_rowid

    store = store or StateStore(workdir, "full")
    chunks = plan_chunks_rowid(src_path, n_chunks)
    by_id = {c.chunk_id: c for c in chunks}
    states = store.init_table(table, chunks)
    pending = store.pending(table)
    target = os.path.join(workdir, "target", table)

    def _out(df):
        return normalize_projection(df) if normalize else df

    if len(pending) == len(states):
        try:
            df = spark.read.parquet(src_path)
            _out(df).write.mode("overwrite").parquet(target)
            store.mark(table, [c.chunk_id for c in states], SUCCESS)
        except Exception as e:
            store.mark(table, [c.chunk_id for c in states], FAILED, str(e)[:500])
            raise
    else:
        for c in pending:
            files = by_id[c.chunk_id].files
            try:
                if files:
                    _out(spark.read.parquet(*files)).write.mode("append").parquet(target)
                store.mark(table, c.chunk_id, SUCCESS)
            except Exception as e:
                store.mark(table, c.chunk_id, FAILED, str(e)[:500])
                raise
    return target


def full_migrate_table_jdbc(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    sink,
    workdir: str,
    n_chunks: int = 16,
    key: str | None = None,
    store: StateStore | None = None,
    normalize: bool = False,
) -> dict:
    """Chunk-resumable full migration into a LIVE JDBC target — the
    reference's actual `full` mode shape (chunked SELECT → batched
    INSERT, /root/reference/module/migrate/sql/oracle/o2m/
    full.go:387-633) with Spark's JDBC writer as the batched-insert
    pool.

    Resume contract: before writing, every PENDING chunk's key range
    is DELETEd on the target (a previously crashed run may have left
    partial rows — the reference truncates/reruns failed chunks the
    same way), then ONE parallel write lands the union of pending
    chunk predicates. SUCCESS chunks are never touched, so a resumed
    run cannot disturb already-verified ranges. Identifiers uppercase
    to match the ANSI DDL the live schema was applied with."""
    from pyspark.sql import functions as F

    store = store or StateStore(workdir, "full_jdbc")
    bounds = None
    if key is None:
        key, bounds = elect_split_key(df)
    chunks = plan_chunks(df, key, n_chunks, bounds=bounds)
    store.init_table(table, chunks)
    pending = store.pending(table)
    if not pending:
        return {"written": 0, "chunks": 0, "resumed": True}

    out = normalize_projection(df) if normalize else df
    up = out.toDF(*[c.upper() for c in out.columns])
    ukey = key.upper()

    import dataclasses

    tsink = dataclasses.replace(sink, table=table.upper())
    # set-based cleanup of possibly-partial pending ranges (driver-side
    # statements, one per pending chunk — plan-sized, never row-sized)
    from transferdb_spark.modes.apply import apply_sql

    cleanup = [
        f"DELETE FROM {table.upper()} WHERE "
        + c.predicate.replace(key, ukey)
        for c in pending
    ]
    res = apply_sql(spark, tsink, cleanup)
    if not res.ok:
        raise RuntimeError(f"pending-range cleanup failed: {res.failed[:2]}")

    pred = " OR ".join(f"({c.predicate})" for c in pending)
    part = up.filter(
        pred.replace(key, ukey) if key != ukey else pred
    ).repartitionByRange(max(1, len(pending)), F.col(ukey))
    # row count observed DURING the write action — a post-write
    # .count() would re-run the whole source scan + range repartition
    # a second time just for the report
    from pyspark.sql import Observation

    obs = Observation()
    part = part.observe(obs, F.count(F.lit(1)).alias("n"))
    try:
        tsink.write(part, mode="append")
    except Exception as e:
        store.mark(table, [c.chunk_id for c in pending], FAILED, str(e)[:500])
        raise
    store.mark(table, [c.chunk_id for c in pending], SUCCESS)
    n = int(obs.get["n"])
    return {"written": n, "chunks": len(pending), "resumed": len(pending) < len(chunks)}


def retry_failed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    workdir: str,
    store: StateStore | None = None,
    normalize: bool = False,
) -> dict:
    """Re-run ONLY the chunks currently in FAILED state.

    The reference's `--mode full` resume reruns failed chunks from the
    persisted meta rows and keeps their error history in
    error_log_detail (/root/reference/database/meta/meta.go:100-117).
    This is the narrow surface: WAITING chunks are left to the normal
    resume path; each failed chunk re-runs independently (one bad chunk
    doesn't block the others), and every new failure appends another
    error_log occurrence. Keyless (file-group) tables retry through
    full_migrate_keyless resume instead — their predicates name files,
    not key ranges. Returns {"retried", "succeeded", "failed"}.
    """
    store = store or StateStore(workdir, "full")
    failed = store.failed(table)
    target = os.path.join(workdir, "target", table)
    out = normalize_projection(df) if normalize else df
    ok = bad = 0
    for c in failed:
        try:
            out.filter(c.predicate).write.mode("append").parquet(target)
            store.mark(table, c.chunk_id, SUCCESS)
            ok += 1
        except Exception as e:  # quarantine and move on to the next chunk
            store.mark(table, c.chunk_id, FAILED, str(e)[:500])
            bad += 1
    return {"retried": len(failed), "succeeded": ok, "failed": bad}


def full_migrate(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    tables: list[str] | None = None,
    n_chunks: int = 32,
) -> dict[str, str]:
    """Migrate a set of tables; returns table -> target path."""
    from transferdb_spark.plans.chunker import elect_split_key
    from transferdb_spark.sources.registry import load_tables, table_path

    out = {}
    store = StateStore(workdir, "full")
    for name, df in load_tables(spark, sf_dir, include=tables).items():
        try:
            key, bounds = elect_split_key(df)
        except ValueError:
            key = None
        if key is None:
            # ROWID fallback: chunk by physical file groups
            out[name] = full_migrate_keyless(
                spark, table_path(sf_dir, name), name, workdir, n_chunks=n_chunks, store=store
            )
            continue
        out[name] = full_migrate_table(
            spark, df, name, workdir, n_chunks=n_chunks, key=key, bounds=bounds, store=store
        )
    return out
