"""`full` mode — chunked full table migration (SURVEY.md §3.1).

Reference pipeline: snapshot SCN → chunk split → per-chunk
SELECT-normalize-INSERT through three nested worker pools
(module/migrate/sql/oracle/o2m/full.go:66-385).

Spark-first shape: chunk identity is the persisted predicate plan
(StateStore), not the file layout, and every parquet landing — fresh
run, resume, keyless table, failed-chunk retry — is one `_land`:
settle any earlier landing, write the pending chunks in ONE job into a
fresh `<target>.landing-<id>` dir (the whole source when every chunk is
pending, else the OR of their predicates pushed into the scan, or their
file groups), commit with ONE SUCCESS mark that names the dir, then
move its files into the target (replacing the target's data when no
chunk had landed before). The mark is the commit point: settling moves
in a landing dir the state names and deletes any other, so a crash at
any step lands every chunk exactly once. Spark's scheduler is the
worker pool, with one write task per scan split.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from transferdb_spark.operators.normalize import normalize_projection
from transferdb_spark.plans.chunker import elect_split_key, plan_chunks, plan_chunks_quantile, plan_chunks_rowid
from transferdb_spark.state.store import FAILED, SUCCESS, ChunkState, StateStore


def charset_projection(df: DataFrame, source_charset: str, target_charset: str) -> DataFrame:
    """In-flight value charset conversion (F9 wired into migrate).

    The reference converts every extracted value source-charset →
    UTF8MB4 → target-charset before the INSERT
    (database/oracle/full.go:126-135, common/strings.go:383-451).
    Spark strings are UTF-8, so the conversion lands on the byte
    boundaries: BINARY columns carrying source-charset bytes decode to
    strings, and a non-UTF-8 target (e.g. a GBK CSV drop) encodes
    string columns to its bytes. A narrow projection — CJK charsets go
    through Arrow-batched pandas UDFs (functions/charset.py)."""
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
    narrow write does not pay; a resume lands its pending chunks with
    the same layout.
    bounds is the split key's (min, max) when the caller already has
    it (elect_split_key returns both from one aggregate).
    Schema evolution across a resume is safe: the plan hangs off the
    split key only, so evolved chunks land with the wider schema and
    the target reads through sources.registry.load_evolved (NULL for
    pre-evolution rows). A re-plan whose bounds moved resets the table
    in StateStore.init_table instead.
    """
    store = store or StateStore(workdir, "full")
    if user_range:
        df = df.filter(user_range)
    if key is None:
        key, bounds = elect_split_key(df)
    planner = plan_chunks_quantile if chunk_strategy == "quantile" else plan_chunks
    states = store.init_table(table, planner(df, key, n_chunks, bounds=bounds))
    pending = store.pending(table)

    # charset decode first (binary-in-source-charset → UTF-8 strings),
    # then the canonical normalize projection sees real strings
    out = df
    if source_charset and target_charset and source_charset != target_charset:
        out = charset_projection(out, source_charset, target_charset)
    if normalize:
        out = normalize_projection(out)

    def frame() -> DataFrame:
        # the default is one narrow scan → project → write job, with as
        # many tasks as the scan has splits; only the layouts shuffle
        d = _select(out, pending, len(states))
        if layout_cols:
            from transferdb_spark.plans.layout import zorder_layout

            return zorder_layout(d, layout_cols, n_files=n_chunks, partition_cols=partition_cols)
        return d.repartition(n_chunks, *partition_cols) if partition_cols else d

    return _land(store, table, workdir, pending, frame, partition_cols)


def _select(df: DataFrame, todo: list[ChunkState], n_chunks: int) -> DataFrame:
    """The rows of the ``todo`` chunks: the whole frame when they are
    every chunk, else the OR of their predicates."""
    if len(todo) == n_chunks:
        return df
    return df.filter(" OR ".join(f"({c.predicate})" for c in todo))


def _file_groups(spark: SparkSession, chunks: list, todo: list[ChunkState], normalize: bool) -> DataFrame:
    """The rows of the ``todo`` keyless chunks: a read of their files."""
    by_id = {c.chunk_id: c for c in chunks}
    df = spark.read.parquet(*(f for c in todo for f in by_id[c.chunk_id].files))
    return normalize_projection(df) if normalize else df


def _settle(store: StateStore, table: str, target: str) -> None:
    """Move in each landing dir that the state names and delete any
    other, which never committed. Every step is a rename or a delete
    that a later call resumes where a crash stopped it."""
    states = store.chunks(table)
    for staged in sorted(glob.glob(glob.escape(target) + ".landing-*")):
        named = sum(c.staging == os.path.basename(staged) for c in states)
        if not named:
            shutil.rmtree(staged)
            continue
        if named == len(states) and os.path.exists(target):
            shutil.rmtree(target)  # it covered every chunk: it replaces the target
        if not os.path.exists(target):
            os.rename(staged, target)
            continue
        for root, _, files in os.walk(staged):
            dest = os.path.join(target, os.path.relpath(root, staged))
            os.makedirs(dest, exist_ok=True)
            for f in files:
                os.replace(os.path.join(root, f), os.path.join(dest, f))
        shutil.rmtree(staged)


def _land(store: StateStore, table: str, workdir: str, todo: list, frame, partition_cols=None, quarantine=False):
    """Land the ``todo`` chunks of ``table``: settle, write ``frame()``
    into a fresh landing dir, mark SUCCESS naming it, settle again, and
    return the target path. Only a failed write marks the chunks FAILED;
    it re-raises, or returns None under ``quarantine``. A failed mark
    or move raises, for the next call's settle to finish."""
    target = os.path.join(workdir, "target", table)
    _settle(store, table, target)
    if not todo:
        return target
    ids = [c.chunk_id for c in todo]
    staging = f"{table}.landing-{uuid.uuid4().hex}"
    try:
        w = frame().write.option("maxRecordsPerFile", 5_000_000)
        if partition_cols:
            # hive-style layout: downstream date/tenant filters become
            # partition pruning (directories skipped, never scanned)
            w = w.partitionBy(*partition_cols)
        w.parquet(os.path.join(workdir, "target", staging))
    except Exception as e:
        store.mark(table, ids, FAILED, str(e)[:500])
        if not quarantine:
            raise
        return None
    store.mark(table, ids, SUCCESS, staging=staging)
    _settle(store, table, target)
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
    without a usable key (database/oracle/full.go:42-93): chunks are
    physical extent ranges. Here the physical unit is the parquet
    part-file: plan_chunks_rowid packs name-sorted files into
    size-balanced contiguous groups from a driver-side listing (no
    data scan), and a landing reads only its pending groups — the same
    StateStore and landing as keyed tables.
    """
    store = store or StateStore(workdir, "full")
    chunks = plan_chunks_rowid(src_path, n_chunks)
    store.init_table(table, chunks)
    pending = store.pending(table)
    return _land(store, table, workdir, pending, lambda: _file_groups(spark, chunks, pending, normalize))


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
    df: DataFrame | str,
    table: str,
    workdir: str,
    store: StateStore | None = None,
    normalize: bool = False,
) -> dict:
    """Re-run ONLY the chunks currently in FAILED state, as one landing.

    The reference's `--mode full` resume reruns failed chunks from the
    persisted meta rows and keeps their error history in
    error_log_detail (database/meta/meta.go:100-117). WAITING chunks
    are left to the normal resume. The failed chunks land together in
    one job through `_land`; if that write fails, each is marked FAILED
    again with one more error-log occurrence. ``df`` is the source
    frame, or a keyless table's source path: its file groups are
    re-planned with plan_chunks_rowid (a changed file set resets the
    plan in init_table, leaving nothing to retry).
    Returns {"retried", "succeeded", "failed"}.
    """
    store = store or StateStore(workdir, "full")
    keyless = isinstance(df, str)
    if keyless:
        chunks = plan_chunks_rowid(df, len(store.chunks(table)))
        store.init_table(table, chunks)
    failed = store.failed(table)

    def frame() -> DataFrame:
        if keyless:
            return _file_groups(spark, chunks, failed, normalize)
        return _select(normalize_projection(df) if normalize else df, failed, len(store.chunks(table)))

    ok = len(failed) if _land(store, table, workdir, failed, frame, quarantine=True) else 0
    return {"retried": len(failed), "succeeded": ok, "failed": len(failed) - ok}


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
        except ValueError:  # ROWID fallback: chunk by physical file groups
            out[name] = full_migrate_keyless(
                spark, table_path(sf_dir, name), name, workdir, n_chunks=n_chunks, store=store
            )
            continue
        out[name] = full_migrate_table(
            spark, df, name, workdir, n_chunks=n_chunks, key=key, bounds=bounds, store=store
        )
    return out
