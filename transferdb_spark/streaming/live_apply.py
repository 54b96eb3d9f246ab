"""`all`-mode LIVE sink: redo-SQL micro-batches applied to a JDBC
target transactionally, with a persisted SCN checkpoint.

This is the reference's full incremental loop
(/root/reference/module/migrate/sql/oracle/o2m/incr.go:61-247) on
Structured Streaming: each micro-batch of (scn, xid, sql_redo) rows is
parsed executor-side (streaming/redo.redo_stream_to_changes,
mapInPandas), grouped into commit-SCN-ordered transactions
(group_transactions), translated to the target dialect
(translate_stmt) and executed one JDBC TRANSACTION per redo
transaction (modes/apply.apply_transactions — rollback-whole,
commit-SCN resume gate). The SCN high-water persists next to the
Spark checkpoint, so a redelivered batch (or a whole re-run over the
same feed) replays idempotently — the incr_sync_meta semantics.

Two apply executors, by what the target connection can be:

- apply_redo_batch — JDBC target (Derby-tested). JDBC lives behind
  py4j, which only exists on the DRIVER, so the statements must cross
  it; but parse AND translate run executor-side (mapInPandas) and the
  driver pulls translated transactions one PARTITION at a time via
  toLocalIterator — it never materializes a batch's change payload.
- apply_changes_distributed — DBAPI target (any Python driver:
  psycopg2/pymysql/sqlite3…). Fully executor-side: per-table apply
  units repartitioned by table, commit-SCN-ordered within each
  partition, applied through per-partition connections; the driver
  sees only the tiny (table, xid, scn, status) rows. This mirrors the
  reference's per-table worker map + per-table SCN checkpoint
  (/root/reference/module/migrate/sql/oracle/o2m/apply.go:58-233).

The structured MERGE path (streaming/incr.py) remains the preferred
sink when before/after images are available; this is the text-redo
path the reference runs when they are not.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transferdb_spark.modes.apply import ApplyResult, apply_transactions
from transferdb_spark.sources.jdbc import JdbcSink
from transferdb_spark.streaming.redo import (
    group_table_transactions,
    group_transactions,
    redo_stream_to_changes,
    translate_transactions_df,
)


def read_scn_checkpoint(path: str) -> int:
    if not os.path.exists(path):
        return -1
    with open(path) as fh:
        return int(json.load(fh)["scn"])


def write_scn_checkpoint(path: str, scn: int) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"scn": scn}, fh)
    os.rename(tmp, path)  # single-writer (the streaming query) — atomic swap


def apply_redo_batch(
    spark: SparkSession,
    sink: JdbcSink,
    batch: DataFrame,
    scn_path: str,
    target_schema: str = "",
    dialect: str = "ansi",
    on_error: str = "continue",
) -> ApplyResult:
    """One micro-batch: parse -> group -> translate (all executor-side)
    -> transactional apply gated on the persisted SCN; advances the
    checkpoint to the CONTIGUOUS-SUCCESS watermark AFTER the apply
    (crash before the write = the batch replays, and the SCN gate +
    rollback-whole txns make the replay idempotent; a FAILED txn holds
    the watermark below its commit SCN and is persisted to
    ``scn_path + '.errors.jsonl'`` so it replays rather than being
    silently gated out). ``on_error='halt'`` raises after persisting —
    the reference's hard-fail stance.

    Driver memory is bounded by ONE shuffle partition of translated
    statement text: toLocalIterator pulls partitions sequentially, so
    a hot batch's full change payload never lands on the driver — only
    the SQL the driver's JDBC connection must ship anyway, a partition
    at a time."""
    changes = redo_stream_to_changes(batch.select("scn", "sql_redo")).join(
        batch.select("scn", "xid"), "scn"
    )
    changes = changes.filter("operation <> 'ERROR'")
    txn_sql = translate_transactions_df(
        group_transactions(changes), target_schema, dialect=dialect
    ).orderBy("commit_scn", "xid")

    def txn_iter():
        for row in txn_sql.toLocalIterator():
            yield row["xid"], list(row["stmts"]), int(row["commit_scn"])

    resume = read_scn_checkpoint(scn_path)
    res = apply_transactions(spark, sink, txn_iter(), resume_scn=resume)
    if res.failed:
        # error_log_detail stance: persist every failure occurrence
        # before deciding how far the checkpoint may advance
        import time as _t

        with open(scn_path + ".errors.jsonl", "a") as fh:
            for (xid, err), scn in zip(res.failed, res.failed_scns or [-1] * len(res.failed)):
                fh.write(
                    json.dumps({"xid": xid, "commit_scn": scn, "error": err, "ts": _t.time()})
                    + "\n"
                )
    # contiguous-success watermark — never advance past a failed txn
    if res.safe_scn > resume:
        write_scn_checkpoint(scn_path, res.safe_scn)
    if res.failed and on_error == "halt":
        raise RuntimeError(
            f"redo apply failed for {len(res.failed)} transaction(s); "
            f"first: xid={res.failed[0][0]} error={res.failed[0][1]}"
        )
    return res


# ---------------------------------------------------------------------------
# fully distributed apply — DBAPI targets

APPLY_STATUS_SCHEMA = (
    "table_name string, xid string, commit_scn long, status string, "
    "error string, worker_pid long"
)


def _sql_str(v: str) -> str:
    """Portable single-quoted SQL literal (quote doubling) for the
    tiny meta-table point queries — table/xid values come from parsed
    redo identifiers, but escape anyway."""
    return "'" + str(v).replace("'", "''") + "'"


def _safe_rollback(conn) -> None:
    """rollback() that tolerates autocommit/odd DBAPI connections —
    some drivers raise on rollback outside a transaction, which would
    otherwise mask the error that triggered the rollback."""
    try:
        conn.rollback()
    except Exception:  # noqa: BLE001 — nothing to roll back
        pass


def ensure_apply_meta_table(conn, meta_table: str) -> None:
    """Create the TARGET-side applied-transaction meta table if absent,
    then VERIFY it is usable. The composite PRIMARY KEY doubles as a
    uniqueness guard: even if two racing task attempts both pass the
    SELECT probe, the second INSERT violates the PK and its whole
    transaction rolls back — the data rows can never land twice.

    DBAPI drivers expose no portable IF NOT EXISTS or error codes, so
    the CREATE failure cannot be classified as 'already exists' vs
    'no DDL privilege' by inspection. Instead the CREATE error is
    tolerated ONLY if a probe SELECT against the table then succeeds;
    otherwise ONE clear error surfaces here, at stream start — not a
    per-unit SELECT failure deep inside the apply loop."""
    create_err: Exception | None = None
    try:
        cur = conn.cursor()
        try:
            cur.execute(
                f"CREATE TABLE {meta_table} ("
                "table_name VARCHAR(128) NOT NULL, "
                "xid VARCHAR(128) NOT NULL, "
                "commit_scn BIGINT NOT NULL, "
                "PRIMARY KEY (table_name, xid, commit_scn))"
            )
        finally:
            cur.close()
        conn.commit()
    except Exception as e:  # noqa: BLE001 — classified by the probe below
        create_err = e
        _safe_rollback(conn)
    try:
        cur = conn.cursor()
        try:
            cur.execute(
                f"SELECT table_name FROM {meta_table} WHERE commit_scn = -1"
            )
            cur.fetchone()
        finally:
            cur.close()
        _safe_rollback(conn)  # end the read txn cleanly
    except Exception as probe_err:
        raise RuntimeError(
            f"apply meta table {meta_table!r} is not usable on the target "
            f"(create: {create_err or 'ok'}; probe: {probe_err}). Grant DDL "
            "or pre-create the table, or pass meta_table=None for "
            "at-least-once apply."
        ) from (create_err or probe_err)


def apply_changes_distributed(
    changes: DataFrame,
    connect,
    resume_scn: int = -1,
    target_schema: str = "",
    dialect: str = "ansi",
    num_partitions: int | None = None,
    resume_scns: dict[str, int] | None = None,
    meta_table: str | None = None,
) -> DataFrame:
    """Executor-side transactional apply — no driver round-trip for
    row data at all. ``connect`` is a zero-arg factory returning a
    DBAPI connection (psycopg2/pymysql/sqlite3…), cloudpickled to the
    executors; each partition opens ONE connection and applies its
    transactions in commit-SCN order.

    Ordering contract (the reference's own, apply.go:58-77 — its
    worker map is keyed by TABLE and its SCN checkpoint is per-table):
    apply units are (table, xid) groups, repartitioned BY TABLE and
    sorted by commit_scn within each partition, so every table sees
    its changes in commit order while distinct tables apply
    concurrently across executors. Cross-table atomicity of one source
    txn is intentionally relaxed exactly as the reference relaxes it.

    Returns the (table_name, xid, commit_scn, status, error,
    worker_pid) status relation — the ONLY thing that should ever be
    collected; aggregate max(commit_scn) WHERE status='applied' per
    table for the checkpoint (per-table incr_sync_meta semantics).
    Each txn is committed whole or rolled back whole; units at or
    below the resume SCN are reported 'skipped' without touching the
    target. ``resume_scns`` is the per-TABLE gate ({table: high_scn},
    the incr_sync_meta TableScnS shape produced by
    distributed_apply_high_scns); the scalar ``resume_scn`` remains as
    a global floor applied to every table.

    ``meta_table`` (exactly-once hardening): when set, each applied
    transaction ALSO inserts its (table, xid, commit_scn) row into
    this TARGET-side meta table inside the SAME DBAPI transaction —
    the reference's incr_sync_meta stance, where the checkpoint lives
    in the target database, not beside the driver. A Spark task retry,
    speculative duplicate, or stage recomputation that re-runs a
    partition after some transactions committed finds their meta rows
    (a point SELECT per unit, PK-indexed) and reports them 'skipped'
    instead of re-executing — the file/StateStore checkpoint alone
    cannot gate these, because it only advances after the batch.
    Without ``meta_table`` the apply is at-least-once under task
    retries (disable spark.speculation for this stage)."""
    units = translate_transactions_df(
        group_table_transactions(changes), target_schema, dialect=dialect
    )
    n = num_partitions or units.sparkSession.sparkContext.defaultParallelism
    parts = units.repartition(n, "table_name").sortWithinPartitions(
        "table_name", "commit_scn", "xid"
    )

    gates = dict(resume_scns or {})

    def apply_partition(batches):
        import os as _os

        import pandas as pd

        pid = _os.getpid()
        conn = None
        try:
            for pdf in batches:
                if len(pdf) and conn is None:
                    conn = connect()
                    if meta_table:
                        ensure_apply_meta_table(conn, meta_table)
                out = []
                for i in range(len(pdf)):
                    r = pdf.iloc[i]
                    scn = int(r["commit_scn"])
                    if scn <= max(resume_scn, gates.get(r["table_name"], -1)):
                        out.append((r["table_name"], r["xid"], scn, "skipped", "", pid))
                        continue
                    runnable = [
                        s2
                        for s2 in (s.strip().rstrip(";").strip() for s in r["stmts"])
                        if s2 and not s2.startswith("--")
                    ]
                    if not runnable:
                        # comment-only unit (UNTRANSLATABLE quarantine)
                        out.append(
                            (r["table_name"], r["xid"], scn, "skipped",
                             "; ".join(r["stmts"])[:500], pid)
                        )
                        continue
                    if meta_table:
                        # target-side exactly-once probe: committed by a
                        # prior attempt of this very partition?
                        cur = conn.cursor()
                        try:
                            cur.execute(
                                f"SELECT 1 FROM {meta_table} WHERE "
                                f"table_name = {_sql_str(r['table_name'])} AND "
                                f"xid = {_sql_str(r['xid'])} AND commit_scn = {scn}"
                            )
                            seen = cur.fetchone() is not None
                        finally:
                            cur.close()
                        _safe_rollback(conn)  # end the read txn cleanly
                        if seen:
                            out.append(
                                (r["table_name"], r["xid"], scn, "skipped",
                                 "already applied (target meta)", pid)
                            )
                            continue
                    try:
                        cur = conn.cursor()
                        try:
                            for s in runnable:
                                cur.execute(s)
                            if meta_table:
                                # same-transaction checkpoint row — commits
                                # or rolls back WITH the data
                                cur.execute(
                                    f"INSERT INTO {meta_table} "
                                    "(table_name, xid, commit_scn) VALUES ("
                                    f"{_sql_str(r['table_name'])}, "
                                    f"{_sql_str(r['xid'])}, {scn})"
                                )
                        finally:
                            cur.close()
                        conn.commit()
                        out.append((r["table_name"], r["xid"], scn, "applied", "", pid))
                    except Exception as e:  # noqa: BLE001 — rollback + quarantine
                        conn.rollback()
                        out.append(
                            (
                                r["table_name"],
                                r["xid"],
                                scn,
                                "failed",
                                str(e).splitlines()[0][:500],
                                pid,
                            )
                        )
                yield pd.DataFrame(
                    out,
                    columns=[
                        "table_name",
                        "xid",
                        "commit_scn",
                        "status",
                        "error",
                        "worker_pid",
                    ],
                )
        finally:
            if conn is not None:
                conn.close()

    return parts.mapInPandas(apply_partition, schema=APPLY_STATUS_SCHEMA)


def distributed_apply_high_scns(status: DataFrame) -> DataFrame:
    """Per-table applied high-water — the rows to persist as the
    per-table SCN checkpoint (reference incr_sync_meta TableScnS).

    NOTE: prefer distributed_apply_watermarks / safe_table_watermarks,
    which refuse to advance a table's SCN past a FAILED transaction —
    this raw max(applied) would gate a failed txn out of the replay."""
    return (
        status.where(F.col("status") == "applied")
        .groupBy("table_name")
        .agg(F.max("commit_scn").alias("high_scn"))
    )


def safe_table_watermarks(status_rows) -> tuple[dict[str, int], list[dict]]:
    """Contiguous-success SCN watermark per table, from COLLECTED
    status rows (the tiny (table, xid, scn, status, error) relation —
    one row per transaction unit, never row data).

    A failed transaction must replay on redelivery, so a table's
    checkpoint may only advance to min(failed commit_scn) - 1 — never
    past the first failure (the reference hard-fails the whole round
    on any apply error, o2m/apply.go getIncrResult; this is the
    quarantine-mode equivalent that still guarantees the failed txn is
    not permanently gated out). Returns (watermarks, error_rows) where
    error_rows are every failed/quarantined status row for the
    append-only error log."""
    max_applied: dict[str, int] = {}
    min_failed: dict[str, int] = {}
    errors: list[dict] = []
    for r in status_rows:
        t, scn = r["table_name"], int(r["commit_scn"])
        if r["status"] == "applied" or r["error"] == "already applied (target meta)":
            # a target-meta skip is PROOF of a prior commit — count it,
            # so a replayed batch lets the checkpoint catch up past
            # units a held watermark forced it to revisit
            max_applied[t] = max(max_applied.get(t, -1), scn)
        elif r["status"] == "failed":
            min_failed[t] = min(min_failed.get(t, scn), scn)
            errors.append(
                {
                    "table_name": t,
                    "xid": r["xid"],
                    "commit_scn": scn,
                    "status": r["status"],
                    "error": r["error"],
                }
            )
        elif r["error"]:  # quarantined (untranslatable) — log, don't hold SCN
            errors.append(
                {
                    "table_name": t,
                    "xid": r["xid"],
                    "commit_scn": scn,
                    "status": r["status"],
                    "error": r["error"],
                }
            )
    highs = {}
    for t, h in max_applied.items():
        highs[t] = min(h, min_failed[t] - 1) if t in min_failed else h
    return {t: h for t, h in highs.items() if h >= 0}, errors


def run_redo_apply_stream_dbapi(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    connect,
    meta=None,
    target_schema: str = "",
    dialect: str = "ansi",
    num_partitions: int | None = None,
    available_now: bool = True,
    meta_table: str | None = None,
    on_error: str = "halt",
):
    """The fully DISTRIBUTED live loop: a JSON-lines redo feed streams
    through executor-side parse → per-table transaction grouping →
    per-partition DBAPI apply; the driver touches only the per-table
    status/SCN rows (ONE collect of the tiny status relation per
    batch — bounded by the batch's transaction count, never row data).

    Checkpoint state (reference incr_sync_meta semantics, sync_meta_
    incr.go): ``meta`` (state.store.IncrSyncMeta — the queryable,
    lock-merged state table) is THE one source of truth for replay
    gating; the legacy per-table scn_path JSON file was retired so the
    two surfaces can never diverge. Each table's SCN advances only to
    its CONTIGUOUS-SUCCESS watermark: a failed transaction holds its
    table's checkpoint at min(failed commit_scn) - 1 and is persisted
    to the append-only error log, so it replays on redelivery instead
    of being silently gated out.

    ``meta_table`` (OPT-IN) adds the target-side same-transaction
    checkpoint (see apply_changes_distributed), which makes that
    replay — and any Spark task retry — exactly-once: the already-
    applied units above the held watermark skip via their meta rows
    rather than re-executing. It is opt-in because it needs DDL (or a
    pre-created table) on the target: ensure_apply_meta_table verifies
    usability and surfaces one clear error if the target cannot host
    it. Without it the apply is at-least-once under task retries.

    ``on_error='halt'`` (default — the reference hard-fails on any
    apply error) raises after persisting the error log + watermarks,
    failing the streaming query; 'continue' quarantines and keeps
    consuming."""
    from transferdb_spark.state.store import IncrSyncMeta

    if not isinstance(meta, IncrSyncMeta):
        raise ValueError(
            "pass meta=IncrSyncMeta(...) — the scn_path JSON checkpoint was "
            "retired; build an IncrSyncMeta over the same directory instead"
        )

    def read_highs() -> dict[str, int]:
        return meta.highs()

    def persist(highs: dict[str, int], errors: list[dict]) -> None:
        if highs:
            meta.merge(highs)
        meta.record_errors(errors)

    stream = (
        spark.readStream.schema("scn long, xid string, sql_redo string")
        .json(source_dir)
    )

    def sink_batch(batch: DataFrame, _batch_id: int) -> None:
        changes = redo_stream_to_changes(batch.select("scn", "sql_redo")).join(
            batch.select("scn", "xid"), "scn"
        ).filter("operation <> 'ERROR'")
        status = apply_changes_distributed(
            changes,
            connect,
            target_schema=target_schema,
            dialect=dialect,
            num_partitions=num_partitions,
            resume_scns=read_highs(),
            meta_table=meta_table,
        )
        # ONE action: collecting twice would recompute mapInPandas and
        # re-run the apply (the meta_table gate would absorb it, but
        # failed txns would re-execute) — so aggregate driver-side over
        # the collected status rows instead.
        rows = status.collect()
        highs, errors = safe_table_watermarks(rows)
        persist(highs, errors)
        failed = [e for e in errors if e["status"] == "failed"]
        if failed and on_error == "halt":
            raise RuntimeError(
                f"redo apply failed for {len(failed)} transaction(s); "
                f"first: table={failed[0]['table_name']} "
                f"xid={failed[0]['xid']} scn={failed[0]['commit_scn']} "
                f"error={failed[0]['error']}"
            )

    writer = stream.writeStream.foreachBatch(sink_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_redo_apply_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    sink: JdbcSink,
    scn_path: str,
    target_schema: str = "",
    dialect: str = "ansi",
    available_now: bool = True,
    on_error: str = "halt",
):
    """Stream a JSON-lines redo feed ((scn, xid, sql_redo) rows, one
    file per log drop — the LogMiner file-batch shape T1 polls) into
    the live transactional apply. A failed transaction is persisted to
    the error log, the checkpoint holds at the contiguous-success
    watermark, and (default) the query halts — the reference's
    hard-fail-on-apply-error stance (o2m incr loop)."""
    stream = (
        spark.readStream.schema("scn long, xid string, sql_redo string")
        .json(source_dir)
    )

    def sink_batch(batch: DataFrame, _batch_id: int) -> None:
        apply_redo_batch(
            spark, sink, batch, scn_path, target_schema=target_schema,
            dialect=dialect, on_error=on_error,
        )

    writer = stream.writeStream.foreachBatch(sink_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
