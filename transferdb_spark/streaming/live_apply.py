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

The JDBC connection lives behind py4j on the DRIVER, so the driver
pulls the translated transactions one PARTITION at a time via
toLocalIterator — it never materializes a batch's change payload.

The structured path (streaming/incr.apply_cdc_stream) lands row images
when the feed carries them; this is the text-redo path the reference
runs when it does not.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from transferdb_spark.modes.apply import ApplyResult, apply_transactions
from transferdb_spark.sources.jdbc import JdbcSink
from transferdb_spark.state.store import _write_json_atomic
from transferdb_spark.streaming.incr import run_available
from transferdb_spark.streaming.redo import (
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
    _write_json_atomic(path, {"scn": scn})


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
    silently gated out). ``on_error='halt'`` stops at the first failed
    transaction and raises after persisting — the reference's
    hard-fail stance; a later transaction of the batch must not run
    ahead of the failed one, or its replay would re-apply it.

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
    res = apply_transactions(
        spark, sink, txn_iter(), resume_scn=resume,
        continue_on_error=(on_error != "halt"),
    )
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


def run_redo_apply_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    sink: JdbcSink,
    scn_path: str,
    target_schema: str = "",
    dialect: str = "ansi",
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

    return run_available(stream, checkpoint_dir, sink_batch)
