"""`optimize` mode — small-file compaction (+ optional re-clustering).

Long-running ingestion (streaming corpus batches, chunked appends,
CDC landing) fragments a parquet directory into thousands of tiny
files; at 100 TB the scan cost becomes footer-bound (one open + one
footer parse per file) and the scheduler drowns in splits. The
reference never needs this (it writes into a database); a lakehouse
engine does.

Design:
- Target file count = ceil(total_bytes / target_mb) from a driver-side
  listing (O(files) metadata, no data scan to plan).
- Plain compaction uses ``coalesce`` — merges input splits WITHOUT a
  shuffle (the whole job is read → concat → write). With
  ``layout_cols`` the rewrite instead Z-orders via plans/layout.py —
  one range exchange, same price as any clustering rewrite.
- The swap is write-to-staging → verify row count → rename. On plain
  directories the rename window is the non-atomic residue a table
  format (Delta/Iceberg) would close with one metadata commit — the
  staging/verify structure maps 1:1 onto that commit.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession
from dataclasses import dataclass


@dataclass(frozen=True)
class CompactStats:
    files_before: int
    files_after: int
    bytes_total: int
    rows: int


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet")
    ]


def compact_files(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    layout_cols: list[str] | None = None,
    verify: bool = True,
    n_files: int | None = None,
    bloom_cols: list[str] | None = None,
) -> CompactStats:
    """Rewrite ``path`` into ~target_mb files; returns before/after stats.

    verify=True counts staging rows against source rows before the
    swap and refuses on mismatch — the compaction never replaces data
    it could not faithfully rewrite.

    bloom_cols writes parquet BLOOM FILTERS for the named columns —
    the point-lookup complement to Z-order min/max clustering: range
    skipping prunes on sorted dimensions, blooms prune equality probes
    on high-NDV unsorted ones (id lookups in a corpus lake). Readers
    get the skipping for free from the parquet footers. Caveat
    (parquet-mr semantics): a chunk that stays fully
    dictionary-encoded drops its bloom — the dictionary already
    answers membership — so the option only adds bytes on genuinely
    high-NDV columns, which is exactly when it pays.
    """
    staging = path.rstrip("/") + ".__compact_tmp"
    backup = path.rstrip("/") + ".__compact_old"
    if not os.path.isdir(path) and os.path.isdir(backup):
        # crash recovery: a previous run renamed path -> backup and died
        # before staging -> path landed; the data is intact in backup —
        # restore it before doing anything else (a blind rerun would
        # find no source and could rmtree the only copy)
        os.rename(backup, path)

    files = _parquet_files(path)
    if not files:
        # hive-partitioned layouts have no root-level part files; a
        # blind coalesce would collapse the partition structure into
        # one file — compact each partition directory instead
        raise ValueError(
            f"no parquet files directly under {path} — for a partitioned "
            "table, compact each partition directory"
        )
    total = sum(os.path.getsize(f) for f in files)
    n_out = n_files or max(1, math.ceil(total / (target_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    if layout_cols and len(layout_cols) >= 2:
        from transferdb_spark.plans.layout import zorder_layout

        shaped = zorder_layout(df, layout_cols, n_files=n_out)
    elif layout_cols:
        # one clustering column (e.g. the advisor found a single
        # filter dimension worth clustering): a plain range-sort IS the
        # optimal layout — morton_expr refuses k=1 by design
        shaped = df.repartitionByRange(n_out, *layout_cols).sortWithinPartitions(
            *layout_cols
        )
    else:
        shaped = df.coalesce(n_out)

    shutil.rmtree(staging, ignore_errors=True)
    writer = shaped.write.mode("overwrite")
    for c in bloom_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    writer.parquet(staging)

    rows = -1
    if verify:
        rows = spark.read.parquet(staging).count()
        src_rows = df.count()
        if rows != src_rows:
            shutil.rmtree(staging, ignore_errors=True)
            raise RuntimeError(
                f"compaction verify failed: {rows} staged vs {src_rows} source rows"
            )

    shutil.rmtree(backup, ignore_errors=True)
    os.rename(path, backup)
    os.rename(staging, path)
    # keep the backup until the swapped-in directory proves readable
    # (footer parse) — only then is the old copy disposable
    files_after = _parquet_files(path)
    if not files_after:
        os.rename(path, staging)
        os.rename(backup, path)
        raise RuntimeError(f"compacted directory {path} unreadable; original restored")
    shutil.rmtree(backup, ignore_errors=True)

    return CompactStats(
        files_before=len(files),
        files_after=len(files_after),
        bytes_total=total,
        rows=rows,
    )


def compact_partitioned(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    bloom_cols: list[str] | None = None,
) -> dict:
    """Compact a hive-partitioned table partition-by-partition.

    Each leaf directory (one holding part files) compacts independently
    through compact_files — same verify-and-swap safety, same crash
    recovery — so partition pruning semantics and directory names are
    untouched, failure isolates to one partition, and at 100 TB the
    partitions can be compacted in waves. Z-order layout within a
    partition is deliberately not offered here: cross-partition global
    clustering contradicts hive partitioning; sort within a partition
    belongs to the write that created it."""
    leaves = []
    for root, _dirs, files in os.walk(path):
        if any(f.startswith("part-") and f.endswith(".parquet") for f in files):
            leaves.append(root)
    if not leaves:
        raise ValueError(f"no parquet leaf directories under {path}")
    per = {}
    for leaf in sorted(leaves):
        st = compact_files(spark, leaf, target_mb=target_mb, bloom_cols=bloom_cols)
        per[os.path.relpath(leaf, path)] = {
            "files_before": st.files_before,
            "files_after": st.files_after,
            "rows": st.rows,
        }
    return {
        "partitions": len(per),
        "files_before": sum(p["files_before"] for p in per.values()),
        "files_after": sum(p["files_after"] for p in per.values()),
        "per_partition": per,
    }
