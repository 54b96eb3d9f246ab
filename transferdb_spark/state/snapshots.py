"""Versioned snapshot store — the AS-OF-SCN consistency boundary.

The reference pins every chunked read to one Oracle SCN
(`SELECT ... AS OF SCN <n>`, /root/reference/module/migrate/sql/oracle/
o2m/table.go:89-102, snapshot taken at database/oracle/full.go:28-40)
so a multi-hour migration sees a single consistent image. Plain
parquet directories have no such notion — this store supplies it:

    dir/
      _versions/000000.json   {"version": 0, "files": [...], "ts": ...}
      _versions/000001.json
      data/<uuid>.parquet     (immutable — versions only add manifests)

A writer lands new files then commits a manifest listing EVERY live
file for that version (full-image semantics, like Delta's add/remove
collapsed). Readers resolve a version (latest by default) and load
exactly its file list — concurrent writers can't tear a read, and
`read_snapshot(v)` is the engine's `AS OF SCN v`.

This is deliberately a minimal Delta-shaped core: enough for
consistent compare/migrate semantics on plain parquet, replaced
wholesale by Delta/Iceberg when the lakehouse provides one.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


def _versions_dir(base: str) -> str:
    return os.path.join(base, "_versions")


def _data_dir(base: str) -> str:
    return os.path.join(base, "data")


def list_versions(base: str) -> list[int]:
    vd = _versions_dir(base)
    if not os.path.isdir(vd):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(vd) if f.endswith(".json") and f[:-5].isdigit()
    )


def _file_stats(path: str, cols: list[str]) -> dict:
    """Per-file min/max of ``cols`` from the parquet footer — written
    into the manifest so readers can prune files from metadata alone
    (the Iceberg manifest-stats idea on plain parquet)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {}
    for c in cols:
        if c not in idx:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            out[c] = [lo, hi]
    return out


def write_snapshot(
    df: DataFrame,
    base: str,
    mode: str = "overwrite",
    stat_cols: list[str] | None = None,
) -> int:
    """Commit df as the next version; returns the version number.

    mode='overwrite': the new version's image is exactly df.
    mode='append': the new version = previous image + df's files.
    Data files are immutable; only the manifest advances — failed
    writes leave orphan files, never a torn version.

    stat_cols embeds per-file min/max for those columns in the
    manifest (footer read at commit time, O(new files) driver-side);
    read_snapshot(predicate=...) then prunes files WITHOUT opening
    any footer — manifest-level scan planning, which is what keeps
    10^6-file tables plannable. Pair with a Z-ordered or sorted
    layout so the stats are actually tight."""
    new_files = _write_staging(df, base)

    versions = list_versions(base)
    version = (versions[-1] + 1) if versions else 0
    files = new_files
    stats = {f: _file_stats(f, stat_cols) for f in new_files} if stat_cols else {}
    if mode == "append" and versions:
        prev = _manifest(base, versions[-1])
        files = prev["files"] + new_files
        stats = {**prev.get("stats", {}), **stats}
    return _commit_manifest(base, version, files, stats)


def _write_staging(df: DataFrame, base: str) -> list[str]:
    """Land df's files in a fresh staging dir; returns the file paths.
    Shared by every writer so the on-disk protocol has one copy."""
    os.makedirs(_versions_dir(base), exist_ok=True)
    staging = os.path.join(_data_dir(base), uuid.uuid4().hex)
    df.write.mode("overwrite").parquet(staging)
    return [
        os.path.join(staging, f)
        for f in os.listdir(staging)
        if f.endswith(".parquet")
    ]


def _commit_manifest(base: str, version: int, files: list, stats: dict) -> int:
    """Atomic put-if-absent manifest commit; returns the version that
    actually committed.

    os.rename silently REPLACES an existing path on POSIX, so two
    writers computing the same next version would last-wins-clobber a
    committed manifest (its data dirs becoming orphans). os.link is
    create-exclusive: the loser gets EEXIST and retries at the next
    number, so BOTH commits survive as distinct versions."""
    tmp = os.path.join(_versions_dir(base), f".{uuid.uuid4().hex}.json.tmp")
    try:
        while True:
            manifest = {
                "version": version,
                "files": sorted(files),
                "stats": stats,
                # wall-clock commit stamp: powers AS-OF-timestamp time
                # travel (resolve_version_at) — the SCN-to-time mapping
                # the reference gets from the database
                "committed_at_ms": int(time.time() * 1000),
            }
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
            try:
                os.link(tmp, os.path.join(_versions_dir(base), f"{version:06d}.json"))
                return version
            except FileExistsError:
                version += 1
    finally:
        os.remove(tmp)


def resolve_version_at(base: str, ts_ms: int) -> int:
    """Latest version committed at or before ts_ms — AS-OF-timestamp
    resolution (manifests predating the stamp sort as epoch 0, so old
    stores stay readable). Raises if nothing was committed yet."""
    best = None
    for v in list_versions(base):
        if _manifest(base, v).get("committed_at_ms", 0) <= ts_ms:
            best = v
    if best is None:
        raise ValueError(f"no snapshot committed at or before {ts_ms} under {base}")
    return best


def _manifest(base: str, version: int) -> dict:
    with open(os.path.join(_versions_dir(base), f"{version:06d}.json")) as fh:
        return json.load(fh)


def read_snapshot(
    spark: SparkSession,
    base: str,
    version: int | None = None,
    predicate: tuple[str, object, object] | None = None,
    as_of_ms: int | None = None,
) -> DataFrame:
    """Load one committed image; latest when version is None;
    as_of_ms resolves the version by commit wall-clock instead
    (time travel — mutually exclusive with an explicit version).

    The file list is pinned by the manifest, so a concurrent
    write_snapshot can never change what this reader sees — the
    multi-stage compare/migrate job gets one consistent image.

    predicate=(col, lo, hi) prunes the file list from MANIFEST stats
    before Spark sees a path: only files whose [min, max] overlaps
    [lo, hi] are read (files without stats for col are kept — pruning
    must never drop data it cannot rule out), and the residual filter
    is still applied row-level. Planning cost is O(manifest), zero
    footer reads."""
    from pyspark.sql import functions as F

    versions = list_versions(base)
    if not versions:
        raise FileNotFoundError(f"no snapshot versions under {base}")
    if as_of_ms is not None:
        if version is not None:
            raise ValueError("pass either version or as_of_ms, not both")
        version = resolve_version_at(base, as_of_ms)
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    m = _manifest(base, v)
    files = m["files"]
    reader = spark.read
    if predicate is not None:
        col, lo, hi = predicate
        stats = m.get("stats", {})
        kept = []
        for f in files:
            s = stats.get(f, {}).get(col)
            if s is None or not (s[1] < lo or s[0] > hi):
                kept.append(f)
        if not kept:
            return reader.parquet(*files).filter(F.lit(False))
        return reader.parquet(*kept).filter(F.col(col).between(lo, hi))
    return reader.parquet(*files)
