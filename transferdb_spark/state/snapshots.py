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
    merged_schema = False
    if mode == "append" and versions:
        prev = _manifest(base, versions[-1])
        files = prev["files"] + new_files
        stats = {**prev.get("stats", {}), **stats}
        merged_schema = prev.get("merged_schema", False)
    return _commit_manifest(base, version, files, stats, merged_schema)


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


def _commit_manifest(
    base: str, version: int, files: list, stats: dict, merged_schema: bool = False
) -> int:
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
            if merged_schema:
                # files in this image do not all share one schema;
                # readers must union file schemas (sticky from the
                # evolving merge onward)
                manifest["merged_schema"] = True
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
    if m.get("merged_schema"):
        reader = reader.option("mergeSchema", "true")
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


def merge_snapshot(
    spark: SparkSession,
    base: str,
    batch: DataFrame,
    key: str,
    stat_cols: list[str] | None = None,
    evolution: str = "strict",
) -> int:
    """Copy-on-write MERGE (upsert by ``key``) into the versioned
    store; returns the new version.

    evolution='strict' (default) REFUSES a batch whose column set
    differs from the stored table; evolution='union' is the explicit
    schema-evolution policy: added columns backfill NULL on old rows,
    columns missing from the batch stay NULL on batch rows
    (unionByName semantics), the manifest records merged_schema and
    readers union file schemas from then on.

    The Delta/Iceberg MERGE shape on plain parquet: manifest min/max
    stats identify the files whose key range can intersect the batch
    (files without stats for the key are conservatively rewritten);
    ONLY those files are loaded, merged with the batch and rewritten —
    untouched files carry over into the new manifest by reference, and
    every prior version stays readable (time travel intact, data files
    immutable). Untouched files' stats always carry over too (their
    data did not change); stats for rewritten files are refreshed over
    ``stat_cols``, defaulting to whatever columns the previous
    manifest tracked.

    The batch unconditionally replaces matching keys.

    NULL merge keys are rejected: NULL never equals NULL in the join,
    so an upsert contract over a NULL key is unsatisfiable — each
    merge would append another copy.

    At 100 TB the rewrite cost is proportional to the TOUCHED key
    range, not the table — which is why merge targets should be
    written sorted/Z-ordered on the merge key (tight per-file ranges =
    tight pruning)."""
    from pyspark.sql import functions as F

    versions = list_versions(base)
    if not versions:
        return write_snapshot(batch, base, stat_cols=stat_cols)
    man = _manifest(base, versions[-1])
    files, stats = man["files"], man.get("stats", {})
    if stat_cols is None:
        # preserve the previous manifest's stat coverage: wiping stats
        # on a stat_cols-less merge would disable pruning forever after
        stat_cols = sorted({c for s in stats.values() for c in s}) or None

    # Schema contract: the merge rewrites TOUCHED files through
    # select(*batch.columns), so a batch narrower/wider than the stored
    # table would silently drop/invent columns for EVERY row of a
    # rewritten file — not just matched keys — and leave touched and
    # untouched files with divergent schemas. Refuse up front; schema
    # evolution needs an explicit policy, not an accident.
    evolved = man.get("merged_schema", False)
    if files:
        import pyarrow.parquet as pq

        # the UNION over every footer, not files[0]: after a union
        # evolution the image legitimately mixes old- and new-schema
        # files, and sampling one makes the strict-mode accept/reject
        # depend on file ordering (footer reads are manifest-sized)
        stored_cols: set = set()
        for f in files:
            stored_cols |= set(pq.ParquetFile(f).schema_arrow.names)
        batch_cols = set(batch.columns)
        if batch_cols != stored_cols:
            if evolution != "union":
                missing = sorted(stored_cols - batch_cols)
                extra = sorted(batch_cols - stored_cols)
                raise ValueError(
                    "merge_snapshot: batch schema differs from stored table "
                    f"(missing={missing}, extra={extra}); pass "
                    "evolution='union' to evolve explicitly"
                )
            if key not in batch.columns:
                raise ValueError(f"merge_snapshot: merge key {key!r} missing from batch")
            evolved = True

    if not batch.where(F.col(key).isNull()).isEmpty():
        raise ValueError(f"merge_snapshot: NULL values in merge key {key!r}")
    if batch.isEmpty():
        # empty batch: re-commit the previous manifest unchanged — no
        # junk zero-row file, no staging dir
        return _commit_manifest(base, versions[-1] + 1, files, stats, evolved)

    # per-file touch test: a file is touched iff SOME batch key falls
    # inside its [min, max] — a single global batch range would mark
    # everything touched the moment one faraway insert appears. The
    # file-interval table is manifest-sized, so broadcast it against
    # the batch's distinct keys and collect at most one row per file.
    no_stats = [f for f in files if stats.get(f, {}).get(key) is None]
    ivals = [
        (f, s[0], s[1])
        for f in files
        if (s := stats.get(f, {}).get(key)) is not None
    ]
    touched = list(no_stats)
    if ivals:
        fdf = spark.createDataFrame(ivals, ["__f", "__lo", "__hi"])
        hit = (
            batch.select(F.col(key).alias("__k"))
            .distinct()
            .join(
                F.broadcast(fdf),
                (F.col("__k") >= F.col("__lo")) & (F.col("__k") <= F.col("__hi")),
            )
            .select("__f")
            .distinct()
            .collect()
        )
        touched += [r["__f"] for r in hit]
    touched_set = set(touched)
    untouched = [f for f in files if f not in touched_set]

    if touched:
        # mergeSchema when the image has evolved: the touched set can
        # mix pre- and post-evolution files, and a plain read infers
        # from one footer — silently dropping the evolved column from
        # rewritten rows (read_snapshot already does this; the internal
        # rewrite read must too)
        reader = spark.read
        if evolved:
            reader = reader.option("mergeSchema", "true")
        old = reader.parquet(*touched)
        if not evolved:
            old = old.select(*batch.columns)
        remaining = old.join(batch.select(key).distinct(), key, "left_anti")
        image_delta = remaining.unionByName(batch, allowMissingColumns=evolved)
    else:
        image_delta = batch

    new_files = _write_staging(image_delta, base)
    new_stats = {f: s for f, s in stats.items() if f not in touched_set}
    if stat_cols:
        for f in new_files:
            new_stats[f] = _file_stats(f, stat_cols)
    return _commit_manifest(
        base, versions[-1] + 1, untouched + new_files, new_stats, evolved
    )


def pruned_file_count(
    base: str, version: int, predicate: tuple[str, object, object]
) -> tuple[int, int]:
    """(files kept, files total) for a predicate — planning introspection."""
    m = _manifest(base, version)
    col, lo, hi = predicate
    stats = m.get("stats", {})
    kept = sum(
        1
        for f in m["files"]
        if (s := stats.get(f, {}).get(col)) is None or not (s[1] < lo or s[0] > hi)
    )
    return kept, len(m["files"])


def pin_schema_epoch(root: str, tables: list[str]) -> int:
    """Pin ONE consistent epoch across every table of a schema.

    The reference takes a single SCN for the WHOLE migration — every
    table's chunked read is `AS OF` the same point
    (/root/reference/database/oracle/full.go:28-40), so cross-table
    invariants (orders ↔ lineitem FKs) hold in the target. The
    per-table manifests above give per-table consistency only; this
    epoch manifest records {table: latest version} atomically, and
    `read_schema_epoch` resolves every table through it.

        root/
          _epochs/000000.json   {"epoch": 0, "tables": {"orders": 3, ...}}
          <table>/_versions/... (per-table stores, unchanged)
    """
    ed = os.path.join(root, "_epochs")
    os.makedirs(ed, exist_ok=True)
    pinned: dict[str, int] = {}
    for t in tables:
        versions = list_versions(os.path.join(root, t))
        if not versions:
            raise FileNotFoundError(f"table {t} has no snapshot versions under {root}")
        pinned[t] = versions[-1]
    epochs = sorted(
        int(f[:-5]) for f in os.listdir(ed) if f.endswith(".json") and f[:-5].isdigit()
    )
    epoch = (epochs[-1] + 1) if epochs else 0
    # same put-if-absent discipline as _commit_manifest: concurrent
    # pinners each get their own epoch number, never a clobber
    tmp = os.path.join(ed, f".{uuid.uuid4().hex}.json.tmp")
    try:
        while True:
            with open(tmp, "w") as fh:
                json.dump({"epoch": epoch, "tables": pinned}, fh)
            try:
                os.link(tmp, os.path.join(ed, f"{epoch:06d}.json"))
                return epoch
            except FileExistsError:
                epoch += 1
    finally:
        os.remove(tmp)


def read_schema_epoch(
    spark: SparkSession, root: str, epoch: int | None = None
) -> dict[str, DataFrame]:
    """Load every table of a pinned epoch as one consistent image set.

    A write committed to any table AFTER the pin is invisible — the
    engine's schema-wide `AS OF SCN`."""
    ed = os.path.join(root, "_epochs")
    epochs = sorted(
        int(f[:-5]) for f in os.listdir(ed) if f.endswith(".json") and f[:-5].isdigit()
    ) if os.path.isdir(ed) else []
    if not epochs:
        raise FileNotFoundError(f"no pinned epochs under {root}")
    e = epochs[-1] if epoch is None else epoch
    if e not in epochs:
        raise ValueError(f"epoch {e} not in {epochs}")
    with open(os.path.join(ed, f"{e:06d}.json")) as fh:
        pinned = json.load(fh)["tables"]
    return {
        t: read_snapshot(spark, os.path.join(root, t), v) for t, v in pinned.items()
    }


def vacuum_snapshots(
    base: str,
    keep_last: int = 2,
    pinned: set[int] | None = None,
    grace_seconds: float = 3600.0,
) -> dict:
    """Retention: drop old version manifests and unreferenced data files.

    Keeps the newest ``keep_last`` versions plus everything in
    ``pinned`` (e.g. versions referenced by schema epochs — see
    vacuum_schema). A data file is deleted only when NO surviving
    manifest references it, so every retained version stays fully
    readable; orphans from failed writes (files referenced by no
    manifest at all) are swept too. Manifests are removed before the
    files they referenced, so a crash mid-vacuum leaves data to sweep,
    never a readable version with missing files.

    ``grace_seconds``: a staging dir referenced by NO manifest at all
    and younger than this is SKIPPED — it may be a concurrent
    write_snapshot that has finished its parquet write but not yet
    committed its manifest; deleting it would let that writer commit a
    torn version (the Delta/Iceberg VACUUM retention-window rule).
    Dirs belonging to dropped COMMITTED versions carry no such risk and
    are removed regardless of age; old orphans from crashed writes age
    past the window and are swept on a later pass. Pass 0 only when no
    writer can be concurrent.
    """
    import time as _time
    versions = list_versions(base)
    if not versions:
        return {"kept_versions": [], "deleted_versions": 0, "deleted_files": 0}
    keep = set(versions[-keep_last:]) | {v for v in (pinned or set()) if v in versions}
    referenced: set[str] = set()
    ever_referenced: set[str] = set()
    for v in versions:
        fs = _manifest(base, v)["files"]
        ever_referenced.update(fs)
        if v in keep:
            referenced.update(fs)

    dropped_versions = 0
    for v in versions:
        if v not in keep:
            os.remove(os.path.join(_versions_dir(base), f"{v:06d}.json"))
            dropped_versions += 1

    import shutil

    deleted_files = 0
    dd = _data_dir(base)
    if os.path.isdir(dd):
        for staging in os.listdir(dd):
            sdir = os.path.join(dd, staging)
            if not os.path.isdir(sdir):
                continue
            parquets = [
                os.path.join(sdir, f)
                for f in os.listdir(sdir)
                if f.endswith(".parquet")
            ]
            if not any(p in referenced for p in parquets):
                # whole write unreferenced. If NO manifest (kept or
                # dropped) ever listed these files, this is either a
                # crashed-write orphan or an IN-FLIGHT writer that
                # hasn't committed its manifest yet — indistinguishable,
                # hence the grace window on the newest mtime in the dir.
                if not any(p in ever_referenced for p in parquets):
                    try:
                        newest = max(
                            os.path.getmtime(os.path.join(sdir, f))
                            for f in os.listdir(sdir)
                        )
                    except (ValueError, OSError):
                        newest = os.path.getmtime(sdir)
                    if _time.time() - newest < grace_seconds:
                        continue
                # drop the dir with its _SUCCESS/.crc sidecars
                shutil.rmtree(sdir)
                deleted_files += len(parquets)
            else:
                for p in parquets:
                    if p not in referenced:
                        os.remove(p)
                        deleted_files += 1
    return {
        "kept_versions": sorted(keep),
        "deleted_versions": dropped_versions,
        "deleted_files": deleted_files,
    }


def vacuum_schema(root: str, tables: list[str], keep_last: int = 2) -> dict:
    """Vacuum every table store under ``root``, automatically pinning
    the versions referenced by ANY committed epoch — an epoch reader
    must never lose a table image out from under it."""
    import glob as _glob

    pinned: dict[str, set[int]] = {t: set() for t in tables}
    for ef in sorted(_glob.glob(os.path.join(root, "_epochs", "*.json"))):
        with open(ef) as fh:
            for t, v in json.load(fh)["tables"].items():
                pinned.setdefault(t, set()).add(int(v))
    return {
        t: vacuum_snapshots(os.path.join(root, t), keep_last, pinned.get(t))
        for t in tables
    }


def _exclusive_files(base: str, v_old: int, v_new: int) -> tuple[list[str], list[str]]:
    """Files only in v_old / only in v_new. Data files are immutable,
    so every file the two manifests SHARE holds byte-identical rows."""
    old = set(_manifest(base, v_old)["files"])
    new = set(_manifest(base, v_new)["files"])
    return sorted(old - new), sorted(new - old)


def stale_chunks(
    base: str, v_old: int, v_new: int, key: str, chunks: list
) -> list:
    """Which chunks of a compare plan NEED re-verification after the
    source advanced from v_old to v_new — decided from MANIFEST
    metadata alone, zero data reads.

    Data files are immutable, so only files exclusive to one manifest
    can change the image; their per-file [min, max] stats on the split
    key bound WHERE the change can live. A chunk whose key range
    misses every changed file's range provably has an identical image
    in both versions — its checksum cannot have moved, so periodic
    compare skips even the re-checksum (the next rung above
    compare_tables(incremental=True), which still checksums everything
    and skips only phase 2).

    Conservative by construction: a changed file with no stats for the
    key stales EVERY chunk (pruning must never skip what it cannot
    rule out)."""
    only_old, only_new = _exclusive_files(base, v_old, v_new)
    ranges: list[tuple] = []
    for v, flist in ((v_old, only_old), (v_new, only_new)):
        stats = _manifest(base, v).get("stats", {})
        for f in flist:
            s = stats.get(f, {}).get(key)
            if s is None:
                return list(chunks)
            ranges.append((s[0], s[1]))
    if not ranges:
        return []

    # The planner's FIRST and LAST chunks are open-ended by predicate
    # ('key <= hi' / 'key >= lo' — boundary guards so out-of-range rows
    # still land in a chunk) even though Chunk.lower/upper are concrete
    # ints. Honor the predicate, not the stored bound: an insert beyond
    # the planned range changes the edge chunk's image.
    ordered = sorted(chunks, key=lambda c: c.chunk_id)
    first_id = ordered[0].chunk_id
    last_id = ordered[-1].chunk_id

    def overlaps(c) -> bool:
        if c.predicate == "1=1":
            return True  # full-scan chunk: any change stales it
        lo = float("-inf") if c.chunk_id == first_id else c.lower
        hi = float("inf") if c.chunk_id == last_id else c.upper
        return any(not (r[1] < lo or r[0] > hi) for r in ranges)

    return [c for c in chunks if overlaps(c)]


def snapshot_version_diff(
    spark: SparkSession, base: str, v_old: int, v_new: int
) -> tuple[DataFrame, DataFrame]:
    """(rows removed, rows added) between two committed versions,
    reading ONLY manifest-differing files.

    Because data files are immutable, files common to both manifests
    cancel exactly in the multiset difference — the diff over the
    exclusive file sets IS the diff over the full images, and IO
    scales with the changed fraction, not the table. An append reads
    just the appended files; a full rewrite (compaction) degrades to
    the full diff — which then proves the rewrite preserved the data.
    Built on operators/diff.hashed_diff (16-byte hash shuffle)."""
    from transferdb_spark.operators.diff import hashed_diff

    only_old, only_new = _exclusive_files(base, v_old, v_new)
    schema_src = _manifest(base, v_new)["files"] or _manifest(base, v_old)["files"]
    if not only_old and not only_new:
        empty = spark.read.parquet(*schema_src).filter("1=0")
        return empty, empty
    old_df = (
        spark.read.parquet(*only_old)
        if only_old
        else spark.read.parquet(*schema_src).filter("1=0")
    )
    new_df = (
        spark.read.parquet(*only_new)
        if only_new
        else spark.read.parquet(*schema_src).filter("1=0")
    )
    removed, added = hashed_diff(old_df, new_df)
    return removed, added
