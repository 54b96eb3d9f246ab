"""Chunk planner — Spark-native DBMS_PARALLEL_EXECUTE (SURVEY.md §2.2 P3/P4).

The reference splits every table into WHERE-range chunks via
DBMS_PARALLEL_EXECUTE.CREATE_CHUNKS_BY_{ROWID,NUMBER_COL}
(/root/reference/database/oracle/full.go:42-93,
/root/reference/database/oracle/compare.go:105-132) and persists the
plan as rows. On Spark, partitioning is native — this planner exists for
(a) *deterministic, resumable* chunk identity (checkpoint semantics,
full.go:287-331), (b) chunk-level compare aggregation, and (c) JDBC
predicate generation at real scale.

Chunk id derivation is pure integer arithmetic on the split key so the
DuckDB oracle can reproduce it exactly:

    width    = (max-min) // n + 1
    chunk_id = (key - min) // width
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Chunk:
    """One planned chunk: a closed integer range on the split key.

    Mirrors FullSyncMeta/DataCompareMeta rows — the persisted chunk plan
    (/root/reference/database/meta/sync_meta_full.go:39)."""

    chunk_id: int
    lower: int  # inclusive
    upper: int  # inclusive
    predicate: str  # SQL WHERE fragment (JDBC pushdown ready)


def plan_chunks(
    df: DataFrame, key: str, n_chunks: int, bounds: tuple[int, int] | None = None
) -> list[Chunk]:
    """Plan fixed-width integer ranges over [min(key), max(key)].

    One tiny agg job (min/max) — the analogue of the reference reading
    optimizer stats before splitting (compare.go:84-103). Boundary-guard
    semantics (chunk.go:331-369): the first/last chunks are emitted as
    open-ended predicates so target-side rows outside the source range
    still land in a chunk.

    `bounds` pins the (lo, hi) key range externally — compare mode plans
    ONE grid from the union of both sides' extremes and applies it to
    both, the way the reference applies one chunk plan's WHERE ranges to
    both databases (chunk.go:108-399). An empty table (NULL min/max)
    yields a single open `1=1` chunk — the reference's stats=0 full-scan
    chunk (chunk.go:199-242).
    """
    if bounds is None:
        row = df.select(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
        if row["lo"] is None:
            return [Chunk(0, 0, 0, "1=1")]
        bounds = int(row["lo"]), int(row["hi"])
    lo, hi = bounds
    width = (hi - lo) // n_chunks + 1
    chunks = []
    for i in range(n_chunks):
        c_lo, c_hi = lo + i * width, min(lo + (i + 1) * width - 1, hi)
        if i == 0:
            pred = f"{key} <= {c_hi}"
        elif i == n_chunks - 1:
            pred = f"{key} >= {c_lo}"
        else:
            pred = f"{key} BETWEEN {c_lo} AND {c_hi}"
        chunks.append(Chunk(i, c_lo, c_hi, pred))
    return chunks


def quoted_chunks(chunks: list[Chunk], key: str, quote: str = '"') -> list[Chunk]:
    """Rewrite chunk predicates with quoted key identifiers for
    case-sensitive JDBC dialects (Spark's JDBC writer quotes column
    names on CREATE, so a bare lower-case key no longer resolves)."""
    return [
        Chunk(c.chunk_id, c.lower, c.upper, c.predicate.replace(key, f"{quote}{key}{quote}"))
        for c in chunks
    ]


def chunk_id_col(key: str, lo: int, width: int, n_chunks: int) -> Column:
    """chunk_id as a Column — exact *integer* division (`div`), never
    double math: at 64-bit key ranges a double quotient would lose
    precision past 2^53 and misassign chunks."""
    raw = F.expr(f"(({key} - {lo}) div {width})")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n_chunks - 1)).cast("int")


def with_chunk_id(
    df: DataFrame, key: str, n_chunks: int, bounds: tuple[int, int] | None = None
) -> tuple[DataFrame, int, int]:
    """Tag every row with its chunk id (single scan, no shuffle).

    `bounds` pins the grid externally (see plan_chunks); an empty table
    tags the (zero) rows with chunk 0 instead of crashing on NULL
    min/max."""
    if bounds is None:
        row = df.select(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
        if row["lo"] is None:
            return df.withColumn("chunk_id", F.lit(0).cast("int")), 0, 1
        bounds = int(row["lo"]), int(row["hi"])
    lo, hi = bounds
    width = (hi - lo) // n_chunks + 1
    return df.withColumn("chunk_id", chunk_id_col(key, lo, width, n_chunks)), lo, width


def plan_chunks_quantile(
    df: DataFrame,
    key: str,
    n_chunks: int,
    error: float = 0.001,
    bounds: tuple[int, int] | None = None,
) -> list[Chunk]:
    """Equi-depth chunk plan from approximate key quantiles.

    Fixed-width ranges (plan_chunks) go pathological on skewed keys —
    one chunk holds most of the table and becomes the straggler task at
    scale. Quantile boundaries give every chunk ~rows/n rows whatever
    the key distribution, at the cost of one approxQuantile pass
    (Greenwald-Khanna: single scan, deterministic for a given dataset
    and error). Boundary-guard semantics match plan_chunks: first/last
    predicates are open-ended. `bounds` is the key's (min, max) when
    the caller already has it (elect_split_key returns it), saving the
    min/max scan."""
    if bounds is None:
        row = df.select(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
        if row["lo"] is None:
            return [Chunk(0, 0, 0, "1=1")]
        bounds = int(row["lo"]), int(row["hi"])
    lo, hi = bounds
    probs = [i / n_chunks for i in range(1, n_chunks)]
    cuts = [int(c) for c in df.stat.approxQuantile(key, probs, error)]
    # dedupe + clamp: heavy skew can repeat a cut value
    bounds = sorted({c for c in cuts if lo < c <= hi})
    edges = [lo] + [b for b in bounds] + [hi + 1]
    chunks = []
    for i in range(len(edges) - 1):
        c_lo, c_hi = edges[i], edges[i + 1] - 1
        if i == 0:
            pred = f"{key} <= {c_hi}"
        elif i == len(edges) - 2:
            pred = f"{key} >= {c_lo}"
        else:
            pred = f"{key} BETWEEN {c_lo} AND {c_hi}"
        chunks.append(Chunk(i, c_lo, c_hi, pred))
    return chunks


def elect_split_key(
    df: DataFrame, candidates: list[str] | None = None, approx: bool = True
) -> tuple[str, tuple[int, int] | None]:
    """Split-key election by selectivity (compare task.go:194-343).

    The reference prefers single-column numeric PK/UK, then unique
    index, then the indexed column with the highest NUM_DISTINCT. With
    no catalog constraints on parquet, election = the numeric column
    with max (approx) distinct count; ties break on column order.

    Returns ``(key, (min, max))``: the same aggregate takes every
    candidate's min and max, so the caller plans chunks from the
    returned bounds (``plan_chunks(..., bounds=)``) without a second
    scan. An empty table returns ``(key, None)``. One pass at any
    scale — approx_count_distinct, min and max are all mergeable.
    """
    numeric = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("long", "integer", "short", "byte")
        and (candidates is None or f.name in candidates)
    ]
    if not numeric:
        raise ValueError("no numeric split-key candidate (reference: task.go:213-214 hard error)")
    agg = F.approx_count_distinct if approx else F.count_distinct
    cols = []
    for i, c in enumerate(numeric):
        cols += [agg(c).alias(f"d{i}"), F.min(c).alias(f"lo{i}"), F.max(c).alias(f"hi{i}")]
    row = df.select(cols).first()
    i = max(range(len(numeric)), key=lambda i: (row[f"d{i}"], -i))
    lo, hi = row[f"lo{i}"], row[f"hi{i}"]
    return numeric[i], None if lo is None else (int(lo), int(hi))


@dataclass(frozen=True)
class RowidChunk:
    """One keyless chunk: a contiguous group of data files.

    The Spark analogue of DBMS_PARALLEL_EXECUTE.CREATE_CHUNKS_BY_ROWID
    (/root/reference/database/oracle/full.go:42-93): Oracle splits a
    heap table by physical extent ranges; here the physical unit is the
    parquet part-file. Planning is a driver-side metadata listing — no
    data scan — exactly like reading DBA_EXTENTS."""

    chunk_id: int
    lower: int  # first file index (inclusive, name-sorted)
    upper: int  # last file index (inclusive)
    predicate: str  # "files:" + ";".join(relative names) — resume identity
    files: tuple[str, ...]  # absolute paths
    n_bytes: int


def plan_chunks_rowid(path: str, n_chunks: int) -> list[RowidChunk]:
    """Plan keyless chunks by packing name-sorted part-files into
    ~size-balanced contiguous groups.

    Used when a table has no numeric split key (elect_split_key raises)
    — the reference's first fallback for heap tables without a usable
    PK. Size-balanced contiguous packing keeps chunks ~equal work and
    resume identity stable as long as the file set is unchanged; any
    file-set change invalidates the persisted plan (the predicate
    encodes the file list), matching the reference's refuse-to-resume
    on plan drift (full.go:315-331).
    """
    import os as _os

    if _os.path.isdir(path):
        names = sorted(
            f
            for f in _os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        files = [(_os.path.join(path, f), _os.path.getsize(_os.path.join(path, f))) for f in names]
    else:
        files = [(path, _os.path.getsize(path))]
    if not files:
        return [RowidChunk(0, 0, 0, "files:", (), 0)]
    total = sum(sz for _, sz in files)
    n_chunks = max(1, min(n_chunks, len(files)))
    target = total / n_chunks
    chunks: list[RowidChunk] = []
    group: list[tuple[str, int]] = []
    group_lo = 0
    acc = 0
    for i, (fp, sz) in enumerate(files):
        group.append((fp, sz))
        acc += sz
        remaining_files = len(files) - i - 1
        remaining_chunks = n_chunks - len(chunks) - 1
        # close the group once it reaches the size target, but never
        # leave fewer files than chunks still to emit
        if (acc >= target and remaining_chunks > 0 and remaining_files >= remaining_chunks) or (
            remaining_files == remaining_chunks and remaining_chunks > 0
        ):
            chunks.append(_rowid_chunk(len(chunks), group_lo, i, group))
            group, group_lo, acc = [], i + 1, 0
    if group:
        chunks.append(_rowid_chunk(len(chunks), group_lo, len(files) - 1, group))
    return chunks


def _rowid_chunk(cid: int, lo: int, hi: int, group: list[tuple[str, int]]) -> RowidChunk:
    import os as _os

    rel = ";".join(_os.path.basename(fp) for fp, _ in group)
    return RowidChunk(
        cid, lo, hi, f"files:{rel}", tuple(fp for fp, _ in group), sum(sz for _, sz in group)
    )
