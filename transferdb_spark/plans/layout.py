"""Multi-dimensional data layout — Z-order clustering for scan pruning.

The reference migrates tables chunk-by-chunk but leaves the *target*
physical layout to the DBA (rows land in whatever order the chunk scan
produced, /root/reference/database/oracle/full.go:95-135). At 100 TB
the dominant query cost is scan bytes, and parquet row-group min/max
statistics only prune when the data is clustered on the filter
columns. A single-column sort clusters one dimension and destroys the
others; a Z-order (Morton) curve interleaves the bits of k bucketed
dimensions so every output file covers a small hyper-rectangle of the
key space — filters on ANY of the k columns skip most files.

Scale design (100 TB):
- Bucketing is pure integer arithmetic on per-column (min, max) from
  one tiny agg job — the same "tiny plan, distributed data" shape as
  plans/chunker.py. ``width = (hi-lo) div 2^bits + 1`` then
  ``bucket = (v-lo) div width`` — no float division, no overflow, and
  deterministic across engines (the DuckDB oracle reproduces the code
  bit-for-bit).
- Bit interleaving for 2 dims is the classic mask-spread (4 shifted
  OR/AND steps per column, ~10 codegen'd integer ops — NOT a
  per-bit 32-term expression); k>2 dims fall back to a per-bit loop
  at reduced bits/dim. Shifts are written as multiplication by 2^s so
  the same expression text runs on Spark SQL and DuckDB.
- The layout job itself is scan -> narrow z projection ->
  repartitionByRange(z) -> sortWithinPartitions(z) -> write: exactly
  one wide exchange (the range partitioner), same as a plain sorted
  write — Z-ordering is free relative to any clustering rewrite.
- ``file_span_stats`` reads ONLY parquet footers (driver-side, O(files)
  metadata, no data scan) to score a layout: mean fractional span per
  dimension per file == the expected fraction of files a point filter
  on that dimension must read.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType as _ArrayT

# mask-spread steps: 16 input bits -> even bit positions of a 32-bit
# word. (shift, mask) pairs; shift done as * 2^s for engine portability.
_SPREAD2 = [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]

DEFAULT_BITS_2D = 16


def bucket_expr(col: str, lo: int, hi: int, bits: int, idiv: str) -> str:
    """Integer bucket of ``col`` stretched onto the FULL [0, 2^bits).

    Every dimension must occupy the same bit width or the interleave
    degenerates: a 7-bit dimension next to an 11-bit one contributes
    nothing to the top z-bits and files end up clustered on the wide
    dimension only. Narrow ranges are scaled UP
    (``(v-lo)*(2^bits-1) div range`` — safe: range < 2^bits keeps the
    product < 2^32); wide ranges are scaled DOWN by a width divisor
    (no multiplication, so 2^48-scale keys never overflow int64).

    ``idiv`` is the engine's integer-division token ('div' for Spark
    SQL, '//' for DuckDB); everything else is common SQL.
    """
    lo, hi = int(lo), int(hi)
    rng = hi - lo
    # CAST to BIGINT up front: a 32-bit column (or literal — DuckDB
    # types bare integer literals INT32) would overflow the stretch
    # multiply; both engines accept the same CAST syntax.
    base = f"(CAST(({col}) - ({lo}) AS BIGINT))"
    if rng < (1 << bits):
        return f"(({base} * {(1 << bits) - 1}) {idiv} {max(1, rng)})"
    width = rng // (1 << bits) + 1
    return f"({base} {idiv} {width})"


def _spread2_expr(e: str) -> str:
    """Spread 16 bits of ``e`` to the even bits of a 32-bit word."""
    for shift, mask in _SPREAD2:
        e = f"((({e}) | (({e}) * {1 << shift})) & {mask})"
    return e


def morton_expr(
    cols: list[str],
    ranges: dict[str, tuple[int, int]],
    bits: int | None = None,
    idiv: str = "div",
) -> str:
    """Z-value expression over ``cols`` as one engine-portable string.

    2 columns: mask-spread interleave at 16 bits/dim (z < 2^32).
    k>2 columns: per-bit interleave at ``min(8, 48//k)`` bits/dim so
    the z-value stays well inside int64 and the expression stays a few
    dozen terms.
    """
    if len(cols) < 2:
        raise ValueError("Z-order needs >= 2 columns; use a plain sort for 1")
    if len(cols) == 2:
        b = bits or DEFAULT_BITS_2D
        if b > 16:
            # _spread2_expr's masks spread exactly 16 bits — higher
            # bucket bits would be silently dropped, degrading the
            # z-order with no error
            raise ValueError(f"2-column Z-order supports at most 16 bits/dim, got {b}")
        x = _spread2_expr(bucket_expr(cols[0], *ranges[cols[0]], b, idiv))
        y = _spread2_expr(bucket_expr(cols[1], *ranges[cols[1]], b, idiv))
        return f"(({x}) | (({y}) * 2))"
    k = len(cols)
    b = bits or min(8, 48 // k)
    if k * b > 62:
        # highest term weight is 2^(k*(b-1)+k-1) = 2^(k*b-1); keep the
        # z-value inside int64 instead of silently wrapping negative
        raise ValueError(f"{k}-column Z-order at {b} bits/dim overflows int64")
    terms = []
    for i, c in enumerate(cols):
        bucket = bucket_expr(c, *ranges[c], b, idiv)
        for bit in range(b):
            # ((bucket div 2^bit) % 2) * 2^(k*bit + i)
            terms.append(
                f"(((({bucket}) {idiv} {1 << bit}) % 2) * {1 << (k * bit + i)})"
            )
    return "(" + " + ".join(terms) + ")"


def _bucket_dyn_sql(c: str, lo: str, hi: str, bits: int, idiv: str) -> str:
    """bucket_expr with (lo, hi) as SQL scalar references, not literals.

    The DuckDB oracle cannot receive the Python-computed range
    literals, so it computes them in a CTE and the Python branch
    (stretch-up vs divide-down) becomes a CASE on the same condition —
    value-identical to the literal rendering the Spark side runs.
    """
    n = 1 << bits
    rng = f"(CAST(({hi}) - ({lo}) AS BIGINT))"
    base = f"(CAST(({c}) - ({lo}) AS BIGINT))"
    up = f"(({base} * {n - 1}) {idiv} (CASE WHEN {rng} > 0 THEN {rng} ELSE 1 END))"
    down = f"({base} {idiv} ({rng} {idiv} {n} + 1))"
    return f"(CASE WHEN {rng} < {n} THEN {up} ELSE {down} END)"


def morton2_sql_dynamic(
    cols: list[str],
    range_refs: dict[str, tuple[str, str]],
    bits: int = DEFAULT_BITS_2D,
    idiv: str = "//",
) -> str:
    """2-dim z-value with ranges taken from SQL scalar refs (CTE join)."""
    if bits > 16:
        # same guard as morton_expr: the spread masks cover exactly 16
        # bits — the oracle twin must error symmetrically, not degrade
        raise ValueError(f"2-column Z-order supports at most 16 bits/dim, got {bits}")
    x = _spread2_expr(_bucket_dyn_sql(cols[0], *range_refs[cols[0]], bits, idiv))
    y = _spread2_expr(_bucket_dyn_sql(cols[1], *range_refs[cols[1]], bits, idiv))
    return f"(({x}) | (({y}) * 2))"


def column_ranges(df: DataFrame, cols: list[str]) -> dict[str, tuple[int, int]]:
    """One tiny agg job: (min, max) per layout column."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}__lo"), F.max(c).alias(f"{c}__hi")]
    row = df.agg(*aggs).first()
    out: dict[str, tuple[int, int]] = {}
    for c in cols:
        lo, hi = row[f"{c}__lo"], row[f"{c}__hi"]
        if lo is None:
            lo = hi = 0
        out[c] = (int(lo), int(hi))
    return out


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    n_files: int | None = None,
    bits: int | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Re-cluster ``df`` on the Z-order curve over ``cols``.

    Returns the frame range-partitioned and sorted by the z-value
    (dropped from the output schema) — write it out and every file
    holds one contiguous z-range == one small hyper-rectangle of the
    key space. Exactly one wide exchange (RangePartitioning).
    ``partition_cols`` clusters WITHIN each hive partition instead:
    hash-partitioned on those columns and sorted by (partition, z), one
    writer task keeps each partition slice — a global z-range exchange
    followed by partitionBy would write (tasks × dirs) small files.
    """
    ranges = column_ranges(df, cols)
    z = F.expr(morton_expr(cols, ranges, bits=bits, idiv="div"))
    out = df.withColumn("__z", z)
    n = n_files or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    if partition_cols:
        out = out.repartition(n, *partition_cols).sortWithinPartitions(*partition_cols, "__z")
    else:
        out = out.repartitionByRange(n, "__z").sortWithinPartitions("__z")
    return out.drop("__z")


def workload_from_log(log_df: DataFrame) -> list[tuple[list[str], float]]:
    """Fold a query-log RELATION into recommend_layout's workload shape.

    Expected columns: ``filter_cols`` (array<string> — the columns a
    query filtered on; a plain string column also works) and optionally
    ``weight`` (query frequency/cost; default 1 per row). The log is a
    per-query audit relation (what a query gateway or plan-lint sweep
    records), so it is small — the collect here is log-sized, never
    data-sized. Identical filter-column sets aggregate their weight."""
    cols = log_df.columns
    if "filter_cols" not in cols:
        raise ValueError("workload log needs a filter_cols column")
    w = F.col("weight").cast("double") if "weight" in cols else F.lit(1.0)
    fc = F.col("filter_cols")
    if not isinstance(log_df.schema["filter_cols"].dataType, _ArrayT):
        fc = F.array(fc.cast("string"))
    agg = (
        log_df.select(F.array_sort(fc).alias("fc"), w.alias("w"))
        .groupBy("fc")
        .agg(F.sum("w").alias("w"))
        .collect()
    )
    return [(list(r["fc"]), float(r["w"])) for r in agg]


def advise_layout_from_log(
    df: DataFrame, log_df: DataFrame, max_cols: int = 2
) -> list[str]:
    """`--layout-cols auto`: workload log relation -> Z-order columns
    (filter-column frequency x log2(NDV) scoring, recommend_layout)."""
    return recommend_layout(df, workload_from_log(log_df), max_cols=max_cols)


@dataclass(frozen=True)
class LayoutScore:
    """Per-dimension clustering quality of a written parquet layout.

    ``span_fraction[col]`` = mean over files of
    ``(file_max - file_min) / (global_max - global_min)`` — the
    expected fraction of files a point filter on ``col`` must read.
    1.0 means no file can ever be skipped; 1/sqrt(n_files) per dim is
    the Z-order ideal for 2 dims.
    """

    n_files: int
    span_fraction: dict[str, float]


def file_span_stats(path: str, cols: list[str]) -> LayoutScore:
    """Score a parquet directory's layout from footers only.

    Driver-side O(files) metadata read — the same stats the scan's
    row-group pruner consults, so this measures exactly what data
    skipping will deliver.
    """
    import pyarrow.parquet as pq

    files = [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet")
    ]
    per_file: list[dict[str, tuple[int, int]]] = []
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        spans: dict[str, tuple[int, int]] = {}
        for c in cols:
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                spans[c] = (lo, hi)
        if spans:
            per_file.append(spans)
    frac: dict[str, float] = {}
    if not per_file:
        return LayoutScore(n_files=0, span_fraction={c: 1.0 for c in cols})
    for c in cols:
        stats = [s[c] for s in per_file if c in s]
        if not stats:
            frac[c] = 1.0
            continue
        glo = min(s[c][0] for s in per_file if c in s)
        ghi = max(s[c][1] for s in per_file if c in s)
        width = max(1, ghi - glo)
        fs = [(s[c][1] - s[c][0]) / width for s in per_file if c in s]
        frac[c] = sum(fs) / len(fs) if fs else 1.0
    return LayoutScore(n_files=len(per_file), span_fraction=frac)


def recommend_layout(
    df: DataFrame,
    workload: list[tuple[list[str], float]],
    max_cols: int = 2,
) -> list[str]:
    """Pick Z-order columns from a workload log.

    ``workload`` = [(filter_columns, weight)] per query shape (weight ~
    query frequency). A column earns its place by (a) how much scan
    weight filters on it and (b) how selectively min/max stats can cut
    on it — low-NDV columns (a handful of flag values) span every file
    whatever the layout, so benefit scales with log2(NDV). One
    approx_count_distinct pass supplies the NDVs (the same cheap
    single-scan census split-key election uses); ties break on column
    name so the recommendation is deterministic.

    Returns 1 column when only one earns weight — callers should then
    plain-sort instead of Z-ordering (morton_expr refuses k=1 by
    design)."""
    import math

    weights: dict[str, float] = {}
    for cols, w in workload:
        for c in cols:
            if c in df.columns:
                weights[c] = weights.get(c, 0.0) + float(w)
    if not weights:
        return []
    cand = sorted(weights)
    row = df.agg(
        *[F.approx_count_distinct(c).alias(c) for c in cand]
    ).first()
    scored = sorted(
        cand,
        key=lambda c: (-(weights[c] * math.log2(max(2, row[c]))), c),
    )
    return scored[:max_cols]
