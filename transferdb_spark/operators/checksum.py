"""A1/A2 — chunked row-count and commutative checksum compare.

The reference's fast compare path: per chunk, COUNT(1) on both sides
(/root/reference/module/compare/oracle/o2m/report.go:74-166) or a
CRC32-per-row summed over the chunk
(/root/reference/database/oracle/compare.go:146-274). The sum is
commutative, so no ordering is needed — on Spark this is a single
groupBy with map-side partial aggregation; the shuffle moves exactly
n_chunks rows per partition.

Scale note (100 TB): the only wide operation is groupBy(chunk_id) over
~n_chunks distinct keys — partial aggregation reduces each input
partition to n_chunks rows before the shuffle, so the exchanged data is
O(partitions × chunks), independent of table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transferdb_spark.functions.hashing import row_hash
from transferdb_spark.plans.chunker import with_chunk_id


def chunk_checksums(
    df: DataFrame,
    key: str,
    n_chunks: int,
    cols: list[str] | None = None,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Per-chunk (cnt, checksum) — columns: chunk_id, cnt, checksum.

    `bounds` pins the chunk grid (lo, hi) externally so two tables can
    be aggregated over the SAME key ranges (see shared_chunk_bounds).
    The row hash is the md5-based engine-portable one, so the checksum
    VALUES match another engine's (the DuckDB oracle); Spark-vs-Spark
    compare runs chunk_checksums_native (xxhash64, ~3-5× cheaper)."""
    from transferdb_spark.ext.text import spread_narrow

    tagged, _, _ = with_chunk_id(df, key, n_chunks, bounds=bounds)
    h = row_hash(df.schema, cols)
    # spread_narrow (round-9): the canonical render + hash is the
    # expensive narrow stage and otherwise runs on however few
    # partitions the scan produced (ONE for the single-row-group sf
    # fixtures); the checksum SUM is commutative so the round-robin
    # cannot change any value, and at real scale the condition makes
    # this a no-op.
    return (
        spread_narrow(tagged.select("chunk_id", *[c for c in (cols or df.columns)]))
        .select("chunk_id", h.alias("h"))
        .groupBy("chunk_id")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("h").alias("checksum"))
    )


def chunk_checksums_native(
    df: DataFrame,
    key: str,
    n_chunks: int,
    cols: list[str] | None = None,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Production fast path of `chunk_checksums`: xxhash64 over the
    NATIVE column values, no canonical-string rendering at all.

    The canonical string exists so two *different* engines render
    values identically before hashing (the reference's Oracle-vs-MySQL
    contract, task.go:147-179). When both compare sides are DataFrames
    in THIS engine — post-normalize, as the compare mode runs them —
    rendering buys nothing: hashing the typed values is
    representation-complete. Each value is interleaved with its null
    flag (xxhash64 skips NULL arguments, so ('a', NULL) and
    (NULL, 'a') would otherwise alias structurally). ~4× less CPU than
    the portable path (no decimal→string, no date_format, no md5).

    Same 40-bit truncation so per-chunk SUM() stays exact in int64;
    same aggregation topology (map-side partial, O(chunks) shuffle
    rows). Checksum VALUES differ from the portable variant — only
    match/mismatch verdicts are comparable, which is all compare mode
    reads. Spark-vs-Spark verdict equivalence is pinned by pytest."""
    from transferdb_spark.functions.hashing import HEX_DIGITS

    tagged, _, _ = with_chunk_id(df, key, n_chunks, bounds=bounds)
    names = cols or df.columns
    args = [x for c in names for x in (F.col(c), F.col(c).isNull())]
    h = F.shiftrightunsigned(F.xxhash64(*args), 64 - HEX_DIGITS * 4)
    # NO spread_narrow here (round-9 A/B): xxhash64 over native values
    # is cheap enough that the round-robin exchange of the payload
    # costs more than the single-row-group serialism it fixes
    # (0.61 s -> 1.53 s at sf0.1). Only the md5+canonical-render
    # portable path above clears that bar.
    return (
        tagged.select("chunk_id", h.alias("h"))
        .groupBy("chunk_id")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("h").alias("checksum"))
    )


def shared_chunk_bounds(src: DataFrame, tgt: DataFrame, key: str) -> tuple[int, int] | None:
    """One chunk grid for both sides, derived from the SOURCE key range.

    The reference computes the chunk plan once (from the source) and
    applies the same WHERE ranges to both databases, with open-ended
    boundary chunks catching target rows outside the source min/max
    (module/compare/oracle/o2m/chunk.go:108-399, 331-369). Letting each
    side derive its own grid from its own min/max makes the same
    chunk_id cover *different* key ranges when extremes diverge —
    phase 1 then degenerates to near-total mismatch. Deriving from the
    source (not the union of extremes) also keeps one rogue target key
    from stretching the grid so far that every real row lands in one
    chunk; target outliers clamp into the first/last chunk, whose plan
    predicates are open-ended. Falls back to the target range when the
    source is empty; None when both are."""
    for side in (src, tgt):
        r = side.select(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
        if r["lo"] is not None:
            return int(r["lo"]), int(r["hi"])
    return None


def compare_chunks(
    src: DataFrame,
    tgt: DataFrame,
    key: str,
    n_chunks: int,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Join per-chunk summaries of both sides; flag mismatching chunks.

    Both sides are tagged with ONE shared grid (union of extremes, or a
    caller-pinned `bounds`) so a matched chunk proves its key range is
    equal on both sides — the reference applies one chunk plan's WHERE
    ranges to both databases (chunk.go:108-399).

    Full-outer join on chunk_id (tiny — n_chunks rows/side, broadcast).
    Output: chunk_id, src_cnt, tgt_cnt, src_checksum, tgt_checksum,
    is_match. Mismatching chunks are the candidates for the row-level
    diff slow path (operators.diff), exactly the reference's two-phase
    design (report.go:168-304).
    """
    if bounds is None:
        bounds = shared_chunk_bounds(src, tgt, key) or (0, 0)
    # production Spark-vs-Spark compare: native-value checksums (no
    # canonical rendering, no md5) — verdict-equivalent, ~4× less CPU
    s = chunk_checksums_native(src, key, n_chunks, bounds=bounds).withColumnsRenamed(
        {"cnt": "src_cnt", "checksum": "src_checksum"}
    )
    t = chunk_checksums_native(tgt, key, n_chunks, bounds=bounds).withColumnsRenamed(
        {"cnt": "tgt_cnt", "checksum": "tgt_checksum"}
    )
    joined = s.join(t, "chunk_id", "full_outer")
    return joined.select(
        "chunk_id",
        F.coalesce("src_cnt", F.lit(0)).alias("src_cnt"),
        F.coalesce("tgt_cnt", F.lit(0)).alias("tgt_cnt"),
        "src_checksum",
        "tgt_checksum",
        (
            (F.coalesce("src_cnt", F.lit(0)) == F.coalesce("tgt_cnt", F.lit(0)))
            & (F.coalesce("src_checksum", F.lit(0)) == F.coalesce("tgt_checksum", F.lit(0)))
        ).alias("is_match"),
    )
