"""`compare` mode — two-phase chunked data verification (SURVEY.md §3.2).

Phase 1 (fast): per-chunk COUNT + commutative checksum on both sides
over ONE shared chunk grid, joined — only mismatching chunks continue
(report.go:74-166, 168-304).
Phase 2 (slow): one weighted row-set diff (operators.diff.dataset_diff:
both directions from one aggregation) on just those chunk ranges →
INSERT/DELETE repair rows → fix-SQL file (report.go:236-302).

At 100 TB the phase-2 scan is bounded by the damaged key ranges
(predicate pushdown on the split key), not the table — and the repair
statements are rendered executor-side (operators.diff.repair_statements)
so the driver never holds repair rows, only counts.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transferdb_spark.operators.checksum import compare_chunks, shared_chunk_bounds
from transferdb_spark.operators.diff import dataset_diff, repair_statements
from transferdb_spark.plans.chunker import elect_split_key, plan_chunks


@dataclass
class CompareReport:
    table: str
    total_chunks: int = 0
    # phase-1 mismatch set: every chunk whose (cnt, checksum) differs
    mismatched_chunks: list[int] = field(default_factory=list)
    insert_rows: int = 0
    delete_rows: int = 0
    fix_sql_path: str = ""

    @property
    def is_equal(self) -> bool:
        return not self.mismatched_chunks


def compare_tables(
    spark: SparkSession,
    src: DataFrame,
    tgt: DataFrame,
    table: str,
    workdir: str,
    key: str | None = None,
    n_chunks: int = 32,
    dialect: str = "mysql",
) -> CompareReport:
    """Compare src vs tgt; emit fix-SQL for divergent rows."""
    report = CompareReport(table=table, total_chunks=n_chunks)
    # one grid for both sides, from the source key range — the
    # reference applies one chunk plan's WHERE ranges to both databases
    # (chunk.go:108-399). The election returns that range from its own
    # aggregate; a caller-given key or an empty source needs the scan.
    bounds = None
    if key is None:
        key, bounds = elect_split_key(src)
    if bounds is None:
        bounds = shared_chunk_bounds(src, tgt, key)
    summary = compare_chunks(src, tgt, key, n_chunks, bounds=bounds)
    mism = summary.filter("NOT is_match").select("chunk_id").collect()
    report.mismatched_chunks = sorted(r["chunk_id"] for r in mism)

    if not report.mismatched_chunks:
        return report

    # phase 2 — restrict both sides to damaged chunk ranges only,
    # using the SAME grid phase 1 aggregated over
    chunks = plan_chunks(src, key, n_chunks, bounds=bounds)
    preds = [chunks[i].predicate for i in report.mismatched_chunks]
    where = " OR ".join(f"({p})" for p in preds)
    ins_df, del_df = dataset_diff(src.filter(where), tgt.filter(where))

    # render INSERT/DELETE statements executor-side; the driver sees
    # only the (kind → count) rollup — never the repair rows
    stmts = repair_statements(ins_df, del_df, table, dialect=dialect).persist()
    counts = {
        r["kind"]: r["n"]
        for r in stmts.groupBy("kind").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    report.insert_rows = int(counts.get("INSERT", 0))
    report.delete_rows = int(counts.get("DELETE", 0))

    os.makedirs(workdir, exist_ok=True)
    stmt_dir = os.path.join(workdir, f"compare_{table}_stmts")
    stmts.select("stmt").write.mode("overwrite").text(stmt_dir)
    stmts.unpersist()

    # assemble the single fix file the reference emits
    # (module/compare/file.go) by streaming the part files — constant
    # driver memory, no py4j row transfer. Assembled in a sibling tmp
    # file and swapped into place, so a crash mid-copy leaves the
    # previous fix file intact — never a truncated one whose header
    # claims the full counts (--apply would run a partial repair).
    report.fix_sql_path = os.path.join(workdir, f"compare_{table}.sql")
    tmp = report.fix_sql_path + ".tmp"
    with open(tmp, "w") as out:
        out.write(
            f"-- fix SQL for {table}: {report.insert_rows} inserts, "
            f"{report.delete_rows} deletes\n"
        )
        for part in sorted(glob.glob(os.path.join(stmt_dir, "part-*"))):
            with open(part) as src_fh:
                shutil.copyfileobj(src_fh, out)
    os.replace(tmp, report.fix_sql_path)
    shutil.rmtree(stmt_dir, ignore_errors=True)
    return report
