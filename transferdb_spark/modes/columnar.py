"""Columnar file sinks beyond parquet — ORC export/import (S8 family).

The reference's file sink is CSV only (module/migrate/csv/...); a
lake-bound migration needs the columnar formats warehouses actually
ingest. Parquet is this engine's native interchange everywhere; ORC is
the other first-class columnar format Spark ships a vectorized
reader/writer for (no extra jars), so it completes the sink matrix:

    csv_mode.csv_export   — text interchange (reference parity)
    jsonl_mode            — line-delimited JSON + quarantine import
    columnar.orc_export   — ORC with the same chunk-parallel layout

Same scale shape as the CSV sink: repartitionByRange on the elected
split key so file sizes track chunk planning, all IO JVM-side. ORC
predicate pushdown / column pruning work like parquet's (pinned by
test via the read plan's PushedFilters).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from transferdb_spark.operators.normalize import normalize_projection
from transferdb_spark.plans.chunker import elect_split_key


def orc_export(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    outdir: str,
    schema_name: str = "tpch",
    n_chunks: int = 32,
    normalize: bool = False,
    compression: str = "zlib",
) -> str:
    """Export one table as ORC; returns the output directory.

    normalize=False by default: unlike CSV (a text format that needs
    the canonical rendering), ORC keeps native types end-to-end, so
    the round-trip is schema-exact without string canonicalization."""
    path = os.path.join(outdir, f"{schema_name}.{table}")
    out = normalize_projection(df) if normalize else df
    try:
        key, _ = elect_split_key(df)
        out = out.repartitionByRange(n_chunks, key)
    except ValueError:
        pass  # no numeric key: keep scan partitioning
    out.write.mode("overwrite").option("compression", compression).orc(path)
    return path


def orc_import(spark: SparkSession, path: str) -> DataFrame:
    """Read back an exported ORC directory (schema travels with the
    files — no external schema argument, unlike the CSV import)."""
    return spark.read.orc(path)
