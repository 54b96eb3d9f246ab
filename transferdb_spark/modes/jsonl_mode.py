"""`jsonl` mode — chunk-parallel JSON-Lines export/import.

The reference's file surface is CSV (module/migrate/csv — see
modes/csv_mode.py for that parity path); JSONL is the corpus format
LLM training pipelines actually exchange, so this is the Spark-first
extension of the same mode family: one writer file per chunk
partition, PERMISSIVE ingest with whole-line quarantine instead of
abort (the reference's error-log stance, database/meta/meta.go:100-117
applied to files), and schema enforcement at the boundary.

Scale: `df.write.json` / `spark.read.json` run entirely JVM-side
(Jackson), one file per partition; the quarantine split is a cached
scan + two filters — no driver row loop, no job abort on bad data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transferdb_spark.operators.normalize import normalize_projection
from transferdb_spark.plans.chunker import elect_split_key


def jsonl_export(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    outdir: str,
    schema_name: str = "tpch",
    n_chunks: int = 32,
    normalize: bool = True,
) -> str:
    """Export one table as JSONL; returns the output directory.

    Layout mirrors csv_export: <outdir>/<schema>.<table>/part-*.json,
    the partition index playing the reference's chunk index."""
    path = os.path.join(outdir, f"{schema_name}.{table}")
    out = normalize_projection(df) if normalize else df
    try:
        key, _ = elect_split_key(df)
        out = out.repartitionByRange(n_chunks, key)
    except ValueError:
        pass  # no numeric key: keep scan partitioning
    out.write.mode("overwrite").option("ignoreNullFields", "false").json(path)
    return path


def jsonl_import(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read back exported JSONL with an enforced schema (roundtrip)."""
    return spark.read.schema(schema).json(path)


def jsonl_import_quarantine(
    spark: SparkSession, path: str, schema
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE import: (clean_rows, quarantined_rows).

    Malformed lines (broken JSON, type mismatches under FAILFAST
    semantics) land whole and unparsed in the quarantine frame; every
    well-formed line proceeds. Same cached-frame requirement as the
    CSV twin: Spark materializes _corrupt_record lazily, so the split
    must run from one cached scan."""
    full = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    raw = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .cache()
    )
    clean = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return clean, bad
