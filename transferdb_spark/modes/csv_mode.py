"""`csv` mode — chunk-parallel CSV export (S4/S8).

Reference: per-chunk SELECT → escaped CSV rows → files named
`schema.table.<i>.csv` (/root/reference/module/migrate/csv/oracle/o2m/
table.go:138-178; escaping common/strings.go:540-575; config
example/config.toml `[csv]` — header/delimiter/terminator/charset).

Spark-first: `df.write.csv` — one file per partition replaces the
per-chunk file layout; escaping/quoting/null tokens are writer options
running JVM-side, not per-row Python.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from transferdb_spark.operators.normalize import normalize_projection
from transferdb_spark.plans.chunker import elect_split_key


def csv_export(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    outdir: str,
    schema_name: str = "tpch",
    delimiter: str = ",",
    header: bool = True,
    null_token: str = "\\N",
    n_chunks: int = 32,
    normalize: bool = True,
) -> str:
    """Export one table; returns the output directory.

    Layout: <outdir>/<schema>.<table>/part-*.csv — the partition index
    plays the reference's chunk index i in `schema.table.<i>.csv`.
    """
    path = os.path.join(outdir, f"{schema_name}.{table}")
    out = normalize_projection(df) if normalize else df
    try:
        key, _ = elect_split_key(df)
        out = out.repartitionByRange(n_chunks, key)
    except ValueError:
        pass  # no numeric key: keep scan partitioning
    (
        out.write.mode("overwrite")
        .option("sep", delimiter)
        .option("header", str(header).lower())
        .option("nullValue", null_token)
        .option("emptyValue", "")
        .option("escape", "\\")
        .csv(path)
    )
    return path


def csv_import(spark: SparkSession, path: str, schema, delimiter: str = ",", header: bool = True):
    """Read back an exported CSV with the same dialect (roundtrip)."""
    return (
        spark.read.schema(schema)
        .option("sep", delimiter)
        .option("header", str(header).lower())
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .option("escape", "\\")
        .csv(path)
    )


def csv_import_quarantine(
    spark: SparkSession,
    path: str,
    schema,
    delimiter: str = ",",
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE import: (clean_rows, quarantined_rows).

    The reference quarantines failed rows into error-log meta tables
    instead of aborting the chunk (/root/reference/database/meta/
    meta.go:100-117); the CSV ingest analogue is Spark's PERMISSIVE
    mode with a _corrupt_record column: malformed lines land, whole
    and unparsed, in the quarantine frame (ready for an error sink),
    while every well-formed row proceeds. All executor-side — no
    driver row loop, no job abort on bad data.

    Note Spark only materializes _corrupt_record on rows it actually
    had to reparse, so the quarantine split must run from a cached
    frame (the documented requirement for corrupt-record queries).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    full = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    raw = (
        spark.read.schema(full)
        .option("sep", delimiter)
        .option("header", str(header).lower())
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .option("escape", "\\")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        .cache()
    )
    clean = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return clean, bad
