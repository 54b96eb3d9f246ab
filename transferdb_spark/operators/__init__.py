"""Operator library (SURVEY.md §2) — DataFrame -> DataFrame functions."""

from transferdb_spark.operators.checksum import chunk_checksums  # noqa: F401
from transferdb_spark.operators.diff import dataset_diff, diff_summary  # noqa: F401
from transferdb_spark.operators.normalize import normalize_projection  # noqa: F401
