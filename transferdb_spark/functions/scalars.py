"""Misc scalar helpers mapped from the reference (SURVEY.md §2.8)."""

from __future__ import annotations

import fnmatch
import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def nvl(col: Column | str, default: str = "") -> Column:
    """F1 — NVL/IFNULL pairing (task.go:155-156) -> coalesce."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(default))


def ts_format(col: Column | str, scale: int = 6) -> Column:
    """F4 — TO_CHAR(ts,'yyyy-mm-dd hh24:mi:ss.ff6') equivalent.

    Scale is capped at 6 (µs) exactly as the reference truncates
    TIMESTAMP(9) (mapping_mysql.go:463-479).
    """
    c = F.col(col) if isinstance(col, str) else col
    scale = min(scale, 6)
    fmt = "yyyy-MM-dd HH:mm:ss" + ("." + "S" * scale if scale else "")
    return F.date_format(c, fmt)


def glob_to_regex(pattern: str) -> str:
    """F12 — reference's glob (*?[!]) to case-insensitive regex
    (/root/reference/filter/parser.go:45-120)."""
    return "(?i)" + fnmatch.translate(pattern)


def glob_match(patterns: list[str], name: str) -> bool:
    """Table include/exclude filter (P6, filter/matchers.go:37-72)."""
    return any(re.match(glob_to_regex(p), name) for p in patterns)
