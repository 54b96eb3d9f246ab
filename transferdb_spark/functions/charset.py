"""F9 — charset conversion (SURVEY.md §2.8).

The reference converts every string value, column name, and default
value source-charset → UTF8MB4 → target-charset with iconv-style byte
transcoding (/root/reference/common/strings.go:383-451 CharsetConvert;
rule maps common/reverse.go:83-98).

In Spark, strings are always UTF-8 internally, so charset conversion
is an edge concern: decode foreign bytes at the scan boundary, encode
at the sink boundary. Spark 4's built-in `encode`/`decode` only accept
the unicode/latin family (GBK & friends need the legacy-javaCharsets
flag), so CJK charsets route through an Arrow-batched pandas UDF using
Python codecs instead of flipping a global legacy switch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, StringType

# reference charset constants (common/constant.go) -> canonical names
CHARSET_ALIASES = {
    "UTF8MB4": "UTF-8",
    "UTF8": "UTF-8",
    "GBK": "GBK",
    "GB18030": "GB18030",
    "BIG5": "Big5",
    "ZHS16GBK": "GBK",  # Oracle name for GBK
    "ZHT16BIG5": "Big5",  # Oracle name for Big5
    "AL32UTF8": "UTF-8",  # Oracle name for UTF-8
}

# charsets Spark 4's encode/decode accept without the legacy flag
_SPARK_BUILTIN = {"UTF-8", "US-ASCII", "ISO-8859-1", "UTF-16", "UTF-16BE", "UTF-16LE", "UTF-32"}

_PY_CODEC = {"UTF-8": "utf-8", "GBK": "gbk", "GB18030": "gb18030", "Big5": "big5"}


def canonical_charset(name: str) -> str:
    """Normalize a reference charset name to its canonical name."""
    cs = CHARSET_ALIASES.get(name.upper().replace("-", ""))
    if cs is None:
        raise ValueError(f"unsupported charset: {name!r}")
    return cs


def decode_from(col: Column | str, charset: str) -> Column:
    """binary column holding `charset` bytes -> string column."""
    c = F.col(col) if isinstance(col, str) else col
    cs = canonical_charset(charset)
    if cs in _SPARK_BUILTIN:
        return F.decode(c, cs)
    codec = _PY_CODEC[cs]

    @pandas_udf(StringType())
    def _dec(s: pd.Series) -> pd.Series:
        return s.map(lambda b: None if pd.isna(b) else bytes(b).decode(codec))

    return _dec(c)


def encode_as(col: Column | str, charset: str) -> Column:
    """string column -> binary column of `charset` bytes."""
    c = F.col(col) if isinstance(col, str) else col
    cs = canonical_charset(charset)
    if cs in _SPARK_BUILTIN:
        return F.encode(c, cs)
    codec = _PY_CODEC[cs]

    @pandas_udf(BinaryType())
    def _enc(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if pd.isna(v) else v.encode(codec))

    return _enc(c)
