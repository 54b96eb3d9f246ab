"""Property-based tests (hypothesis) for the pure rule/function layer,
plus a seeded cross-engine hash-parity sweep (SURVEY.md §5 plan)."""

from __future__ import annotations

import unicodedata

from hypothesis import given, settings
from hypothesis import strategies as st


@given(p=st.integers(min_value=1, max_value=38), s=st.integers(min_value=0, max_value=127))
@settings(max_examples=300, deadline=None)
def test_number_bucketing_total_and_bounded(p, s):
    """Every (p,s) maps to a valid MySQL type within engine maxima."""
    from transferdb_spark.rules.datatypes import OracleColumn, map_oracle_type

    origin, mysql_t, spark_t = map_oracle_type(
        OracleColumn("C", "NUMBER", data_precision=p, data_scale=s)
    )
    assert origin == f"NUMBER({p},{s})"
    if s == 0:
        assert mysql_t in ("TINYINT", "SMALLINT", "INT", "BIGINT") or mysql_t.startswith(
            "DECIMAL"
        )
    else:
        assert mysql_t.startswith("DECIMAL(")
        prec, scale = map(int, mysql_t[8:-1].split(","))
        assert prec <= 65 and scale <= 30
    st_str = spark_t.simpleString()
    if st_str.startswith("decimal"):
        sp, ss = map(int, st_str[8:-1].split(","))
        assert sp <= 38 and ss <= 38 and ss <= sp


@given(st.text(max_size=64))
@settings(max_examples=300, deadline=None)
def test_escape_mysql_property(s):
    """Escaped output: every P/S char except % _ gains exactly one
    backslash prefix; everything else unchanged; reversible by rule."""
    from transferdb_spark.functions.escaping import escape_mysql

    out = escape_mysql(s)
    expected_len = len(s) + sum(
        1
        for ch in s
        if unicodedata.category(ch)[0] in ("P", "S") and ch not in ("%", "_")
    )
    assert len(out) == expected_len
    # unescaping by the inverse rule restores the input
    restored = []
    i = 0
    while i < len(out):
        if out[i] == "\\" and i + 1 < len(out):
            nxt = out[i + 1]
            if unicodedata.category(nxt)[0] in ("P", "S") and nxt not in ("%", "_"):
                restored.append(nxt)
                i += 2
                continue
        restored.append(out[i])
        i += 1
    assert "".join(restored) == s


@given(
    a=st.lists(st.integers(min_value=0, max_value=99), min_size=1, max_size=4),
    b=st.lists(st.integers(min_value=0, max_value=99), min_size=1, max_size=4),
)
@settings(max_examples=200, deadline=None)
def test_version_compare_antisymmetric(a, b):
    from transferdb_spark.functions.escaping import compare_version

    va, vb = ".".join(map(str, a)), ".".join(map(str, b))
    assert compare_version(va, vb) == -compare_version(vb, va)
    assert compare_version(va, va) == 0


def test_portable_hash_parity_sweep(spark):
    """Seeded 500-string sweep (ASCII + unicode + controls): the Spark
    and DuckDB portable hashes agree on every value."""
    import random

    import duckdb

    from pyspark.sql import functions as F

    from transferdb_spark.functions.hashing import portable_hash64, portable_hash64_sql

    rng = random.Random(42)
    alphabet = (
        [chr(c) for c in range(32, 127)]
        + ["é", "ü", "中", "文", "🙂", "\t", "\x1f", "\\"]
    )
    vals = ["".join(rng.choices(alphabet, k=rng.randint(0, 40))) for _ in range(500)]
    vals += ["", " ", "\\N", "0.50", "NULL"]

    sdf = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = [
        r["h"]
        for r in sdf.select(portable_hash64(F.col("s")).alias("h")).collect()
    ]
    con = duckdb.connect()
    expected = [
        con.execute("SELECT " + portable_hash64_sql("?::VARCHAR"), [v]).fetchone()[0]
        for v in vals
    ]
    assert got == expected


def test_canonical_decimal_rendering_parity(spark):
    """Doubles → DECIMAL(18,2) strings agree across engines for a
    seeded sweep including negatives and integer-valued floats."""
    import random

    import duckdb

    from transferdb_spark.functions.canonical import canon_column, canon_sql
    from pyspark.sql import types as T

    rng = random.Random(7)
    vals = [round(rng.uniform(-1e6, 1e6), 2) for _ in range(300)] + [0.0, -0.5, 1.0, 42.0]
    sdf = spark.createDataFrame([(v,) for v in vals], ["d"])
    got = [
        r["c"]
        for r in sdf.select(canon_column("d", T.DoubleType()).alias("c")).collect()
    ]
    con = duckdb.connect()
    sql = canon_sql("?::DOUBLE", T.DoubleType())
    expected = [con.execute("SELECT " + sql, [v]).fetchone()[0] for v in vals]
    assert got == expected


def test_stable_round_cross_engine_parity_on_dyadic_ties(spark):
    """stable_round must agree with its DuckDB twin on every value,
    ESPECIALLY dyadic rationals (k/2^n) whose decimal expansion
    terminates exactly at the tie digit — the class where each engine's
    native round() was observed to disagree (e.g. 5/128 = 0.0390625
    at 6 digits)."""
    import random

    import duckdb

    from pyspark.sql import functions as F

    from transferdb_spark.functions.canonical import stable_round, stable_round_sql

    rng = random.Random(7)
    vals = [k / (1 << n) for n in range(1, 22) for k in (1, 3, 5, rng.randint(1, 1 << n))]
    vals += [rng.uniform(-2, 2) for _ in range(300)]
    vals += [0.0390625, 0.109375, -0.0390625, 0.3017650317503954]

    for digits in (4, 5, 6):
        sdf = spark.createDataFrame([(v,) for v in vals], ["x"])
        got = [
            r["r"]
            for r in sdf.select(stable_round(F.col("x"), digits).alias("r"))
            .collect()
        ]
        con = duckdb.connect()
        expected = [
            con.execute(
                "SELECT " + stable_round_sql("?::DOUBLE", digits), [v]
            ).fetchone()[0]
            for v in vals
        ]
        assert got == expected, f"digits={digits}"


def test_canonical_url_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) — a canonicalizer that
    keeps changing its output corrupts crawl-dedup keys across passes."""
    from pyspark.sql import functions as F

    from transferdb_spark.ext.text import canonical_url

    urls = [
        "https://WWW.Example.com:443/a/b/?utm_source=x&id=1#frag",
        "http://example.com:80/",
        "HTTP://EXAMPLE.COM/path?gclid=abc&q=2",
        "https://www.sub.domain.org/x/?ref=z",
        "http://plain.net/keep?me=1",
        "https://example.com",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = df.select(canonical_url(F.col("u")).alias("c1"))
    twice = once.select("c1", canonical_url(F.col("c1")).alias("c2"))
    for r in twice.collect():
        assert r["c1"] == r["c2"], r


def test_canonical_url_param_boundaries(spark):
    """Tracking-param strip is anchored to ?/& — `href=`/`xref=` must
    survive, adjacent tracking params must all go, and the DuckDB
    rendering must agree byte-for-byte (the oracle is blind to a shared
    regex bug, so pin expectations by hand here)."""
    import duckdb
    from pyspark.sql import functions as F

    from transferdb_spark.ext.text import canonical_url, canonical_url_sql

    cases = [
        # (input, expected canonical)
        ("http://a.com/p?href=x&q=1", "http://a.com/p?href=x&q=1"),
        ("http://a.com/p?xref=x&subref=y", "http://a.com/p?xref=x&subref=y"),
        ("http://a.com/p?ref=x&q=1", "http://a.com/p?q=1"),
        ("http://a.com/p?utm_a=1&utm_b=2&id=7", "http://a.com/p?id=7"),
        ("http://a.com/p?utm_a=1&gclid=2&fbclid=3", "http://a.com/p"),
        ("http://a.com/p?id=7&ref=x", "http://a.com/p?id=7"),
        ("http://a.com/p?ref=x", "http://a.com/p"),
    ]
    df = spark.createDataFrame(cases, "u string, want string")
    got = df.select("u", "want", canonical_url(F.col("u")).alias("c")).collect()
    for r in got:
        assert r["c"] == r["want"], (r["u"], r["c"])
    con = duckdb.connect()
    for u, want in cases:
        (dv,) = con.execute("SELECT " + canonical_url_sql("?"), [u]).fetchone()
        assert dv == want, (u, dv)


def test_mulaw_codec_bounds_error_everywhere():
    """mu-law expand(compress(x)) stays within the ITU quantization
    envelope across the full amplitude range, including the extremes
    and near-zero — not just a mid-amplitude sine."""
    import numpy as np

    from media_fixtures import mulaw_compress
    from transferdb_spark.ext.multimodal import _mulaw_expand

    rng = np.random.default_rng(99)
    for wave in [
        rng.uniform(-1, 1, 4096).astype(np.float32),
        np.linspace(-1, 1, 4096, dtype=np.float32),
        (rng.uniform(-1, 1, 4096) ** 5).astype(np.float32),  # near-zero heavy
        np.array([-1.0, -0.5, -1e-4, 0.0, 1e-4, 0.5, 1.0], dtype=np.float32),
    ]:
        out = _mulaw_expand(np.frombuffer(mulaw_compress(wave), dtype=np.uint8))
        err = np.abs(out - wave)
        # mu-law's 4-bit mantissa = 16 levels per octave -> half-step
        # relative error ~1/32 (3.1% measured), plus a small absolute
        # floor in the lowest segment
        assert float(np.max(err - (np.abs(wave) / 24 + 0.004))) <= 0.0, float(err.max())


@given(
    st.sampled_from(
        ["TINYINT", "SMALLINT", "INT", "BIGINT", "DOUBLE", "FLOAT", "DATETIME",
         "DATE", "TIMESTAMP", "TEXT", "LONGTEXT", "BLOB", "LONGBLOB", "DECIMAL",
         "VARCHAR", "CHAR", "VARBINARY", "BINARY"]
    ),
    st.integers(min_value=1, max_value=80),
    st.integers(min_value=0, max_value=40),
    st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_ansi_type_rewrite_is_idempotent_and_derby_bounded(base, p, s, sized):
    """rules/ansi invariants the live-apply loop depends on:
    (a) IDEMPOTENT — re-rewriting an already-ANSI type changes nothing
    (the checker re-renders what the generator emitted, so a second
    pass must be a fixed point or zero-drift breaks);
    (b) Derby bounds hold: DECIMAL precision <= 31, scale <= precision,
    VARCHAR <= 32672, and no MySQL-only base survives."""
    import re

    from transferdb_spark.rules.ansi import ansi_type

    t = f"{base}({p},{s})" if base == "DECIMAL" else (f"{base}({p})" if sized else base)
    out = ansi_type(t)
    assert ansi_type(out) == out, (t, out, ansi_type(out))
    for banned in ("TINYINT", "DATETIME", "TEXT", "VARBINARY(", "LONGBLOB"):
        assert banned not in out, (t, out)
    m = re.match(r"^DECIMAL\((\d+),(\d+)\)$", out)
    if m:
        dp, ds = int(m.group(1)), int(m.group(2))
        assert dp <= 31 and ds <= dp, (t, out)
    m = re.match(r"^VARCHAR\((\d+)\)$", out)
    if m:
        assert int(m.group(1)) <= 32672


@given(
    st.sampled_from(
        ["INTEGER", "BIGINT", "SMALLINT", "DOUBLE", "REAL", "DATE", "TIMESTAMP",
         "DECIMAL", "VARCHAR", "CHAR", "CLOB", "BLOB", "BOOLEAN"]
    ),
    st.integers(min_value=1, max_value=4000),
    st.integers(min_value=0, max_value=30),
)
@settings(max_examples=200, deadline=None)
def test_jdbc_rendered_type_matches_ansi_rewrite_fixed_points(tn, size, digits):
    """catalog/jdbc_catalog.rendered_type must land in rules/ansi's
    fixed-point set for every DERBY-REPRESENTABLE shape: what a Derby
    catalog reports renders to a string ansi_type leaves unchanged —
    the live zero-drift equality is only sound if both sides normalize
    into the same space. (A WIDER live target — MySQL DECIMAL(65) —
    may render outside the set; check then correctly flags a type
    mismatch against the Derby dialect.)"""
    from transferdb_spark.catalog.jdbc_catalog import rendered_type
    from transferdb_spark.rules.ansi import ansi_type

    if tn == "DECIMAL":
        size = size % 31 + 1  # Derby representable: p <= 31
        digits = min(digits, size)
    out = rendered_type(tn, size, digits)
    assert ansi_type(out) == out, (tn, size, digits, out)


def test_asof_join_matches_pandas_merge_asof(spark):
    """Differential: every direction × tolerance of operators/asof
    against pandas merge_asof (the reference implementation of the
    semantics) on a deterministic pseudo-random workload with
    duplicate-free right (key, ts) pairs and tie-heavy left
    timestamps."""
    import numpy as np
    import pandas as pd

    from transferdb_spark.operators.asof import asof_join

    rng = np.random.default_rng(11)
    left = pd.DataFrame(
        {
            "k": rng.integers(0, 6, 120),
            "ts": rng.integers(0, 50, 120).astype("int64"),
            "eid": np.arange(120, dtype="int64"),
        }
    )
    right = (
        pd.DataFrame(
            {
                "k": rng.integers(0, 6, 80),
                "ts": rng.integers(0, 50, 80).astype("int64"),
            }
        )
        .drop_duplicates(["k", "ts"])
        .reset_index(drop=True)
    )
    right["v"] = np.arange(len(right), dtype="float64")

    ldf = spark.createDataFrame(left[["eid", "k", "ts"]])
    rdf = spark.createDataFrame(right)

    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 3):
            got = {
                r["eid"]: r["v_asof"]
                for r in asof_join(
                    ldf, rdf, key="k", ts="ts", payload=["v"],
                    direction=direction, tolerance=tol,
                ).collect()
            }
            want_df = pd.merge_asof(
                left.sort_values(["ts", "eid"]),
                right.sort_values("ts"),
                on="ts",
                by="k",
                direction=direction,
                tolerance=tol,
            )
            want = dict(zip(want_df["eid"], want_df["v"]))
            for eid in want:
                w = want[eid]
                g = got[eid]
                assert (g is None and pd.isna(w)) or g == w, (
                    direction, tol, eid, g, w,
                )
