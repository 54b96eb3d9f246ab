"""Differential query fuzzing — random plans, two engines, one answer.

Seeded random SELECT/WHERE/GROUP BY/JOIN queries are rendered from one
AST into Spark SQL and DuckDB SQL and must agree exactly (order
-insensitive row-set equality, NULLs included). The generator stays
inside the cross-engine-exact subset the whole engine is built on:
integer/decimal arithmetic, counts, min/max, string equality — no raw
double aggregation (summation order is engine-defined).
"""

from __future__ import annotations

import random

import duckdb
import pytest

N_QUERIES = 90
SEED = 20260813

# column -> (kind, sample constants)
LINEITEM_COLS = {
    "l_orderkey": ("int", [1, 1500, 3000, 4500, 5999]),
    "l_partkey": ("int", [1, 100, 500, 900]),
    "l_suppkey": ("int", [1, 20, 50, 80]),
    "l_linenumber": ("int", [1, 2, 3, 5, 7]),
    "l_quantity": ("num", [1, 10, 25, 40, 50]),
    "l_returnflag": ("str", ["A", "N", "R"]),
    "l_linestatus": ("str", ["O", "F"]),
    "l_shipdate": ("ts", ["1995-06-01", "1996-01-01", "1997-03-15", "1998-01-01"]),
}
ORDERS_COLS = {
    "o_orderstatus": ("str", ["P", "O", "F"]),
    "o_orderpriority": ("str", ["1-URGENT", "2-HIGH", "3-MEDIUM"]),
    "o_orderdate": ("ts", ["1995-06-01", "1996-09-01", "1999-01-01"]),
}

AGGS = [
    ("COUNT(*)", "cnt"),
    ("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)", "sum_qty"),
    ("MIN(l_orderkey)", "min_ok"),
    ("MAX(l_linenumber)", "max_ln"),
    ("CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)", "nd_supp"),
    ("MIN(l_returnflag)", "min_rf"),
    ("MAX(l_shipdate)", "max_sd"),
]


def _pred(rng: random.Random, col: str, kind: str, consts: list) -> str:
    c = rng.choice(consts)
    if kind == "int" or kind == "num":
        op = rng.choice(["<", "<=", ">", ">=", "=", "<>"])
        return f"{col} {op} {c}"
    if kind == "str":
        if rng.random() < 0.3:
            pair = rng.sample(consts, min(2, len(consts)))
            vals = ", ".join(f"'{v}'" for v in pair)
            return f"{col} IN ({vals})"
        return f"{col} {rng.choice(['=', '<>'])} '{c}'"
    # timestamp: both engines accept the TIMESTAMP literal form
    return f"{col} {rng.choice(['<', '>='])} TIMESTAMP '{c} 00:00:00'"


CUSTOMER_COLS = {
    "c_mktsegment": ("str", ["BUILDING", "AUTOMOBILE", "MACHINERY"]),
    "c_nationkey": ("int", [0, 5, 10, 20, 24]),
}


def gen_query(rng: random.Random) -> str:
    shape_roll = rng.random()
    cols = dict(LINEITEM_COLS)
    table = "lineitem"
    if shape_roll < 0.4:
        cols.update(ORDERS_COLS)
        table = "lineitem JOIN orders ON l_orderkey = o_orderkey"
    elif shape_roll < 0.55:
        cols.update(ORDERS_COLS)
        cols.update(CUSTOMER_COLS)
        table = (
            "lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey"
        )

    n_preds = rng.randint(1, 3)
    preds = [
        _pred(rng, c, *info) for c, info in rng.sample(sorted(cols.items()), n_preds)
    ]
    where = " AND ".join(preds)

    shape = rng.choice(
        ["agg", "agg", "agg", "having", "limit", "window", "setop", "winframe", "casekey"]
    )

    if shape == "setop":
        # set semantics (dedup) are engine-identical; two predicates over
        # the same key projection
        other = " AND ".join(
            _pred(rng, c, *info)
            for c, info in rng.sample(sorted(cols.items()), rng.randint(1, 2))
        )
        op = rng.choice(["EXCEPT", "INTERSECT"])
        return (
            f"SELECT l_orderkey, l_linenumber FROM {table} WHERE {where} "
            f"{op} SELECT l_orderkey, l_linenumber FROM {table} WHERE {other}"
        )

    if shape == "winframe":
        # running integer sum — RANGE frame, not ROWS: the synthetic
        # fixture has duplicate (l_orderkey, l_linenumber) pairs, so a
        # ROWS frame would be tie-order-dependent (engine-defined);
        # RANGE aggregates all peers together, deterministic in int64
        grp = rng.choice(["l_returnflag", "l_suppkey"])
        return (
            f"SELECT l_orderkey, l_linenumber, "
            f"CAST(SUM(l_partkey) OVER (PARTITION BY {grp} "
            f"ORDER BY l_orderkey, l_linenumber "
            f"RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_sum "
            f"FROM {table} WHERE {where}"
        )

    if shape == "casekey":
        thresh = rng.choice([10, 25, 40])
        return (
            f"SELECT CASE WHEN l_quantity < {thresh} THEN 'lo' ELSE 'hi' END AS bucket, "
            f"COUNT(*) AS cnt, MIN(l_orderkey) AS min_ok "
            f"FROM {table} WHERE {where} GROUP BY 1"
        )

    if shape == "limit":
        # deterministic total order -> deterministic LIMIT selection
        sort_col = rng.choice(["l_quantity", "l_shipdate", "l_suppkey"])
        return (
            f"SELECT l_orderkey, l_linenumber, {sort_col} FROM {table} WHERE {where} "
            f"ORDER BY {sort_col} {rng.choice(['ASC', 'DESC'])}, l_orderkey, l_linenumber "
            f"LIMIT {rng.choice([7, 50, 200])}"
        )

    if shape == "window":
        grp = rng.choice(["l_returnflag", "l_linestatus", "l_suppkey"])
        ordc = rng.choice(["l_quantity", "l_shipdate", "l_partkey"])
        k = rng.choice([2, 5, 10])
        return (
            f"SELECT l_orderkey, l_linenumber, rn FROM ("
            f"SELECT l_orderkey, l_linenumber, row_number() OVER ("
            f"PARTITION BY {grp} ORDER BY {ordc}, l_orderkey, l_linenumber) AS rn "
            f"FROM {table} WHERE {where}) t WHERE rn <= {k}"
        )

    groupable = [c for c, (k, _) in cols.items() if k in ("str", "int")]
    n_group = rng.randint(0, 2) if shape == "agg" else rng.randint(1, 2)
    groups = rng.sample(groupable, n_group) if n_group else []

    n_aggs = rng.randint(1, 3)
    aggs = rng.sample(AGGS, n_aggs)
    select = ", ".join(groups + [f"{expr} AS {alias}" for expr, alias in aggs])
    sql = f"SELECT {select} FROM {table} WHERE {where}"
    if groups:
        sql += " GROUP BY " + ", ".join(groups)
    if shape == "having" and groups:
        sql += f" HAVING COUNT(*) > {rng.choice([1, 3, 10])}"
    return sql


@pytest.fixture(scope="module")
def engines(spark, sf_dir):
    from transferdb_spark.sources.registry import register_views

    register_views(spark, sf_dir, ["lineitem", "orders", "customer"])
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return spark, con


def signature(df) -> set:
    rows = set()
    for tup in df.itertuples(index=False, name=None):
        rows.add(tuple(str(v) for v in tup))
    return rows


def test_differential_fuzz(engines):
    spark, con = engines
    rng = random.Random(SEED)
    failures = []
    for i in range(N_QUERIES):
        sql = gen_query(rng)
        got = signature(spark.sql(sql).toPandas())
        want = signature(con.execute(sql).df())
        if got != want:
            failures.append((sql, len(got), len(want)))
    assert not failures, f"{len(failures)} differential mismatches: {failures[:3]}"


def test_dup_span_stats_matches_python_reference(spark):
    """The relational greedy interval-union (gaps-and-islands window)
    must agree with a direct Python implementation on random corpora
    with planted duplicate runs."""
    from transferdb_spark.ext.dedup import dup_span_stats

    n = 4
    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(12)]  # small vocab -> many dup spans
    docs = []
    for did in range(60):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        docs.append((did, " ".join(toks)))

    # python reference: same tokenization (whitespace, lowered)
    span_occ: dict = {}
    tokenized = {}
    for did, text in docs:
        toks = text.strip().lower().split()
        if text.strip() == "":
            toks = [""]  # split('') -> [''] in both engines
        tokenized[did] = toks
        for s in range(len(toks) - n + 1):
            key = " ".join(toks[s : s + n])
            span_occ[key] = span_occ.get(key, 0) + 1
    expect = {}
    for did, toks in tokenized.items():
        spans = [
            (s, s + n - 1)
            for s in range(len(toks) - n + 1)
            if span_occ[" ".join(toks[s : s + n])] > 1
        ]
        covered: set = set()
        for a, b in spans:
            covered.update(range(a, b + 1))
        expect[did] = (len(spans), len(covered))

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["dup_spans"], r["dup_tokens"])
        for r in dup_span_stats(sdf, n=n).collect()
    }
    assert got == expect


def test_ngram_repetition_and_pmi_tie_fuzz(spark):
    """Randomized cross-engine fuzz for the round-7 text operators on
    TIE-HEAVY corpora: a 4-word vocabulary forces many equal-count
    grams and equal-score collocations, so any divergence between the
    Spark fold's tie rule (strict run>best over the sorted array) and
    the oracle's window ordering (cnt DESC, gram ASC) — or between the
    two engines' quantized-PMI orderings — surfaces here rather than
    in production."""
    import pandas as pd

    from transferdb_spark.ext.text import (
        ngram_repetition,
        ngram_repetition_sql,
        pmi_collocations,
        pmi_collocations_sql,
    )

    rng = random.Random(20260816)
    vocab = ["aa", "bb", "cc", "dd"]
    for trial in range(4):
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
            for i in range(60)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))

        got = ngram_repetition(docs).toPandas()
        want = con.execute(ngram_repetition_sql()).df()
        for c in want.columns:
            assert list(got[c]) == list(want[c]), (trial, c)

        gp = pmi_collocations(docs, min_count=2, top=25).toPandas()
        wp = con.execute(pmi_collocations_sql(min_count=2, top=25)).df()
        assert gp["left"].tolist() == wp["left"].tolist(), trial
        assert gp["right"].tolist() == wp["right"].tolist(), trial
        assert gp["pair_cnt"].tolist() == wp["pair_cnt"].tolist(), trial
        assert gp["pmi_ratio_q"].tolist() == wp["pmi_ratio_q"].tolist(), trial


def test_wordpiece_oracle_tie_fuzz(spark):
    """WordPiece trainer vs its unrolled-CTE oracle on tie-heavy
    corpora: 3 letters × short words make quantized likelihood scores
    collide constantly, so the full (score DESC, freq DESC, l, r)
    tie chain is exercised through several merge generations in both
    engines."""
    import pandas as pd

    from transferdb_spark.ext.wordpiece import (
        train_wordpiece_df,
        train_wordpiece_sql,
    )

    rng = random.Random(20260817)
    for trial in range(3):
        rows = [
            (
                i,
                " ".join(
                    "".join(rng.choice("abc") for _ in range(rng.randint(1, 4)))
                    for _ in range(rng.randint(2, 12))
                ),
            )
            for i in range(40)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = train_wordpiece_df(docs, n_merges=4).toPandas()
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
        want = con.execute(train_wordpiece_sql(n_merges=4)).df()
        for c in ("rank", "left", "right", "freq", "score_q"):
            assert got[c].tolist() == want[c].tolist(), (trial, c)


def test_bpe_oracle_tie_non_ascii_fuzz(spark):
    """String BPE trainer vs its unrolled-CTE oracles on tie-heavy,
    multi-byte corpora: short words over 'abé☃' make pair frequencies
    collide, so the (freq DESC, l, r) tie chain runs on 2- and 3-byte
    symbols, where Python's str order must match both engines'
    UTF-8 binary order and the code-point split must match substr."""
    import pandas as pd

    from transferdb_spark.ext.bpe import (
        encoded_length_histogram,
        encoded_length_histogram_sql,
        merges_frame,
        train_merges_sql,
    )

    rng = random.Random(20261017)
    for trial in range(3):
        rows = [
            (
                i,
                " ".join(
                    "".join(rng.choice("abé☃") for _ in range(rng.randint(1, 4)))
                    for _ in range(rng.randint(2, 12))
                ),
            )
            for i in range(40)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
        got = merges_frame(docs, 4).toPandas()
        want = con.execute(train_merges_sql(4)).df()
        for c in ("rank", "left", "right", "freq"):
            assert got[c].tolist() == want[c].tolist(), (trial, c)
        got = encoded_length_histogram(docs, 4).toPandas()
        want = con.execute(encoded_length_histogram_sql(4)).df()
        for c in ("n_syms", "n_words", "n_occurrences"):
            assert got[c].tolist() == want[c].tolist(), (trial, c)
