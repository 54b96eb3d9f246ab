"""Physical-plan audits — the scale contract, asserted.

Correctness says WHAT each operator returns; these tests pin HOW
Spark executes it: filters reach the parquet scan, projections prune
the read schema, small dimensions broadcast instead of shuffling, and
aggregations combine map-side before exchanging. A regression here is
invisible at sf0.01 but fatal at 100 TB.
"""

from __future__ import annotations

import pytest


def plan_of(df) -> str:
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(mode)


def tree_of(plan: str) -> str:
    """The indented operator tree at the top of a formatted plan."""
    return plan.split("\n\n(")[0]


def n_nodes(plan: str, name: str) -> int:
    return tree_of(plan).count(name)


class _LazyQueries:
    """Build each query DataFrame on first access — one broken query
    must only fail its own test, not poison the whole module."""

    def __init__(self, spark, sf_dir):
        import __spark_entry__ as e

        self._qs = e.queries()
        self._spark = spark
        self._sf_dir = sf_dir

    def __getitem__(self, name):
        return self._qs[name](self._spark, self._sf_dir)


@pytest.fixture(scope="module")
def queries(spark, sf_dir):
    return _LazyQueries(spark, sf_dir)


def test_q1_prunes_and_partially_aggregates(queries):
    p = plan_of(queries["q1_pricing_summary"])
    # column pruning: orderkey/partkey/suppkey are not read
    assert "l_orderkey" not in p.split("ReadSchema")[1].splitlines()[0]
    # shipdate filter reaches the scan
    assert "l_shipdate" in p.split("PushedFilters")[1].splitlines()[0]
    # map-side combine: partial + final aggregate pair around one exchange
    assert n_nodes(p, "HashAggregate") == 2
    assert "partial_sum" in p


def test_q3_broadcasts_dimensions(queries):
    p = plan_of(queries["q3_shipping_priority"])
    # no FORCED broadcast of fact tables: at test scale the size-based
    # planner still broadcasts (both sides are tiny), but the decision
    # belongs to the planner/AQE so a 100× scale-up can fall back to SMJ
    assert n_nodes(p, "BroadcastHashJoin") == 2
    # segment filter pushed into the customer scan
    assert "EqualTo(c_mktsegment,BUILDING)" in p


def test_no_forced_broadcast_of_fact_tables():
    """Fact-scaled tables (orders/customer/part) and sf-scaled aggregates
    must not carry an unconditional broadcast hint — at 100 TB a forced
    broadcast of a fact side OOMs every executor. Dims bounded by schema
    (region/nation/supplier) may keep hints."""
    import inspect

    import __spark_entry__ as e

    src = inspect.getsource(e)
    for bad in (
        "F.broadcast(orders)",
        "F.broadcast(cust)",
        "F.broadcast(part)",
        "F.broadcast(stats)",
    ):
        assert bad not in src, f"forced fact-table broadcast: {bad}"


def test_q6_pushes_all_predicates(queries):
    p = plan_of(queries["q6_forecast_revenue"])
    pushed = p.split("PushedFilters")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed


def test_q18_avoids_shuffling_the_big_side_twice(queries):
    p = plan_of(queries["q18_large_orders"])
    # lineitem aggregates once, then joins only broadcast dims
    assert n_nodes(p, "SortMergeJoin") == 0
    assert n_nodes(p, "BroadcastHashJoin") == 2


def test_semi_and_anti_joins_stay_joins(queries):
    for name, kind in [
        ("semi_join_customers", "LeftSemi"),
        ("anti_join_parts", "LeftAnti"),
    ]:
        p = plan_of(queries[name])
        assert kind in p, f"{name} lost its {kind} join"


def test_checksum_compare_combines_map_side(queries):
    p = plan_of(queries["compare_chunk_checksum"])
    # partial + final pair: the shuffle carries chunk rows, not data rows
    assert n_nodes(p, "HashAggregate") == 2
    assert "partial_" in p


def test_window_topk_single_shuffle(queries):
    p = plan_of(queries["window_topk_orders"])
    # rank-within-partition needs exactly one hash exchange on the key
    assert n_nodes(p, "Exchange") <= 2


def test_similarity_uses_arrow_not_rowpython(queries):
    p = plan_of(queries["embedding_neardup"])
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p  # row-at-a-time Python is banned


def test_normalize_is_a_pure_narrow_projection(queries):
    p = plan_of(queries["normalize_lineitem"])
    # one scan, one projection — no shuffle, no Python in the row path
    assert n_nodes(p, "Exchange") == 0
    assert n_nodes(p, "Scan parquet") == 1
    assert "EvalPython" not in p


def test_range_join_is_hash_not_nested_loop(queries):
    p = plan_of(queries["range_join_windows"])
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_split_key_candidates_single_scan(queries):
    """The multi-distinct rewrite must keep ONE lineitem scan (Expand
    fans out in-plan) — a Union of per-column scans is the regression."""
    p = plan_of(queries["split_key_candidates"])
    assert n_nodes(p, "Scan parquet") == 1
    assert n_nodes(p, "Union") == 0
    assert n_nodes(p, "Expand") >= 1


def test_assess_join_skew_one_scan_one_wide_shuffle(queries):
    p = plan_of(queries["assess_join_skew"])
    assert n_nodes(p, "Scan parquet") == 1
    # stack() fans out in-plan (Generate or Expand), never a Union of scans
    assert n_nodes(p, "Generate") + n_nodes(p, "Expand") >= 1
    assert n_nodes(p, "Union") == 0
    # groupBy(col,key) partial-aggregates before its exchange
    assert n_nodes(p, "HashAggregate") >= 2


def test_ndv_sketch_single_scan_no_union(queries):
    p = plan_of(queries["assess_ndv_sketch"])
    assert n_nodes(p, "Scan parquet") == 1
    assert n_nodes(p, "Union") == 0


def test_daily_unique_users_partial_hll(queries):
    """HLL sketch must combine map-side: a partial aggregate carries
    the sketch buffer, the exchange ships one sketch per (day,
    partition), never raw user ids."""
    p = plan_of(queries["events_daily_unique_users"])
    assert "hll_sketch_agg" in p
    assert n_nodes(p, "HashAggregate") >= 2  # partial + final around the exchange


def test_zorder_code_is_narrow_projection(queries):
    p = plan_of(queries["zorder_code"])
    assert n_nodes(p, "Exchange") == 0
    assert n_nodes(p, "Scan parquet") == 1


def test_doc_chunk_windows_no_exchange(queries):
    p = plan_of(queries["doc_chunk_windows"])
    assert n_nodes(p, "Exchange") == 0
    assert n_nodes(p, "Generate") >= 1


def test_dup_span_stats_reuses_window_partitioning(queries):
    """The per-doc aggregate after the interval-union window must reuse
    the window's doc_id hash partitioning (grouping on a composite key
    would insert a second wide shuffle), and shuffles must carry span
    hashes, never text."""
    p = plan_of(queries["dedup_span_ngrams"])
    t = tree_of(p)
    # exactly one hash exchange per key: one on the span hash, one on doc_id
    import re

    hash_ex = [l for l in t.splitlines() if "Exchange hashpartitioning" in l]
    assert len(hash_ex) <= 2, hash_ex
    assert n_nodes(p, "Window") == 1
    # final aggregate sits above the window with no exchange between
    win_idx = t.index("Window")
    agg_above = t[:win_idx].count("HashAggregate")
    assert agg_above >= 2  # partial+final, both exchange-free above the window


def test_gopher_quality_is_narrow_scan(queries):
    """One scan, no joins; the only exchange is the output sort."""
    p = plan_of(queries["gopher_quality_rules"])
    t = tree_of(p)
    assert n_nodes(p, "Join") == 0
    assert t.count("Exchange hashpartitioning") == 0
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_ngram_repetition_is_zero_shuffle(queries):
    """The Gopher n-gram battery's scale claim, machine-checked: a
    per-doc metric must be a projection, not an aggregation — no joins,
    no CONTENT-KEYED exchange (the rejected relational shape shuffled
    the ~9x n-gram explosion by gram hash), no Generate (explode).
    Allowed: the output sort's range partitioning, and spread_narrow's
    conditional round-robin of the RAW docs — a parallelism fix for the
    unsplittable single-row-group fixture that is a no-op whenever the
    scan already has >= defaultParallelism splits (i.e., at scale)."""
    p = plan_of(queries["ngram_repetition"])
    t = tree_of(p)
    assert n_nodes(p, "Join") == 0
    assert t.count("Exchange hashpartitioning") == 0
    assert n_nodes(p, "Generate") == 0
    assert t.count("Exchange roundrobinpartitioning") <= 1
    assert t.count("Exchange rangepartitioning") <= 1
    assert n_nodes(p, "Exchange") <= 2


def test_pmi_collocations_broadcasts_denominators(queries):
    """Both unigram-count joins broadcast (vocabulary-sized); no
    sort-merge join may appear — a shuffled join on token strings is
    the 100 TB antipattern here."""
    p = plan_of(queries["pmi_collocations"])
    assert n_nodes(p, "BroadcastHashJoin") >= 2
    assert n_nodes(p, "SortMergeJoin") == 0


def test_plan_lint_first_fold_no_hard_flags(queries, spark):
    """scripts/plan_lint.py's hard flags (CartesianProduct, row-Python
    BatchEvalPython) must stay absent across the driver-sampled window;
    the standalone script lints every entry."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_lint",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "plan_lint.py"),
    )
    lint = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(lint)

    import __spark_entry__ as entry

    names = list(entry.queries())[:50:4]  # every 4th of the fold — fast
    for name in names:
        p = plan_of(queries[name])
        tree = tree_of(p)
        for h in lint.HARD:
            assert h not in tree, (name, h)


def test_compare_repair_reuses_diff_exchange(lineitem):
    """Compare phase 2 scans and shuffles each side once: both
    directions of dataset_diff read ONE row-weight aggregate, so the
    final adaptive plan of the repair union reuses its exchange instead
    of planning a second full-payload shuffle."""
    from transferdb_spark.operators.compare_fixture import mutated_target
    from transferdb_spark.operators.diff import dataset_diff, repair_statements

    stmts = repair_statements(*dataset_diff(lineitem, mutated_target(lineitem)), "lineitem")
    stmts.collect()
    plan = stmts._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    nodes = [ln.lstrip(" :+-") for ln in final.splitlines()]
    assert sum(n.startswith("Exchange hashpartitioning") for n in nodes) == 1, final
    assert sum(n.startswith("ReusedExchange") for n in nodes) == 1, final
