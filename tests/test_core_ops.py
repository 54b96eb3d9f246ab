"""Unit tests for the core migration operators (SURVEY.md §5 plan)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 20


def test_chunk_plan_covers_range(lineitem):
    from transferdb_spark.plans.chunker import plan_chunks, with_chunk_id

    chunks = plan_chunks(lineitem, "l_orderkey", 8)
    assert len(chunks) == 8
    assert chunks[0].predicate.startswith("l_orderkey <=")
    assert chunks[-1].predicate.startswith("l_orderkey >=")
    # every row lands in exactly one chunk and counts add up
    tagged, _, _ = with_chunk_id(lineitem, "l_orderkey", 8)
    total = tagged.groupBy("chunk_id").count().agg(F.sum("count")).first()[0]
    assert total == lineitem.count()


def test_split_key_election(lineitem):
    from transferdb_spark.plans.chunker import elect_split_key

    assert elect_split_key(lineitem, approx=False)[0] == "l_orderkey"


def test_split_key_election_bounds_fused(spark, sf_dir):
    """One aggregate elects the key and returns its exact (min, max):
    the same key the selectivity rule picked from its own aggregate, on
    every fixture table; an empty table returns no bounds."""
    import pytest

    from transferdb_spark.plans.chunker import elect_split_key
    from transferdb_spark.sources.registry import load_tables

    for name, df in load_tables(spark, sf_dir).items():
        numeric = [
            f.name for f in df.schema.fields
            if f.dataType.typeName() in ("long", "integer", "short", "byte")
        ]
        if not numeric:
            with pytest.raises(ValueError):
                elect_split_key(df)
            continue
        d = df.select([F.approx_count_distinct(c).alias(c) for c in numeric]).first()
        expected = max(numeric, key=lambda c: (d[c], -numeric.index(c)))
        key, bounds = elect_split_key(df)
        assert key == expected, name
        lo, hi = df.agg(F.min(key), F.max(key)).first()
        assert bounds == (lo, hi), name
    empty = spark.createDataFrame([], "k long, v string")
    assert elect_split_key(empty) == ("k", None)


def test_quantile_plan_uses_passed_bounds(spark):
    from transferdb_spark.plans.chunker import plan_chunks_quantile

    df = spark.range(1000).withColumnRenamed("id", "k")
    own = plan_chunks_quantile(df, "k", 4)
    assert (own[0].lower, own[-1].upper) == (0, 999)
    pinned = plan_chunks_quantile(df, "k", 4, bounds=(-500, 5000))
    assert (pinned[0].lower, pinned[-1].upper) == (-500, 5000)
    assert [c.lower for c in pinned[1:]] == [c.lower for c in own[1:]]


def test_split_key_election_no_numeric(spark):
    import pytest

    from transferdb_spark.plans.chunker import elect_split_key

    df = spark.createDataFrame([("a", "b")], ["v1", "v2"])
    with pytest.raises(ValueError):
        elect_split_key(df)


def test_compare_identical_matches(lineitem):
    from transferdb_spark.operators.checksum import compare_chunks

    res = compare_chunks(lineitem, lineitem, "l_orderkey", 8)
    rows = res.collect()
    assert len(rows) == 8
    assert all(r["is_match"] for r in rows)


def test_hash_interface_split(lineitem):
    """md5 appears only in the portable (oracle-facing) chunk checksum;
    the production native plan is pinned free of it by
    test_native_checksum_verdicts_match_portable."""
    from transferdb_spark.operators.checksum import chunk_checksums

    portable_plan = (
        chunk_checksums(lineitem, "l_orderkey", 8)._jdf.queryExecution().toString()
    )
    assert "md5" in portable_plan


def test_native_checksum_verdicts_match_portable(lineitem):
    """chunk_checksums_native (production: typed values, no canonical
    rendering) must reach the SAME per-chunk match/mismatch verdicts as
    the portable md5 path on both a clean and a corrupted target."""
    from transferdb_spark.operators.checksum import (
        chunk_checksums,
        chunk_checksums_native,
        shared_chunk_bounds,
    )
    from transferdb_spark.operators.compare_fixture import mutated_target

    tgt = mutated_target(lineitem)
    bounds = shared_chunk_bounds(lineitem, tgt, "l_orderkey")

    def verdicts(fn):
        s = {r["chunk_id"]: (r["cnt"], r["checksum"]) for r in fn(lineitem, "l_orderkey", 8, bounds=bounds).collect()}
        t = {r["chunk_id"]: (r["cnt"], r["checksum"]) for r in fn(tgt, "l_orderkey", 8, bounds=bounds).collect()}
        return {cid: s.get(cid) == t.get(cid) for cid in set(s) | set(t)}

    assert verdicts(chunk_checksums_native) == verdicts(chunk_checksums)
    # native plan stays free of rendering and md5
    plan = chunk_checksums_native(lineitem, "l_orderkey", 8)._jdf.queryExecution().toString()
    assert "xxhash64" in plan and "md5" not in plan and "date_format" not in plan


def test_compare_detects_corruption(lineitem):
    from transferdb_spark.operators.checksum import compare_chunks
    from transferdb_spark.operators.compare_fixture import mutated_target

    res = compare_chunks(lineitem, mutated_target(lineitem), "l_orderkey", 8).collect()
    assert any(not r["is_match"] for r in res)
    # count deltas must reconcile: deleted rows missing, added rows extra
    assert sum(r["src_cnt"] for r in res) == lineitem.count()


def test_compare_shared_grid_localizes_damage(lineitem):
    """Both sides must be tagged over ONE grid (source-derived), so a
    matched chunk proves its key range equal and damage stays localized
    even though the target's key extremes differ (+10M added keys)."""
    from transferdb_spark.operators.checksum import compare_chunks, shared_chunk_bounds
    from transferdb_spark.operators.compare_fixture import mutated_target

    tgt = mutated_target(lineitem)
    bounds = shared_chunk_bounds(lineitem, tgt, "l_orderkey")
    src_row = lineitem.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    assert bounds == (src_row[0], src_row[1])  # grid from the source plan
    res = compare_chunks(lineitem, tgt, "l_orderkey", 8).collect()
    matched = [r for r in res if r["is_match"]]
    mismatched = [r for r in res if not r["is_match"]]
    assert mismatched, "corruption must be detected"
    assert matched, "shared grid must not degenerate to total mismatch"
    # target rows beyond source max clamp into the last (open) chunk
    assert sum(r["tgt_cnt"] for r in res) == tgt.count()


def test_empty_table_chunk_plan(spark):
    """Empty table: single open 1=1 chunk, no NULL-min/max crash
    (reference stats=0 full-scan chunk, chunk.go:199-242)."""
    from transferdb_spark.plans.chunker import (
        plan_chunks,
        plan_chunks_quantile,
        with_chunk_id,
    )

    empty = spark.createDataFrame([], "k long, v string")
    for planner in (plan_chunks, plan_chunks_quantile):
        chunks = planner(empty, "k", 8)
        assert len(chunks) == 1 and chunks[0].predicate == "1=1"
    tagged, lo, width = with_chunk_id(empty, "k", 8)
    assert tagged.count() == 0 and width >= 1


def test_empty_table_full_migrate(spark, tmp_path):
    from transferdb_spark.modes.full import full_migrate_table

    empty = spark.createDataFrame([], "k long, v string")
    target = full_migrate_table(spark, empty, "empty_t", str(tmp_path / "wd"), n_chunks=4, key="k")
    assert spark.read.parquet(target).count() == 0


def test_store_discards_shifted_plan(tmp_path):
    """Same chunk count but shifted boundaries = plan drift -> the stale
    state must be discarded, not silently resumed (full.go:315-331)."""
    from transferdb_spark.plans.chunker import Chunk
    from transferdb_spark.state.store import SUCCESS, StateStore

    wd = str(tmp_path / "st")
    plan_a = [Chunk(0, 0, 49, "k <= 49"), Chunk(1, 50, 99, "k >= 50")]
    store = StateStore(wd, "full")
    store.init_table("t", plan_a)
    store.mark("t", 0, SUCCESS)
    store.mark("t", 1, SUCCESS)
    # identical re-plan resumes (everything already SUCCESS)
    assert StateStore(wd, "full").init_table("t", plan_a)[0].status == SUCCESS
    # same count, shifted bounds -> discard: all chunks pending again
    plan_b = [Chunk(0, 0, 59, "k <= 59"), Chunk(1, 60, 119, "k >= 60")]
    store2 = StateStore(wd, "full")
    store2.init_table("t", plan_b)
    assert len(store2.pending("t")) == 2


def test_store_flush_survives_crash_mid_write(tmp_path, monkeypatch):
    """A crash while a mark rewrites the plan file must leave the
    previous plan loadable: the next StateStore resumes with the same
    pending chunks instead of failing on a truncated JSON file."""
    import json

    import pytest

    from transferdb_spark.plans.chunker import Chunk
    from transferdb_spark.state import store as store_mod
    from transferdb_spark.state.store import SUCCESS, StateStore

    wd = str(tmp_path / "st")
    plan = [Chunk(i, i * 10, i * 10 + 9, f"k >= {i * 10}") for i in range(3)]
    store = StateStore(wd, "full")
    store.init_table("t", plan)
    store.mark("t", 0, SUCCESS)
    before = [c.chunk_id for c in StateStore(wd, "full").pending("t")]
    assert before == [1, 2]

    real_dump = json.dump

    def torn_dump(obj, fh, **kw):
        fh.write(json.dumps(obj, **kw)[:20])  # part of the file, then die
        raise OSError("simulated crash mid-write")

    monkeypatch.setattr(store_mod.json, "dump", torn_dump)
    with pytest.raises(OSError):
        store.mark("t", 1, SUCCESS)
    monkeypatch.setattr(store_mod.json, "dump", real_dump)

    resumed = StateStore(wd, "full")
    assert [c.chunk_id for c in resumed.pending("t")] == before
    assert [c.chunk_id for c in resumed.init_table("t", plan) if c.status != SUCCESS] == before


def test_diff_roundtrip_repair(lineitem):
    """full→compare invariant: applying the diff makes the sets equal."""
    from transferdb_spark.operators.compare_fixture import mutated_target
    from transferdb_spark.operators.diff import dataset_diff

    tgt = mutated_target(lineitem)
    ins, dele = dataset_diff(lineitem, tgt)
    repaired = tgt.exceptAll(dele).unionAll(ins)
    assert repaired.exceptAll(lineitem).count() == 0
    assert lineitem.exceptAll(repaired).count() == 0


def test_dataset_diff_matches_exceptall(lineitem):
    """dataset_diff (one weighted aggregation) emits the exact multiset
    Spark's exceptAll produces — both directions, multiplicity
    included."""
    from transferdb_spark.operators.compare_fixture import mutated_target
    from transferdb_spark.operators.diff import dataset_diff

    tgt = mutated_target(lineitem)
    e_ins, e_del = lineitem.exceptAll(tgt), tgt.exceptAll(lineitem)
    h_ins, h_del = dataset_diff(lineitem, tgt)
    assert e_ins.count() > 0 and e_del.count() > 0
    assert h_ins.exceptAll(e_ins).count() == 0
    assert e_ins.exceptAll(h_ins).count() == 0
    assert h_del.exceptAll(e_del).count() == 0
    assert e_del.exceptAll(h_del).count() == 0


def test_dataset_diff_preserves_multiplicity(spark):
    """A row appearing 3x in src and 1x in tgt yields exactly 2 copies."""
    from transferdb_spark.operators.diff import dataset_diff

    src = spark.createDataFrame([("a", 1)] * 3 + [("b", 2)], ["k", "v"])
    tgt = spark.createDataFrame([("a", 1), ("c", 3), ("c", 3)], ["k", "v"])
    ins, dels = dataset_diff(src, tgt)
    assert sorted(tuple(r) for r in ins.collect()) == [("a", 1), ("a", 1), ("b", 2)]
    assert sorted(tuple(r) for r in dels.collect()) == [("c", 3), ("c", 3)]


def test_dataset_diff_data_column_named_like_weight(spark):
    """A data column named like the internal weight column (any case)
    is diffed as data, not shadowed by the +1/-1 tags."""
    from transferdb_spark.operators.diff import dataset_diff, diff_summary

    src = spark.createDataFrame([(7, 1, "a"), (7, 1, "a"), (8, 2, "b")], ["_w", "__W", "v"])
    tgt = spark.createDataFrame([(7, 1, "a"), (9, 3, "c")], ["_w", "__W", "v"])
    ins, dels = dataset_diff(src, tgt)
    assert sorted(tuple(r) for r in ins.collect()) == [(7, 1, "a"), (8, 2, "b")]
    assert sorted(tuple(r) for r in dels.collect()) == [(9, 3, "c")]
    r = diff_summary(src, tgt).first()
    assert (r["insert_rows"], r["delete_rows"]) == (2, 1)


def test_diff_zero_on_identical(lineitem):
    from transferdb_spark.operators.diff import diff_summary

    row = diff_summary(lineitem, lineitem).first()
    assert row["insert_rows"] == 0 and row["delete_rows"] == 0


def test_normalize_empty_string_null(spark):
    from transferdb_spark.operators.normalize import normalize_projection

    df = spark.createDataFrame(
        [(1, "", 1.5), (2, None, None), (3, " ", 2.0)],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("s", T.StringType()),
                T.StructField("d", T.DoubleType()),
            ]
        ),
    )
    out = {r["id"]: r for r in normalize_projection(df).collect()}
    assert out[1]["s"] is None  # '' -> NULL (reference full.go:197-213)
    assert out[2]["s"] is None
    assert out[3]["s"] == " "  # blank is NOT collapsed
    assert out[1]["d"] == "1.50"  # fixed-scale decimal rendering


def test_portable_hash_matches_duckdb(spark):
    import duckdb

    from transferdb_spark.functions.hashing import portable_hash64, portable_hash64_sql

    vals = ["", "abc", "hello\x1fworld", "\\N", "0.50"]
    sdf = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {r["s"]: r["h"] for r in sdf.select("s", portable_hash64(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for v in vals:
        expected = con.execute(
            "SELECT " + portable_hash64_sql("?::VARCHAR"), [v]
        ).fetchone()[0]
        assert got[v] == expected, v


def test_repair_sql_escaping():
    from transferdb_spark.operators.diff import repair_sql

    stmts = repair_sql(
        [{"a": 1, "b": "it's"}], [{"a": None, "b": "x\\y"}], ["a", "b"], "t"
    )
    assert stmts[0] == "INSERT INTO t (a, b) VALUES (1, 'it''s');"
    assert "a IS NULL" in stmts[1] and "'x\\\\y'" in stmts[1]


def test_glob_filter():
    from transferdb_spark.functions.scalars import glob_match

    assert glob_match(["line*"], "LINEITEM")
    assert glob_match(["*item"], "lineitem")
    assert not glob_match(["ord?"], "orders")


def test_snapshot_versions_are_immutable_images(spark, sf_dir, tmp_path):
    from transferdb_spark.sources.registry import load_table
    from transferdb_spark.state.snapshots import (
        list_versions,
        read_snapshot,
        write_snapshot,
    )

    base = str(tmp_path / "snap")
    li = load_table(spark, sf_dir, "lineitem")
    v0 = write_snapshot(li.filter("l_orderkey <= 1000"), base)
    v1 = write_snapshot(li.filter("l_orderkey > 1000"), base, mode="append")
    v2 = write_snapshot(li.filter("l_linenumber = 1"), base)  # overwrite image

    assert [v0, v1, v2] == [0, 1, 2] == list_versions(base)
    n0 = li.filter("l_orderkey <= 1000").count()
    assert read_snapshot(spark, base, 0).count() == n0
    assert read_snapshot(spark, base, 1).count() == li.count()
    assert read_snapshot(spark, base).count() == li.filter("l_linenumber = 1").count()
    # as-of semantics: v0's image unchanged by later commits
    assert read_snapshot(spark, base, 0).count() == n0


def test_quantile_chunks_balance_skewed_keys(spark):
    from transferdb_spark.plans.chunker import plan_chunks, plan_chunks_quantile

    # zipf-ish skew: 90% of rows in the low 1% of the key space
    import itertools

    rows = [(k,) for k in itertools.chain(
        (i % 100 for i in range(9000)), (100 + i * 1000 for i in range(1000))
    )]
    df = spark.createDataFrame(rows, "k long")

    fixed = plan_chunks(df, "k", 8)
    eqd = plan_chunks_quantile(df, "k", 8)

    def chunk_counts(chunks):
        return [df.filter(c.predicate).count() for c in chunks]

    fixed_counts = chunk_counts(fixed)
    eq_counts = chunk_counts(eqd)
    # fixed-width: one chunk swallows ~90% of rows; equi-depth: none does
    assert max(fixed_counts) > 0.8 * 10000
    assert max(eq_counts) < 0.5 * 10000
    # both plans cover every row exactly once
    assert sum(eq_counts) == 10000 and sum(fixed_counts) == 10000


def test_keyed_diff_classifies_mutations(spark, sf_dir):
    from transferdb_spark.operators.compare_fixture import mutated_orders
    from transferdb_spark.operators.diff import keyed_diff
    from transferdb_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders")
    ins, dele, upd = keyed_diff(orders, mutated_orders(orders), ["o_orderkey"])
    # the mutation spec, seen through the keyed lens: deleted source
    # rows -> inserts; added target rows -> deletes; price bumps ->
    # updates (same key, changed payload)
    n_deleted = orders.filter("o_orderkey % 97 = 0").count()
    n_added = orders.filter("o_orderkey % 53 = 0").count()
    n_mod = orders.filter("o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0").count()
    assert ins.count() == n_deleted
    assert dele.count() == n_added
    assert upd.count() == n_mod
    # update rows carry the SOURCE payload (the repair image)
    assert upd.filter("o_orderkey % 89 <> 0").count() == 0


def test_asof_join_semantics(spark):
    from transferdb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (1, 5, 102), (2, 10, 103)],
        "k long, ts long, eid long",
    ).select("eid", "k", "ts")
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 15, 2.0), (2, 99, 9.0)], "k long, ts long, v double"
    )
    out = {
        r["eid"]: r["v_asof"]
        for r in asof_join(left, right, key="k", ts="ts", payload=["v"]).collect()
    }
    assert out[100] == 1.0  # right row at exactly left.ts wins (<=)
    assert out[101] == 2.0  # latest prior
    assert out[102] is None  # no right row yet
    assert out[103] is None  # right row is in the future

    fwd = {
        r["eid"]: r["v_asof"]
        for r in asof_join(
            left, right, key="k", ts="ts", payload=["v"], direction="forward"
        ).collect()
    }
    assert fwd[100] == 1.0  # exact ts eligible in forward too (>=)
    assert fwd[101] is None  # nothing after ts=20
    assert fwd[102] == 1.0  # earliest following
    assert fwd[103] == 9.0

    near = {
        r["eid"]: r["v_asof"]
        for r in asof_join(
            left, right, key="k", ts="ts", payload=["v"], direction="nearest"
        ).collect()
    }
    assert near[100] == 1.0  # exact match
    assert near[101] == 2.0  # |20-15|=5 backward only
    assert near[102] == 1.0  # only forward exists
    assert near[103] == 9.0  # only forward exists
    # equidistant: ts=12.5 is impossible with longs; ts=12 -> backward
    # (|12-10|=2 < |12-15|=3), ts=13 -> forward is closer
    tie_left = spark.createDataFrame([(1, 12, 200), (1, 13, 201)], "k long, ts long, eid long")
    near2 = {
        r["eid"]: r["v_asof"]
        for r in asof_join(
            tie_left, right, key="k", ts="ts", payload=["v"], direction="nearest"
        ).collect()
    }
    assert near2[200] == 1.0 and near2[201] == 2.0

    tol = {
        r["eid"]: r["v_asof"]
        for r in asof_join(
            left, right, key="k", ts="ts", payload=["v"],
            direction="nearest", tolerance=4,
        ).collect()
    }
    assert tol[100] == 1.0  # delta 0 <= 4
    assert tol[103] is None  # |10-99| way past tolerance
    import pytest

    with pytest.raises(ValueError):
        asof_join(left, right, key="k", ts="ts", payload=["v"], direction="sideways")


def test_range_join_matches_naive(spark, sf_dir):
    from transferdb_spark.operators.rangejoin import range_join
    from transferdb_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events")
    pts = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    ivl = ev.filter("event_type = 'signup'").select(
        "user_id",
        F.col("ts").alias("s"),
        F.expr("ts + INTERVAL 2 HOURS").alias("e"),
    )
    fast = range_join(pts, ivl, "ts", "s", "e", bucket_width=1800, extra_key="user_id")
    naive = pts.alias("p").join(
        ivl.alias("i"),
        (F.col("p.user_id") == F.col("i.user_id"))
        & (F.col("p.ts") >= F.col("i.s"))
        & (F.col("p.ts") <= F.col("i.e")),
    )
    assert fast.count() == naive.count()


def test_diff_summary_null_columns_not_aliased(spark):
    """('a', NULL) and (NULL, 'a') are different rows: a row key that
    dropped or merged NULL positions (xxhash64 skips NULL inputs, for
    one) would group them together and report zero. Pin it."""
    from transferdb_spark.operators.diff import diff_summary

    a = spark.createDataFrame([("a", None)], "x string, y string")
    b = spark.createDataFrame([(None, "a")], "x string, y string")
    r = diff_summary(a, b).first()
    assert (r["insert_rows"], r["delete_rows"]) == (1, 1)

    # and multiplicity still counts (multiset semantics)
    c = spark.createDataFrame([("a", "b"), ("a", "b")], "x string, y string")
    d = spark.createDataFrame([("a", "b")], "x string, y string")
    r2 = diff_summary(c, d).first()
    assert (r2["insert_rows"], r2["delete_rows"]) == (1, 0)


def test_source_boundary_normalizes_ntz(spark, sf_dir):
    """The round-3 regression guard: whatever physical timestamp type
    the fixture ships (int64 nanos, TIMESTAMP(MICROS)/NTZ), load_table
    must deliver plain session-tz TIMESTAMP — NTZ refuses numeric casts
    and streaming watermarks."""
    from pyspark.sql import types as T

    from transferdb_spark.sources.registry import TABLES, load_table

    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
        assert not ntz, f"{t}: NTZ columns leaked through the boundary: {ntz}"
    ev = load_table(spark, sf_dir, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    # the operation NTZ rejects must work
    ev.selectExpr("cast(ts as long)").first()


def test_charset_projection_encodes_for_byte_oriented_target(spark):
    """Reverse direction of F9: when the TARGET charset is non-UTF-8
    (byte-oriented landing, e.g. a GBK CSV drop), string columns encode
    to target-charset bytes in flight."""
    from transferdb_spark.modes.full import charset_projection

    df = spark.createDataFrame([(1, "数据校验"), (2, None)], "id long, s string")
    out = charset_projection(df, "UTF8", "ZHS16GBK").orderBy("id").collect()
    assert bytes(out[0]["s"]) == "数据校验".encode("gbk")
    assert out[1]["s"] is None


def test_hll_sketch_union_equals_full_recompute(spark, sf_dir):
    """Incremental rollup maintenance: per-batch HLL sketches unioned
    with hll_union_agg give BIT-IDENTICAL estimates to one sketch over
    all data — so a 100 TB daily rollup can merge yesterday's stored
    sketches with today's batch instead of rescanning history."""
    from pyspark.sql import functions as F
    from transferdb_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events")
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)

    def day_sketch(df):
        return df.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
            F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
        )

    merged = (
        day_sketch(half1)
        .unionAll(day_sketch(half2))
        .groupBy("day")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk, true))").alias("est"))
    )
    full = day_sketch(ev).select(
        "day", F.expr("hll_sketch_estimate(sk)").alias("est")
    )
    m = {r["day"]: r["est"] for r in merged.collect()}
    f = {r["day"]: r["est"] for r in full.collect()}
    assert m == f and len(f) > 0


def test_snapshot_manifest_stats_prune_files(spark, sf_dir, tmp_path):
    """Manifest-level scan planning: commit a Z-ordered table with
    stat_cols, then a narrow predicate read must touch a strict subset
    of files (pruned from the manifest, no footer reads) and return
    exactly the rows a full-scan filter returns."""
    from pyspark.sql import functions as F
    from transferdb_spark.plans.layout import zorder_layout
    from transferdb_spark.sources.registry import load_table
    from transferdb_spark.state.snapshots import read_snapshot, write_snapshot

    li = load_table(spark, sf_dir, "lineitem")
    base = str(tmp_path / "snap")
    v = write_snapshot(
        zorder_layout(li, ["l_partkey", "l_suppkey"], n_files=16),
        base,
        stat_cols=["l_partkey", "l_suppkey"],
    )

    total = len(read_snapshot(spark, base, v).inputFiles())
    pred = ("l_partkey", 100, 160)
    got = read_snapshot(spark, base, v, predicate=pred)
    assert total >= 8
    assert len(got.inputFiles()) < total  # manifest stats actually cut the file list

    want = li.filter(F.col("l_partkey").between(100, 160))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0

    # files without stats for the column (l_orderkey has none) are
    # never pruned
    kept = read_snapshot(spark, base, v, predicate=("l_orderkey", 0, 1))
    assert len(kept.inputFiles()) == total


def test_two_phase_global_ranking_exact(spark):
    """Two-phase global row_number/ntile must match the single-window
    semantics exactly, including SQL ntile's uneven-bucket rule and the
    fewer-rows-than-buckets edge; the plan must contain NO
    single-partition window (that's the whole point)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from transferdb_spark.operators.ranking import global_ntile, global_row_number

    df = spark.range(103).select(
        (F.col("id") * 37 % 103).alias("k"), F.col("id").alias("uid")
    )
    got = {
        r["uid"]: r["rn"]
        for r in global_row_number(df, ["k", "uid"], num_partitions=7).collect()
    }
    want = {
        r["uid"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("k", "uid"))
        ).collect()
    }
    assert got == want

    # ntile uneven rule: 103 rows, k=4 -> buckets of 26,26,26,25
    nt = global_ntile(df, ["k", "uid"], k=4, num_partitions=7)
    sizes = {
        r["bucket"]: r["n"]
        for r in nt.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sizes == {1: 26, 2: 26, 3: 26, 4: 25}

    # fewer rows than buckets: each row its own bucket
    tiny = spark.range(3).select(F.col("id").alias("k"), F.col("id").alias("uid"))
    tb = sorted(r["bucket"] for r in global_ntile(tiny, ["k", "uid"], k=10).collect())
    assert tb == [1, 2, 3]

    # no global window funnel: the ranking window partitions by __pid
    plan = global_row_number(df, ["k", "uid"], 7)._jdf.queryExecution().toString()
    assert "windowspecdefinition(__pid" in plan
    assert "SinglePartition" not in plan

    # NaN sorts LAST (greater-than-all) in Spark's ordering — the
    # bucket expression must agree, not dump NaN into bucket 0
    fdf = spark.createDataFrame(
        [(1.0, 1), (float("nan"), 2), (2.0, 3), (0.5, 4), (float("nan"), 5)],
        "k double, uid long",
    )
    got = {
        r["uid"]: r["rn"] for r in global_row_number(fdf, ["k", "uid"], 3).collect()
    }
    want = {
        r["uid"]: r["rn"]
        for r in fdf.withColumn(
            "rn", F.row_number().over(Window.orderBy("k", "uid"))
        ).collect()
    }
    assert got == want and got[2] == 4 and got[5] == 5


def test_manifest_commit_put_if_absent(spark, sf_dir, tmp_path):
    """Two interleaved writers racing to the same next version must BOTH
    survive as distinct versions (put-if-absent commit, never a silent
    rename-clobber), and no temporary manifest is left behind."""
    from transferdb_spark.sources.registry import load_table
    from transferdb_spark.state.snapshots import (
        _commit_manifest,
        _write_staging,
        list_versions,
        read_snapshot,
        write_snapshot,
    )

    base = str(tmp_path / "snap")
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    write_snapshot(region, base)

    # writer A stages its files and computes next version = 1 ...
    a_files = _write_staging(nation, base)
    # ... writer B commits version 1 first (full write_snapshot path)
    v_b = write_snapshot(region.limit(2), base)
    assert v_b == 1
    # ... then A commits with its STALE version number: must land at 2
    v_a = _commit_manifest(base, 1, a_files, {})
    assert v_a == 2
    assert list_versions(base) == [0, 1, 2]
    # B's committed image was not clobbered; A's is intact too
    assert read_snapshot(spark, base, v_b).count() == 2
    assert read_snapshot(spark, base, v_a).count() == nation.count()
    # no stray .tmp manifests left behind
    import os
    vd = os.path.join(base, "_versions")
    assert not [f for f in os.listdir(vd) if f.endswith(".tmp")]


def test_global_ranking_non_numeric_order_keys(spark):
    """String / date / timestamp leading order columns must produce
    exactly the single-window ranks (order-preserving numeric
    surrogates for boundary derivation); unsupported types raise a
    clear error instead of an approxQuantile crash."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from transferdb_spark.operators.ranking import global_row_number

    sdf = spark.createDataFrame(
        [("", 1), ("zebra", 2), ("apple", 3), (None, 4), ("apple pie", 5),
         ("Zeb", 6), ("zebra", 7), ("éclair", 8)],
        "k string, uid long",
    )
    ddf = spark.sql(
        "SELECT * FROM VALUES (DATE'2024-01-05', 1), (DATE'1969-12-31', 2), "
        "(DATE'2024-01-05', 3), (CAST(NULL AS DATE), 4), (DATE'2030-06-01', 5) "
        "AS t(k, uid)"
    )
    tdf = spark.sql(
        "SELECT * FROM VALUES (TIMESTAMP'2024-01-05 10:00:00.123', 1), "
        "(TIMESTAMP'1969-12-31 23:59:59', 2), (TIMESTAMP'2024-01-05 10:00:00.124', 3), "
        "(CAST(NULL AS TIMESTAMP), 4) AS t(k, uid)"
    )
    for df in (sdf, ddf, tdf):
        got = {
            r["uid"]: r["rn"] for r in global_row_number(df, ["k", "uid"], 3).collect()
        }
        want = {
            r["uid"]: r["rn"]
            for r in df.withColumn(
                "rn", F.row_number().over(Window.orderBy("k", "uid"))
            ).collect()
        }
        assert got == want, df.schema.simpleString()

    adf = spark.createDataFrame([([1, 2], 1)], "k array<int>, uid long")
    with pytest.raises(ValueError, match="unsupported leading order column"):
        global_row_number(adf, ["k", "uid"], 3)


def test_weighted_sample_favors_heavy_docs(spark, sf_dir):
    """Sequential Poisson sampling: selection probability must rise
    with weight — the mean n_chars of the 50 selected docs exceeds the
    corpus mean, and the sample is deterministic across invocations."""
    import __spark_entry__ as entry

    a = entry.weighted_sample_topk(spark, sf_dir).collect()
    b = entry.weighted_sample_topk(spark, sf_dir).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    sel_mean = sum(r["weight"] for r in a) / len(a)
    from transferdb_spark.sources.registry import load_table
    import pyspark.sql.functions as F

    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .agg(F.avg("n_chars").alias("m"))
        .collect()[0]["m"]
    )
    assert sel_mean > corpus_mean
    keys = [r["key"] for r in a]
    assert keys == sorted(keys)
