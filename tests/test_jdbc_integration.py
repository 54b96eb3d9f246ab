"""Embedded-JDBC integration: execute the chunk-predicate read and
batched-write paths against a real database (Apache Derby, embedded in
the Spark JVM — the same jars Spark ships for its metastore).

This closes the gap the plan-only unit tests leave: the reference's
entire hot path is chunked SELECTs against a live DB and batched
writes back (/root/reference/module/migrate/sql/oracle/o2m/
table.go:89-216, /root/reference/database/mysql/full.go:22-35); here
the same JdbcSource/JdbcSink objects drive a real JDBC round-trip.
"""

from __future__ import annotations

import pytest

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(DERBY_DRIVER)
        return True
    except Exception:
        return False


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    if not _derby_available(spark):
        pytest.skip("no embedded Derby driver on the Spark classpath")
    d = tmp_path_factory.mktemp("derby")
    return f"jdbc:derby:{d}/testdb;create=true"


def test_jdbc_write_then_chunked_read_roundtrip(spark, sf_dir, derby_url):
    from transferdb_spark.plans.chunker import plan_chunks, quoted_chunks
    from transferdb_spark.sources.jdbc import JdbcSink, JdbcSource
    from transferdb_spark.sources.registry import load_table

    src = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )

    # batched write: one txn per partition, prepared inserts inside the
    # JVM writer (the reference's multi-row INSERT pipeline)
    sink = JdbcSink(url=derby_url, table="CUSTOMER", driver=DERBY_DRIVER, batch_size=500)
    sink.write(src.coalesce(2), mode="overwrite")

    # chunked read: one Spark partition per chunk predicate, range
    # WHERE pushed into the database (DBMS_PARALLEL_EXECUTE analogue);
    # Spark's JDBC writer quoted the column names, so quote the key
    chunks = quoted_chunks(plan_chunks(src, "c_custkey", 4), "c_custkey")
    jdbc_src = JdbcSource(url=derby_url, table="CUSTOMER", driver=DERBY_DRIVER)
    back = jdbc_src.load(spark, chunks=chunks)

    assert back.rdd.getNumPartitions() == len(chunks)  # partition-per-chunk
    assert back.count() == src.count()
    # full fidelity through the JDBC round-trip (modulo column case)
    back_n = back.toDF(*[c.lower() for c in back.columns])
    assert back_n.exceptAll(src).count() == 0
    assert src.exceptAll(back_n).count() == 0


def test_jdbc_migrate_then_compare_over_jdbc(spark, sf_dir, derby_url, tmp_path):
    """The reference's own correctness loop (full then compare) with the
    target living behind JDBC: mutate the migrated table in the
    database via SQL, then compare source vs JDBC-read target and
    check the damage is found."""
    from transferdb_spark.modes.compare_mode import compare_tables
    from transferdb_spark.sources.jdbc import JdbcSink, JdbcSource
    from transferdb_spark.sources.registry import load_table

    src = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    sink = JdbcSink(url=derby_url, table="NATION", driver=DERBY_DRIVER)
    sink.write(src.coalesce(1), mode="overwrite")

    # damage the target through plain JDBC (driver-side, tiny)
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(derby_url)
    st = conn.createStatement()
    st.executeUpdate('DELETE FROM NATION WHERE "n_nationkey" = 7')
    st.executeUpdate('UPDATE NATION SET "n_regionkey" = 99 WHERE "n_nationkey" = 3')
    st.close()
    conn.close()

    tgt = JdbcSource(url=derby_url, table="NATION", driver=DERBY_DRIVER).load(spark)
    tgt = tgt.toDF(*[c.lower() for c in tgt.columns])

    report = compare_tables(
        spark, src, tgt, "nation_jdbc", str(tmp_path), key="n_nationkey", n_chunks=4
    )
    assert not report.is_equal
    # deleted row 7 and modified row 3 -> 2 inserts, 1 delete
    assert report.insert_rows == 2
    assert report.delete_rows == 1
    text = open(report.fix_sql_path).read()
    assert "INSERT INTO nation_jdbc" in text and "DELETE FROM nation_jdbc" in text


def test_write_with_retry_backoff(spark, monkeypatch):
    """Transient failures are retried with exponential backoff; the
    exception surfaces only after max_retries is exhausted."""
    import pytest as _pytest

    from transferdb_spark.sources.jdbc import JdbcSink

    sink = JdbcSink(url="jdbc:derby:memory:retrydb;create=true", table="t")
    df = spark.range(3)
    calls = {"n": 0}

    def flaky(d, mode="append"):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("connection reset")

    monkeypatch.setattr(sink, "write", flaky)
    monkeypatch.setattr("time.sleep", lambda s: None)
    assert sink.write_with_retry(df, max_retries=3, backoff_s=0) == 3

    calls["n"] = 0

    def always_down(d, mode="append"):
        calls["n"] += 1
        raise RuntimeError("endpoint down")

    monkeypatch.setattr(sink, "write", always_down)
    with _pytest.raises(RuntimeError, match="endpoint down"):
        sink.write_with_retry(df, max_retries=2, backoff_s=0)
    assert calls["n"] == 3  # initial + 2 retries


def test_jdbc_session_init_statement_pins_snapshot_per_connection(spark, derby_url):
    """sessionInitStatement runs on EVERY JDBC connection before its
    chunk SELECT — the mechanism the reference uses to pin one
    consistent image per chunk connection (SET TRANSACTION ... AS OF
    SCN, /root/reference/database/oracle/full.go:95-124). Derby
    analogue: two schemas hold same-named tables with different rows;
    `SET SCHEMA SNAP` as the init statement must redirect every
    chunked connection to the pinned schema, while the same reader
    without the init statement sees the default schema."""
    from transferdb_spark.plans.chunker import Chunk
    from transferdb_spark.sources.jdbc import JdbcSource

    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(derby_url)
    st = conn.createStatement()
    for sql in [
        "CREATE SCHEMA SNAP",
        'CREATE TABLE APP.ACCT ("ID" INT, "VAL" INT)',
        'CREATE TABLE SNAP.ACCT ("ID" INT, "VAL" INT)',
        "INSERT INTO APP.ACCT VALUES (1, 100), (2, 200), (3, 300), (4, 400)",
        "INSERT INTO SNAP.ACCT VALUES (1, 1), (2, 2), (3, 3), (4, 4)",
    ]:
        st.execute(sql)
    st.close()
    conn.close()

    chunks = [
        Chunk(0, 1, 2, '"ID" <= 2'),
        Chunk(1, 3, 4, '"ID" >= 3'),
    ]
    pinned = JdbcSource(
        url=derby_url,
        table="ACCT",
        driver=DERBY_DRIVER,
        session_init="SET SCHEMA SNAP",
    ).load(spark, chunks=chunks)
    assert pinned.rdd.getNumPartitions() == 2  # two connections, both pinned
    assert sorted(r["VAL"] for r in pinned.collect()) == [1, 2, 3, 4]

    unpinned = JdbcSource(url=derby_url, table="ACCT", driver=DERBY_DRIVER).load(
        spark, chunks=chunks
    )
    assert sorted(r["VAL"] for r in unpinned.collect()) == [100, 200, 300, 400]


def test_reverse_apply_live_check_and_fix_sql_roundtrip(spark, sf_dir, tmp_path):
    """The reference writer's direct-DB branch (write.go:40-140
    RWriteDB), end to end against live Derby: reverse -> APPLY the DDL
    over JDBC -> introspect the live catalog -> check reports ZERO
    drift; then migrate data, corrupt the target, compare -> APPLY the
    fix-SQL -> re-compare reports zero diff."""
    if not _derby_available(spark):
        pytest.skip("no embedded Derby driver on the Spark classpath")
    from transferdb_spark.catalog.fixture import fixture_catalog
    from transferdb_spark.catalog.jdbc_catalog import read_jdbc_catalog, rendered_types
    from transferdb_spark.modes.apply import apply_reverse_ddl, apply_sql
    from transferdb_spark.modes.check import check_catalogs
    from transferdb_spark.operators.diff import dataset_diff, repair_statements
    from transferdb_spark.sources.jdbc import JdbcSink, JdbcSource
    from transferdb_spark.sources.registry import load_table

    url = f"jdbc:derby:{tmp_path}/applydb;create=true"
    sink = JdbcSink(url=url, table="", driver=DERBY_DRIVER)

    cat = fixture_catalog(spark, sf_dir)
    cat = {k: cat[k] for k in ("region", "nation")}

    # ---- reverse --apply: DDL straight into the live target ----
    res = apply_reverse_ddl(spark, sink, cat)
    assert res.ok, res.failed
    # creates + index + FK all executed
    assert any(s.startswith("CREATE TABLE NATION") for s in res.applied)
    assert any("FOREIGN KEY" in s for s in res.applied)
    assert any(s.startswith("CREATE INDEX IDX_NATION") for s in res.applied)

    # ---- live catalog introspection -> zero structural drift ----
    live = read_jdbc_catalog(spark, url, ["region", "nation"], driver=DERBY_DRIVER)
    assert set(live) == {"region", "nation"}
    results = check_catalogs(
        cat,
        live,
        dialect="ansi",
        tgt_types_by_table={k: rendered_types(m) for k, m in live.items()},
    )
    for name, r in results.items():
        assert r.is_clean, (name, r)

    # ---- migrate data, then damage the target over JDBC ----
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    up = lambda df: df.toDF(*[c.upper() for c in df.columns])  # noqa: E731
    JdbcSink(url=url, table="REGION", driver=DERBY_DRIVER).write(
        up(region).coalesce(1), mode="append"
    )
    JdbcSink(url=url, table="NATION", driver=DERBY_DRIVER).write(
        up(nation).coalesce(1), mode="append"
    )

    damage = [
        "DELETE FROM NATION WHERE N_NATIONKEY = 7",
        "UPDATE NATION SET N_REGIONKEY = 4 WHERE N_NATIONKEY = 3",
        "INSERT INTO NATION (N_NATIONKEY, N_NAME, N_REGIONKEY) "
        "VALUES (99, 'ATLANTIS', 0)",
    ]
    dmg = apply_sql(spark, sink, damage)
    assert dmg.ok, dmg.failed

    # ---- compare -> fix-SQL -> apply -> re-compare zero diff ----
    def live_nation():
        t = JdbcSource(url=url, table="NATION", driver=DERBY_DRIVER).load(spark)
        return t.toDF(*[c.lower() for c in t.columns]).select(*nation.columns)

    ins, dels = dataset_diff(nation, live_nation())
    assert ins.count() == 2 and dels.count() == 2  # del+upd -> 2 ins; upd+extra -> 2 del
    stmts = [
        r["stmt"]
        for r in repair_statements(ins, dels, "NATION", dialect="ansi").collect()
    ]
    assert all("LIMIT" not in s for s in stmts)
    fix = apply_sql(spark, sink, stmts)
    assert fix.ok, fix.failed

    ins2, dels2 = dataset_diff(nation, live_nation())
    assert ins2.isEmpty() and dels2.isEmpty()

    # structure still clean after DML repair (apply touched data only)
    live2 = read_jdbc_catalog(spark, url, ["nation"], driver=DERBY_DRIVER)
    r2 = check_catalogs(
        {"nation": cat["nation"]},
        live2,
        dialect="ansi",
        tgt_types_by_table={"nation": rendered_types(live2["nation"])},
    )["nation"]
    assert r2.is_clean, r2


def test_live_structure_drift_repaired_by_ansi_fix_sql(spark, sf_dir, tmp_path):
    """The check half of the live loop: damage the TARGET STRUCTURE
    over JDBC (drop a column, drop an index, add a stray column), run
    check against the introspected live catalog, APPLY the emitted
    ANSI fix-SQL, re-check -> zero drift."""
    if not _derby_available(spark):
        pytest.skip("no embedded Derby driver on the Spark classpath")
    from transferdb_spark.catalog.fixture import fixture_catalog
    from transferdb_spark.catalog.jdbc_catalog import read_jdbc_catalog, rendered_types
    from transferdb_spark.modes.apply import apply_reverse_ddl, apply_sql
    from transferdb_spark.modes.check import check_catalogs
    from transferdb_spark.sources.jdbc import JdbcSink

    url = f"jdbc:derby:{tmp_path}/driftdb;create=true"
    sink = JdbcSink(url=url, table="", driver=DERBY_DRIVER)
    full_cat = fixture_catalog(spark, sf_dir)
    # region/nation ride along so customer's FK chain resolves; give
    # customer an index NOT shadowed by an FK backing index (Derby
    # shares the physical conglomerate for same-column indexes, so an
    # FK-column index drop is functionally invisible)
    cat = {k: full_cat[k] for k in ("region", "nation", "customer")}
    from transferdb_spark.catalog.meta import IndexMeta

    cat["customer"].indexes = list(cat["customer"].indexes) + [
        IndexMeta(name="IDX_CUSTOMER_C_ACCTBAL", columns=("C_ACCTBAL",))
    ]
    assert apply_reverse_ddl(spark, sink, cat).ok

    drift = apply_sql(
        spark,
        sink,
        [
            "ALTER TABLE CUSTOMER DROP COLUMN C_MKTSEGMENT",
            "DROP INDEX IDX_CUSTOMER_C_ACCTBAL",
            "ALTER TABLE CUSTOMER ADD COLUMN STRAY INTEGER",
        ],
    )
    assert drift.ok, drift.failed

    def live_check():
        live = read_jdbc_catalog(spark, url, ["customer"], driver=DERBY_DRIVER)
        return check_catalogs(
            {"customer": cat["customer"]},
            live,
            dialect="ansi",
            tgt_types_by_table={"customer": rendered_types(live["customer"])},
        )["customer"]

    r = live_check()
    assert not r.is_clean
    assert r.missing_columns == ["C_MKTSEGMENT"]
    assert r.extra_columns == ["STRAY"]
    assert "IDX_CUSTOMER_C_ACCTBAL" in r.missing_indexes

    fix = apply_sql(spark, sink, r.fix_sql)
    assert fix.ok, fix.failed

    r2 = live_check()
    assert r2.is_clean, r2


def test_redo_translate_ansi_applies_transactionally(spark, tmp_path):
    """The streaming translate path against a LIVE target: Oracle-style
    redo SQL -> parse_redo -> translate(dialect='ansi') ->
    apply_transactions executes each txn atomically over JDBC
    (apply.go:119-233's UPDATE = DELETE+REPLACE txn). A txn with a
    failing statement must roll back WHOLE."""
    if not _derby_available(spark):
        pytest.skip("no embedded Derby driver on the Spark classpath")
    from transferdb_spark.modes.apply import apply_sql, apply_transactions
    from transferdb_spark.sources.jdbc import JdbcSink, JdbcSource
    from transferdb_spark.streaming.redo import parse_redo, translate_stmt

    url = f"jdbc:derby:{tmp_path}/redodb;create=true"
    sink = JdbcSink(url=url, table="", driver=DERBY_DRIVER)
    setup = apply_sql(
        spark,
        sink,
        [
            "CREATE TABLE ACCTS (ID INT NOT NULL PRIMARY KEY, BAL INT, NOTE VARCHAR(5))",
            "INSERT INTO ACCTS VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c')",
        ],
    )
    assert setup.ok, setup.failed

    redo = {
        "t1": [
            'insert into "APP"."ACCTS"("ID","BAL","NOTE") values (\'4\',\'40\',\'d\');',
            'update "APP"."ACCTS" set "BAL" = \'15\' where "ID" = \'1\' and '
            '"BAL" = \'10\' and "NOTE" = \'a\';',
        ],
        "t2": ['delete from "APP"."ACCTS" where "ID" = \'2\' and "BAL" = \'20\' and "NOTE" = \'b\';'],
    }
    txns = [
        (xid, [s for raw in sqls for s in translate_stmt(parse_redo(raw), dialect="ansi")])
        for xid, sqls in redo.items()
    ]
    # txn boundaries live in the executor, not the statement text
    assert not any("BEGIN" in s or "COMMIT" in s for _, ss in txns for s in ss)
    res = apply_transactions(spark, sink, txns)
    assert res.ok, res.failed
    assert res.applied == ["t1", "t2"]

    def state():
        t = JdbcSource(url=url, table="ACCTS", driver=DERBY_DRIVER).load(spark)
        return {r["ID"]: (r["BAL"], r["NOTE"]) for r in t.collect()}

    assert state() == {1: (15, "a"), 3: (30, "c"), 4: (40, "d")}

    # atomicity: valid UPDATE + failing INSERT (NOTE too long) in ONE
    # txn -> neither lands
    bad = [
        (
            "t3",
            translate_stmt(
                parse_redo(
                    'update "APP"."ACCTS" set "BAL" = \'99\' where "ID" = \'3\' and '
                    '"BAL" = \'30\' and "NOTE" = \'c\';'
                ),
                dialect="ansi",
            )
            + translate_stmt(
                parse_redo(
                    'insert into "APP"."ACCTS"("ID","BAL","NOTE") '
                    "values ('5','50','way-too-long-note');"
                ),
                dialect="ansi",
            ),
        )
    ]
    res2 = apply_transactions(spark, sink, bad)
    assert res2.failed and res2.failed[0][0] == "t3"
    assert state() == {1: (15, "a"), 3: (30, "c"), 4: (40, "d")}  # rollback held


def test_apply_transactions_scn_resume_gate(spark, tmp_path):
    """Redelivered redo replays idempotently: transactions at or below
    the checkpointed SCN are skipped, new ones apply, and the returned
    high-water SCN advances the checkpoint (incr_sync_meta semantics,
    logminer.go:134-174)."""
    if not _derby_available(spark):
        pytest.skip("no embedded Derby driver on the Spark classpath")
    from transferdb_spark.modes.apply import apply_sql, apply_transactions
    from transferdb_spark.sources.jdbc import JdbcSink, JdbcSource

    url = f"jdbc:derby:{tmp_path}/scndb;create=true"
    sink = JdbcSink(url=url, table="", driver=DERBY_DRIVER)
    assert apply_sql(spark, sink, ["CREATE TABLE KV (K INT, V INT)"]).ok

    txns = [
        ("t1", ["INSERT INTO KV VALUES (1, 1)"]),
        ("t2", ["INSERT INTO KV VALUES (2, 2)"]),
    ]
    scns = {"t1": 100, "t2": 200}
    r1 = apply_transactions(spark, sink, txns, commit_scns=scns)
    assert r1.applied == ["t1", "t2"] and r1.high_scn == 200

    # full redelivery + one new txn: only the new one applies
    txns2 = txns + [("t3", ["INSERT INTO KV VALUES (3, 3)"])]
    r2 = apply_transactions(
        spark, sink, txns2, commit_scns={**scns, "t3": 300}, resume_scn=r1.high_scn
    )
    assert r2.skipped == ["t1", "t2"] and r2.applied == ["t3"]
    assert r2.high_scn == 300

    t = JdbcSource(url=url, table="KV", driver=DERBY_DRIVER).load(spark)
    assert sorted(r["K"] for r in t.collect()) == [1, 2, 3]  # no duplicates


def test_redo_apply_stream_end_to_end_with_scn_checkpoint(spark, tmp_path):
    """The reference's full `all` loop against LIVE Derby: a JSON
    redo feed streams through parse -> txn group -> ANSI translate ->
    transactional JDBC apply; the persisted SCN checkpoint makes a
    full re-delivery (fresh Spark checkpoint, same feed) idempotent
    while new transactions still apply."""
    if not _derby_available(spark):
        pytest.skip("no embedded Derby driver on the Spark classpath")
    import json as _json
    import os

    from transferdb_spark.modes.apply import apply_sql
    from transferdb_spark.sources.jdbc import JdbcSink, JdbcSource
    from transferdb_spark.streaming.live_apply import (
        read_scn_checkpoint,
        run_redo_apply_stream,
    )

    url = f"jdbc:derby:{tmp_path}/livedb;create=true"
    sink = JdbcSink(url=url, table="", driver=DERBY_DRIVER)
    assert apply_sql(spark, sink, ["CREATE TABLE T (ID INT, V INT)"]).ok

    feed = tmp_path / "feed"
    feed.mkdir()
    scn_path = str(tmp_path / "scn.json")

    def drop(name, rows):
        with open(feed / name, "w") as f:
            for scn, xid, sql in rows:
                f.write(_json.dumps({"scn": scn, "xid": xid, "sql_redo": sql}) + "\n")

    drop(
        "log1.json",
        [
            (2, "t1", 'insert into "APP"."T"("ID","V") values (\'1\',\'10\');'),
            (3, "t1", 'insert into "APP"."T"("ID","V") values (\'2\',\'20\');'),
            (5, "t2", 'insert into "APP"."T"("ID","V") values (\'3\',\'30\');'),
            (6, "t2", 'update "APP"."T" set "V" = \'35\' where "ID" = \'3\' and "V" = \'30\';'),
        ],
    )

    def run(ck):
        q = run_redo_apply_stream(
            spark, str(feed), str(tmp_path / ck), sink, scn_path, target_schema="APP"
        )
        q.awaitTermination()

    run("ck1")
    tgt = JdbcSource(url=url, table="T", driver=DERBY_DRIVER)

    def state():
        return {r["ID"]: r["V"] for r in tgt.load(spark).collect()}

    assert state() == {1: 10, 2: 20, 3: 35}
    assert read_scn_checkpoint(scn_path) == 6

    # FULL redelivery (fresh Spark checkpoint) + one new log drop:
    # t1/t2 are SCN-gated out, only t3 applies — no duplicate rows
    drop("log2.json", [(8, "t3", 'delete from "APP"."T" where "ID" = \'2\' and "V" = \'20\';')])
    run("ck2")
    assert state() == {1: 10, 3: 35}
    assert read_scn_checkpoint(scn_path) == 8
    assert os.path.exists(scn_path)


def test_redo_apply_stream_halts_at_first_failure_and_replays(spark, tmp_path):
    """on_error='halt' (the stream default) must stop at the FIRST
    failed transaction: nothing after it may run, the error is logged,
    and the checkpoint holds just below it. Once the cause is fixed,
    replaying the held batch applies the rest exactly once."""
    if not _derby_available(spark):
        pytest.skip("no embedded Derby driver on the Spark classpath")
    import json as _json

    from transferdb_spark.modes.apply import apply_sql
    from transferdb_spark.sources.jdbc import JdbcSink, JdbcSource
    from transferdb_spark.streaming.live_apply import (
        read_scn_checkpoint,
        run_redo_apply_stream,
    )

    url = f"jdbc:derby:{tmp_path}/haltdb;create=true"
    sink = JdbcSink(url=url, table="", driver=DERBY_DRIVER)
    assert apply_sql(
        spark, sink, ["CREATE TABLE T (ID INT, V INT)", "CREATE TABLE Z (ID INT)"]
    ).ok

    feed = tmp_path / "feed"
    feed.mkdir()
    with open(feed / "log1.json", "w") as f:
        for scn, xid, sql in [
            (2, "t1", 'insert into "APP"."T"("ID","V") values (\'1\',\'10\');'),
            (4, "t2", 'insert into "APP"."M"("ID") values (\'7\');'),
            (6, "t3", 'drop table "APP"."Z";'),
        ]:
            f.write(_json.dumps({"scn": scn, "xid": xid, "sql_redo": sql}) + "\n")
    scn_path = str(tmp_path / "scn.json")

    def run():
        return run_redo_apply_stream(
            spark, str(feed), str(tmp_path / "ck"), sink, scn_path, target_schema="APP"
        )

    q = run()
    with pytest.raises(Exception, match="redo apply failed"):
        q.awaitTermination(180)
        raise RuntimeError(q.exception() or "query did not fail")
    with open(scn_path + ".errors.jsonl") as fh:
        assert [_json.loads(line)["xid"] for line in fh] == ["t2"]
    assert read_scn_checkpoint(scn_path) == 2

    # fix the cause; the held batch replays from the same checkpoint
    assert apply_sql(spark, sink, ["CREATE TABLE M (ID INT)"]).ok
    q = run()
    q.awaitTermination(180)
    assert q.exception() is None
    assert read_scn_checkpoint(scn_path) == 6

    def rows(table):
        src = JdbcSource(url=url, table=table, driver=DERBY_DRIVER)
        return sorted(tuple(r) for r in src.load(spark).collect())

    assert rows("T") == [(1, 10)] and rows("M") == [(7,)]
    # t3 ran exactly once: Z is gone, so it can be created again
    assert apply_sql(spark, sink, ["CREATE TABLE Z (ID INT)"]).ok


def test_cli_check_against_live_target(spark, sf_dir, tmp_path):
    """CLI surface of the live loop, run ENTIRELY in subprocesses
    (embedded Derby is single-JVM — the CLI cannot share the test
    session's database): reverse --apply creates the schema, a helper
    introduces drift, check --jdbc-url --apply repairs it, and a
    second check reports clean."""
    if not _derby_available(spark):
        pytest.skip("no embedded Derby driver on the Spark classpath")
    import json as _json
    import subprocess
    import sys

    url = f"jdbc:derby:{tmp_path}/clidb;create=true"
    wk = str(tmp_path / "wk")

    def run(args_list):
        r = subprocess.run(
            [sys.executable, *args_list], capture_output=True, text=True, timeout=600
        )
        assert r.returncode == 0, (r.stdout[-1000:], r.stderr[-2000:])
        return r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""

    base = ["-m", "transferdb_spark", "--source-dir", sf_dir, "--workdir", wk,
            "--tables", "region,nation", "--jdbc-url", url, "--jdbc-driver", DERBY_DRIVER]
    # 1. create the live schema through the CLI
    rev = _json.loads(run(base + ["--mode", "reverse", "--dialect", "ansi", "--apply"]))
    assert rev["applied"] >= 1 and not rev["apply_failed"]

    # 2. drift: drop a column AND flip a nullability (own JVM,
    #    releases the db on exit) — the second check passing requires
    #    the ANSI ALTER COLUMN [NOT] NULL fix, not just ADD COLUMN
    run(["-c", (
        "from transferdb_spark.session import get_spark\n"
        "from transferdb_spark.modes.apply import apply_sql\n"
        "from transferdb_spark.sources.jdbc import JdbcSink\n"
        f"s = get_spark('drift'); sink = JdbcSink(url={url!r}, table='', driver={DERBY_DRIVER!r})\n"
        "r = apply_sql(s, sink, ['ALTER TABLE REGION DROP COLUMN R_NAME',\n"
        "                        'ALTER TABLE NATION ALTER COLUMN N_NAME NOT NULL'])\n"
        "assert r.ok, r.failed\n"
    )])

    # 3. check + apply the fix-SQL, then 4. re-check clean
    first = _json.loads(run(base + ["--mode", "check", "--apply"]))
    assert first["clean"] is False and first["fix_statements"] >= 1
    assert first["applied"] >= 1 and not first["apply_failed"]

    second = _json.loads(run(base + ["--mode", "check"]))
    assert second["clean"] is True and second["fix_statements"] == 0


def test_full_migrate_jdbc_with_chunk_resume(spark, sf_dir, tmp_path):
    """Live `full` mode: chunked migration into Derby; a resumed run
    deletes only the PENDING chunks' ranges (cleaning partial rows)
    and never touches SUCCESS chunks — the reference's rerun-failed
    contract against a real target."""
    if not _derby_available(spark):
        pytest.skip("no embedded Derby driver on the Spark classpath")
    from transferdb_spark.catalog.fixture import fixture_catalog
    from transferdb_spark.modes.apply import apply_reverse_ddl, apply_sql
    from transferdb_spark.modes.full import full_migrate_table_jdbc
    from transferdb_spark.sources.jdbc import JdbcSink, JdbcSource
    from transferdb_spark.sources.registry import load_table
    from transferdb_spark.state.store import FAILED, StateStore

    url = f"jdbc:derby:{tmp_path}/fulldb;create=true"
    sink = JdbcSink(url=url, table="", driver=DERBY_DRIVER)
    cat = fixture_catalog(spark, sf_dir)
    assert apply_reverse_ddl(spark, sink, {"part": cat["part"]}).ok

    part = load_table(spark, sf_dir, "part")
    n_src = part.count()
    r1 = full_migrate_table_jdbc(
        spark, part, "part", sink, str(tmp_path / "wk"), n_chunks=4, key="p_partkey"
    )
    assert r1["written"] == n_src and r1["chunks"] == 4 and not r1["resumed"]

    tgt = JdbcSource(url=url, table="PART", driver=DERBY_DRIVER)
    assert tgt.load(spark).count() == n_src

    # simulate a crashed chunk: mark chunk 1 FAILED, corrupt its range
    # (drop half its rows + mutate one) and plant a sentinel change in
    # a SUCCESS chunk's range that resume must NOT undo
    store = StateStore(str(tmp_path / "wk"), "full_jdbc")
    store.mark("part", 1, FAILED, "simulated crash")
    c1 = store.pending("part")[0]
    assert c1.chunk_id == 1
    mid = (c1.lower + c1.upper) // 2
    lo = part.agg({"p_partkey": "min"}).first()[0]
    dmg = apply_sql(
        spark,
        sink,
        [
            # partial-write damage strictly inside the FAILED chunk
            f"DELETE FROM PART WHERE P_PARTKEY >= {c1.lower} AND P_PARTKEY < {mid}",
            f"UPDATE PART SET P_RETAILPRICE = -1 WHERE P_PARTKEY = {lo}",  # SUCCESS chunk
        ],
    )
    assert dmg.ok, dmg.failed

    r2 = full_migrate_table_jdbc(
        spark, part, "part", sink, str(tmp_path / "wk"), n_chunks=4, key="p_partkey"
    )
    assert r2["resumed"] and r2["chunks"] == 1

    live = tgt.load(spark)
    assert live.count() == n_src
    # failed chunk repaired exactly; sentinel in the SUCCESS chunk survives
    assert live.filter("P_RETAILPRICE = -1").count() == 1
    assert live.groupBy("P_PARTKEY").count().filter("count > 1").count() == 0


def test_cli_compare_apply_repairs_live_target(spark, sf_dir, tmp_path):
    """CLI compare --apply end-to-end against Derby: the corrupted
    live table receives ANSI-dialect fix SQL (no DELETE..LIMIT, no
    backslash doubling) and afterwards matches the source as a
    multiset — the round-5 verdict's compare->fix->re-compare loop,
    exercised through the CLI surface where the dialect threading
    lives."""
    if not _derby_available(spark):
        pytest.skip("no embedded Derby driver on the Spark classpath")
    import json as _json
    import subprocess
    import sys

    url = f"jdbc:derby:{tmp_path}/cmpdb;create=true"
    wk = str(tmp_path / "wk")

    def run(args_list):
        r = subprocess.run(
            [sys.executable, *args_list], capture_output=True, text=True, timeout=600
        )
        assert r.returncode == 0, (r.stdout[-1000:], r.stderr[-2000:])
        return r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""

    base = ["-m", "transferdb_spark", "--source-dir", sf_dir, "--workdir", wk,
            "--jdbc-url", url, "--jdbc-driver", DERBY_DRIVER]

    # 1. seed Derby LINEITEM with the MUTATED fixture (the compare
    #    CLI's default target is the same deterministic mutation, so
    #    the file diff mirrors the live table's damage). Spark creates
    #    the table unconstrained — the fixture's duplicate-PK rows
    #    (see memory: fixture quirks) forbid the reverse DDL's PK here.
    run(["-c", (
        "from transferdb_spark.session import get_spark\n"
        "from transferdb_spark.sources.registry import load_table\n"
        "from transferdb_spark.operators.compare_fixture import mutated_target\n"
        f"s = get_spark('seed'); src = load_table(s, {sf_dir!r}, 'lineitem')\n"
        "tgt = mutated_target(src)\n"
        "up = tgt.toDF(*[c.upper() for c in tgt.columns])\n"
        "# Spark's default Derby mapping makes strings CLOB, which\n"
        "# Derby cannot compare to literals — force VARCHAR\n"
        "vc = ', '.join(f'{c.upper()} VARCHAR(256)' for c, t in tgt.dtypes if t == 'string')\n"
        f"up.write.mode('overwrite').format('jdbc').option('url', {url!r})"
        f".option('dbtable', 'LINEITEM').option('driver', {DERBY_DRIVER!r})"
        ".option('createTableColumnTypes', vc).save()\n"
    )])

    # 2. compare + apply the ANSI fix SQL to the live target
    first = _json.loads(run(base + ["--mode", "compare", "--apply"]))
    assert first["equal"] is False
    assert first["applied"] == first["insert_rows"] + first["delete_rows"]
    assert not first["apply_failed"], first
    # the emitted file must be ANSI: no MySQL LIMIT tail on deletes
    fix_text = open(first["fix_sql"]).read()
    assert "LIMIT 1" not in fix_text

    # 3. the repaired live table equals the source as a multiset
    run(["-c", (
        "from transferdb_spark.session import get_spark\n"
        "from transferdb_spark.sources.registry import load_table\n"
        f"s = get_spark('verify')\n"
        f"live = (s.read.format('jdbc').option('url', {url!r})"
        f".option('dbtable', 'LINEITEM').option('driver', {DERBY_DRIVER!r}).load())\n"
        f"src = load_table(s, {sf_dir!r}, 'lineitem')\n"
        "live = live.toDF(*[c.lower() for c in live.columns])\n"
        "live = live.select([live[c].cast(dict(src.dtypes)[c]) for c in src.columns])\n"
        "a = live.exceptAll(src).count(); b = src.exceptAll(live).count()\n"
        "assert a == 0 and b == 0, (a, b)\n"
    )])
