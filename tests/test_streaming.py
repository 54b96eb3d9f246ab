"""Structured Streaming tests for the `all` mode (T1-T6 semantics)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from transferdb_spark.sources.registry import load_table

    return load_table(spark, sf_dir, "events").drop("props")


@pytest.fixture()
def source_dir(tmp_path, events):
    """Seed a streaming source directory with one 'redo log' file."""
    d = str(tmp_path / "source")
    events.coalesce(1).write.mode("overwrite").parquet(d)
    return d


def test_rollup_stream_matches_batch(spark, tmp_path, source_dir, events):
    from transferdb_spark.streaming.incr import (
        hourly_rollup_stream,
        run_available,
        stream_events,
    )

    q = run_available(
        hourly_rollup_stream(stream_events(spark, source_dir)),
        str(tmp_path / "ckpt"),
        "t_rollup",
        output_mode="complete",
    )
    q.awaitTermination(120)
    got = {
        (r["hour"], r["event_type"]): r["cnt"]
        for r in spark.sql("SELECT * FROM t_rollup").collect()
    }
    expected = {
        (r["hour"], r["event_type"]): r["cnt"]
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == expected


def test_cdc_apply_exactly_once(spark, tmp_path, source_dir, events):
    from transferdb_spark.streaming.incr import apply_cdc_stream, stream_events

    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "cdc_ckpt")

    q = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(target).count()
    assert n1 == events.count()

    # re-run with the same checkpoint: no new offsets -> no duplicates
    q2 = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(target).count() == n1


def test_cdc_apply_dedupes_redelivered_records(spark, tmp_path, source_dir, events):
    """Re-read redo (the reference's ≥/> SCN dance) must be a no-op."""
    from transferdb_spark.streaming.incr import apply_cdc_stream, stream_events

    target = str(tmp_path / "target2")
    ckpt = str(tmp_path / "cdc_ckpt2")
    q = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt)
    q.awaitTermination(120)

    # drop a second log file that re-delivers old events + 10 new ones
    redelivered = events.limit(50)
    new = events.limit(10).withColumn("event_id", F.col("event_id") + 1_000_000)
    redelivered.unionByName(new).coalesce(1).write.mode("append").parquet(source_dir)

    q2 = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt)
    q2.awaitTermination(120)
    total = spark.read.parquet(target)
    assert total.count() == events.count() + 10  # old rows not duplicated
    assert total.select("event_id").distinct().count() == total.count()


def test_cdc_apply_upsert_and_no_target_rescan(spark, tmp_path, source_dir, events):
    """The apply must (a) never read the target — per-batch IO is
    O(batch), not O(target) — and (b) land updates for already-applied
    business keys, which the old full-target anti-join silently dropped."""
    import inspect

    from transferdb_spark.streaming import incr
    from transferdb_spark.streaming.incr import (
        apply_cdc_stream,
        cdc_current_state,
        stream_events,
    )

    # plan/IO guard: the batch function must not scan the target
    src = inspect.getsource(incr.apply_cdc_stream)
    assert "spark.read" not in src and "left_anti" not in src

    target = str(tmp_path / "target3")
    ckpt = str(tmp_path / "cdc_ckpt3")
    q = apply_cdc_stream(
        stream_events(spark, source_dir), target, ckpt, key="user_id"
    )
    q.awaitTermination(120)
    state1 = cdc_current_state(spark, target, key="user_id")
    n_users = state1.count()
    u0 = state1.orderBy("user_id").first()

    # a later record for an existing user = an UPDATE: higher SCN, new value
    upd = (
        events.filter(F.col("user_id") == u0["user_id"])
        .limit(1)
        .withColumn("event_id", F.lit(5_000_000).cast(events.schema["event_id"].dataType))
        .withColumn("value", F.lit(123456.789))
    )
    upd.coalesce(1).write.mode("append").parquet(source_dir)
    q2 = apply_cdc_stream(
        stream_events(spark, source_dir), target, ckpt, key="user_id"
    )
    q2.awaitTermination(120)

    state2 = cdc_current_state(spark, target, key="user_id")
    assert state2.count() == n_users  # upsert, not insert
    got = state2.filter(F.col("user_id") == u0["user_id"]).first()
    assert got["value"] == 123456.789 and got["event_id"] == 5_000_000


def test_redo_parser_roundtrip():
    """T5 — LogMiner redo text → structured stmt → MySQL translation
    (reference sqlparser.go:34-189 + translate.go:149-334)."""
    from transferdb_spark.streaming.redo import parse_redo, translate_stmt

    ins = parse_redo(
        """insert into "MARVIN"."T1"("ID","NAME","TS") values ('1','it''s ok',TO_DATE('2024-01-02 03:04:05', 'YYYY-MM-DD HH24:MI:SS'));"""
    )
    assert (ins.operation, ins.schema, ins.table) == ("INSERT", "MARVIN", "T1")
    assert ins.data == {"ID": "1", "NAME": "it's ok", "TS": "2024-01-02 03:04:05"}
    assert translate_stmt(ins) == [
        "REPLACE INTO `marvin`.`t1` (`id`, `name`, `ts`) VALUES (1, 'it''s ok', '2024-01-02 03:04:05');"
    ]

    upd = parse_redo(
        """update "MARVIN"."T1" set "NAME" = 'x', "V" = NULL where "ID" = '1' and "NAME" = 'old' and "V" IS NULL;"""
    )
    assert upd.operation == "UPDATE"
    assert upd.data == {"NAME": "x", "V": None}
    assert upd.before == {"ID": "1", "NAME": "old", "V": None}
    sqls = translate_stmt(upd)
    assert sqls[0] == "BEGIN;" and sqls[-1] == "COMMIT;"
    assert "DELETE FROM `marvin`.`t1` WHERE `id` = 1 AND `name` = 'old' AND `v` IS NULL;" in sqls
    assert "REPLACE INTO `marvin`.`t1` (`id`, `name`, `v`) VALUES (1, 'x', NULL);" in sqls

    dele = parse_redo("""delete from "MARVIN"."T1" where "ID" = '7';""")
    assert dele.operation == "DELETE" and dele.before == {"ID": "7"}
    assert translate_stmt(dele) == ["DELETE FROM `marvin`.`t1` WHERE `id` = 7;"]

    trunc = parse_redo('truncate table "MARVIN"."T1"')
    assert trunc.operation == "TRUNCATE"
    assert translate_stmt(trunc) == ["TRUNCATE TABLE `marvin`.`t1`;"]
    drop = parse_redo('drop table "MARVIN"."T1"')
    assert translate_stmt(drop) == ["DROP TABLE `marvin`.`t1`;"]


def test_redo_stream_to_changes_distributed(spark):
    """Executor-side parse: change rows come back typed, bad statements
    are quarantined as ERROR rows, and the apply path can fold the
    change log into a final state."""
    from transferdb_spark.streaming.redo import redo_stream_to_changes

    redo = [
        (100, """insert into "M"."ACC"("ID","BAL") values ('1','10');"""),
        (101, """insert into "M"."ACC"("ID","BAL") values ('2','20');"""),
        (102, """update "M"."ACC" set "BAL" = '15' where "ID" = '1' and "BAL" = '10';"""),
        (103, """delete from "M"."ACC" where "ID" = '2' and "BAL" = '20';"""),
        (104, "garbage not sql"),
    ]
    df = spark.createDataFrame(redo, "scn long, sql_redo string")
    changes = redo_stream_to_changes(df).collect()
    by_scn = {r["scn"]: r for r in changes}
    assert by_scn[100]["operation"] == "INSERT"
    assert by_scn[102]["operation"] == "UPDATE"
    assert by_scn[104]["operation"] == "ERROR"  # quarantined, not raised

    # fold the change log into final state (latest-wins apply semantics)
    import json as j

    state: dict[str, dict] = {}
    for r in sorted((r for r in changes if r["operation"] != "ERROR"), key=lambda r: r["scn"]):
        data, before = j.loads(r["data_json"]), j.loads(r["before_json"])
        if r["operation"] == "INSERT":
            state[data["ID"]] = data
        elif r["operation"] == "UPDATE":
            state[before["ID"]] = {**before, **data}
        elif r["operation"] == "DELETE":
            state.pop(before["ID"], None)
    assert state == {"1": {"ID": "1", "BAL": "15"}}


def test_dedup_stream_drops_redelivered(spark, tmp_path, events):
    """Events delivered twice across micro-batches survive exactly once."""
    from transferdb_spark.streaming.incr import dedup_stream, run_available, stream_events

    src = str(tmp_path / "dup_src")
    half = events.filter("event_id < 500")
    half.coalesce(1).write.mode("overwrite").parquet(src)
    # redeliver the same records (new file, same keys) + fresh ones
    half.coalesce(1).write.mode("append").parquet(src)
    events.filter("event_id >= 500 AND event_id < 600").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = stream_events(spark, src, max_files_per_trigger=1)
    q = run_available(dedup_stream(stream, ["event_id"]), str(tmp_path / "ck_dedup"), "t_dedup")
    q.awaitTermination(180)
    got = spark.sql("SELECT event_id, COUNT(*) c FROM t_dedup GROUP BY 1 HAVING c > 1")
    assert got.count() == 0
    assert spark.sql("SELECT COUNT(*) c FROM t_dedup").collect()[0]["c"] == 600


def test_attribution_join_matches_batch(spark, tmp_path, events):
    """Stream-stream range join equals the batch join over the same data."""
    from transferdb_spark.streaming.incr import (
        attribution_join_stream,
        run_available,
        stream_events,
    )

    clicks_dir = str(tmp_path / "clicks")
    purch_dir = str(tmp_path / "purchases")
    clicks = events.filter("event_type = 'click'")
    purchases = events.filter("event_type = 'purchase'")
    clicks.coalesce(1).write.mode("overwrite").parquet(clicks_dir)
    purchases.coalesce(1).write.mode("overwrite").parquet(purch_dir)

    joined = attribution_join_stream(
        stream_events(spark, clicks_dir), stream_events(spark, purch_dir)
    )
    q = run_available(joined, str(tmp_path / "ck_attr"), "t_attr")
    q.awaitTermination(180)

    got = spark.sql("SELECT click_id, purchase_id FROM t_attr")
    expected = (
        clicks.alias("c")
        .join(
            purchases.alias("p"),
            (F.col("c.user_id") == F.col("p.user_id"))
            & (F.col("p.ts") >= F.col("c.ts"))
            & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 1 hour")),
        )
        .select(
            F.col("c.event_id").alias("click_id"),
            F.col("p.event_id").alias("purchase_id"),
        )
    )
    assert expected.count() > 0
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_cdc_log_compaction(spark, tmp_path, source_dir, events):
    """Compaction keeps the current state bit-identical while cutting
    the log to one snapshot dir — read cost tracks live keys, not
    history — and later batches still apply on top."""
    from transferdb_spark.streaming.incr import (
        apply_cdc_stream,
        cdc_current_state,
        compact_cdc_log,
        stream_events,
    )

    target = str(tmp_path / "target_c")
    ckpt = str(tmp_path / "ckpt_c")
    q = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt, key="user_id")
    q.awaitTermination(120)

    # second log drop -> second batch dir (history grows)
    upd = events.limit(20).withColumn("event_id", F.col("event_id") + 2_000_000)
    upd.coalesce(1).write.mode("append").parquet(source_dir)
    q2 = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt, key="user_id")
    q2.awaitTermination(120)

    before = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in cdc_current_state(spark, target, key="user_id").collect()
    }
    n_dirs_before = len([d for d in os.listdir(target) if d.startswith("batch_id=")])
    assert n_dirs_before >= 2

    stats = compact_cdc_log(spark, target, key="user_id")
    assert stats["dirs_removed"] == n_dirs_before
    assert stats["live_rows"] == len(before)

    dirs_after = [d for d in os.listdir(target) if d.startswith("batch_id=")]
    assert len(dirs_after) == 1  # O(live keys) layout
    after = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in cdc_current_state(spark, target, key="user_id").collect()
    }
    assert after == before

    # post-compaction: a newer change still wins over the snapshot
    u0 = sorted(before)[0]
    newer = (
        events.filter(F.col("user_id") == u0)
        .limit(1)
        .withColumn("event_id", F.lit(9_000_000).cast(events.schema["event_id"].dataType))
        .withColumn("value", F.lit(42.0))
    )
    newer.coalesce(1).write.mode("append").parquet(source_dir)
    q3 = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt, key="user_id")
    q3.awaitTermination(120)
    got = cdc_current_state(spark, target, key="user_id").filter(F.col("user_id") == u0).first()
    assert got["event_id"] == 9_000_000 and got["value"] == 42.0


def test_cdc_compaction_settles_a_swap_cut_short(spark, tmp_path, source_dir, events, monkeypatch):
    """A crash after the batch dirs are renamed aside but before the
    snapshot is renamed in: the next compaction renames them back and
    compacts. A crash after the snapshot is in: the next call deletes
    the aside leftovers. The current state never changes."""
    from transferdb_spark.streaming.incr import apply_cdc_stream, cdc_current_state, compact_cdc_log, stream_events

    target, ckpt = str(tmp_path / "target_s"), str(tmp_path / "ckpt_s")
    apply_cdc_stream(stream_events(spark, source_dir), target, ckpt, key="user_id").awaitTermination(120)
    events.limit(20).withColumn("event_id", F.col("event_id") + 2_000_000).coalesce(1).write.mode(
        "append"
    ).parquet(source_dir)
    apply_cdc_stream(stream_events(spark, source_dir), target, ckpt, key="user_id").awaitTermination(120)

    def state():
        return sorted(tuple(r) for r in cdc_current_state(spark, target, key="user_id").collect())

    before = state()
    n_dirs = len([d for d in os.listdir(target) if d.startswith("batch_id=")])
    assert n_dirs >= 2

    real_rename = os.rename

    def rename(src, dst):
        if src.endswith("_compact_tmp"):
            raise OSError("crash mid-swap")
        real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", rename)
        with pytest.raises(OSError):
            compact_cdc_log(spark, target, key="user_id")
    assert not any(d.startswith("batch_id=") for d in os.listdir(target))

    stats = compact_cdc_log(spark, target, key="user_id")
    assert stats == {"live_rows": len(before), "dirs_removed": n_dirs}
    assert state() == before

    # a crash while the aside dirs are deleted leaves leftovers to drop
    events.limit(5).withColumn("event_id", F.col("event_id") + 3_000_000).coalesce(1).write.mode(
        "append"
    ).parquet(source_dir)
    apply_cdc_stream(stream_events(spark, source_dir), target, ckpt, key="user_id").awaitTermination(120)
    before = state()
    import shutil

    real_rmtree = shutil.rmtree

    def rmtree(path, *args, **kwargs):
        if os.path.basename(path).startswith("_old_"):
            raise OSError("crash mid-cleanup")
        real_rmtree(path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(shutil, "rmtree", rmtree)
        with pytest.raises(OSError):
            compact_cdc_log(spark, target, key="user_id")
    assert compact_cdc_log(spark, target, key="user_id")["dirs_removed"] == 0
    assert not any(d.startswith("_old_") for d in os.listdir(target))
    assert state() == before


def test_cdc_gate_survives_crash_mid_write(spark, tmp_path, source_dir, events, monkeypatch):
    """A crash while the SCN gate is being rewritten must leave the
    previous gate readable: the restarted stream replays the batch and
    the landed state is latest-wins over every drop."""
    import json

    from pyspark.sql.window import Window

    from transferdb_spark.streaming.incr import (
        apply_cdc_stream,
        cdc_current_state,
        stream_events,
    )

    target = str(tmp_path / "target_g")
    ckpt = str(tmp_path / "ckpt_g")
    q = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt, key="user_id")
    q.awaitTermination(120)

    upd = events.limit(20).withColumn("event_id", F.col("event_id") + 2_000_000)
    upd.coalesce(1).write.mode("append").parquet(source_dir)

    real_dump = json.dump

    def torn_dump(obj, fh, *args, **kwargs):
        if "scn_gate.json" in getattr(fh, "name", ""):
            fh.write('{"max_scn": ')
            raise OSError("disk full")
        return real_dump(obj, fh, *args, **kwargs)

    monkeypatch.setattr(json, "dump", torn_dump)
    q2 = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt, key="user_id")
    with pytest.raises(Exception):
        q2.awaitTermination(120)
    monkeypatch.setattr(json, "dump", real_dump)

    q3 = apply_cdc_stream(stream_events(spark, source_dir), target, ckpt, key="user_id")
    q3.awaitTermination(120)
    assert q3.exception() is None

    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"), F.desc("ts"))
    expected = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in events.unionByName(upd)
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .collect()
    }
    got = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in cdc_current_state(spark, target, key="user_id").collect()
    }
    assert got == expected
    assert any(eid >= 2_000_000 for eid, _ in got.values())


def test_cdc_batch_reads_its_input_once(spark, tmp_path, source_dir, events):
    """Tripwire: one CDC micro-batch runs at most two jobs — the write
    (its max SCN observed in the same pass) and nothing that re-reads
    the batch. A separate max-SCN aggregation doubles the jobs and the
    source rows each batch reads."""
    from transferdb_spark.streaming.incr import apply_cdc_stream, stream_events

    events.limit(30).withColumn("event_id", F.col("event_id") + 3_000_000).coalesce(
        1
    ).write.mode("append").parquet(source_dir)
    q = apply_cdc_stream(
        stream_events(spark, source_dir, max_files_per_trigger=1),
        str(tmp_path / "target_j"),
        str(tmp_path / "ckpt_j"),
    )
    q.awaitTermination(120)
    assert q.exception() is None
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(batches) >= 2
    assert sum(p.numInputRows for p in batches) == events.count() + 30
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert 0 < len(jobs) <= 2 * len(batches), (len(jobs), len(batches))


def test_package_starts_every_stream_through_run_available():
    """One stream harness: the package's only writeStream is in
    run_available; readStream appears only in stream_events (parquet
    feeds) and in the fixed-schema JSON redo feed of live_apply."""
    import ast
    import glob

    root = os.path.join(os.path.dirname(__file__), "..", "transferdb_spark")
    sites: dict[str, list] = {"readStream": [], "writeStream": []}
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in tree.body:
            for n in ast.walk(node):
                if isinstance(n, ast.Attribute) and n.attr in sites:
                    owner = getattr(node, "name", "<module>")
                    sites[n.attr].append((os.path.basename(path), owner))
    assert sites["writeStream"] == [("incr.py", "run_available")]
    assert sorted(sites["readStream"]) == [
        ("incr.py", "stream_events"),
        ("live_apply.py", "run_redo_apply_stream"),
    ]


def test_redo_grammar_breadth():
    """CHR()/UNISTR()/EMPTY_CLOB()/|| concatenation and ALTER TABLE —
    the LogMiner literal forms beyond the plain restricted grammar."""
    from transferdb_spark.streaming.redo import parse_redo, translate_stmt

    st = parse_redo(
        """insert into "S"."T"("ID","TXT","NC","LOB") values """
        """('7', 'a' || CHR(10) || 'b', UNISTR('\\4E2D\\6587'), EMPTY_CLOB());"""
    )
    assert st.data == {"ID": "7", "TXT": "a\nb", "NC": "中文", "LOB": ""}

    upd = parse_redo(
        """update "S"."T" set "TXT" = 'x' || CHR(9) || 'y' where "ID" = '7' and "NC" IS NULL;"""
    )
    assert upd.data["TXT"] == "x\ty"
    assert upd.before == {"ID": "7", "NC": None}

    alt = parse_redo("""alter table "S"."T" add ("C2" number(10));""")
    assert (alt.operation, alt.schema, alt.table) == ("ALTER", "S", "T")
    out = translate_stmt(alt, target_schema="tgt")
    assert out == ['ALTER TABLE `tgt`.`t` add ("C2" number(10));']

    sci = parse_redo("""insert into "S"."T"("V") values (1.5E-3);""")
    assert sci.data == {"V": "1.5E-3"}


def test_redo_log_election_by_scn():
    """Archived-vs-online election (incr.go:507-548): logs whose SCN
    range extends past the checkpoint are mined; a checkpoint older
    than the oldest retained log is a hard error."""
    import pytest as _pytest

    from transferdb_spark.streaming.redo import LogFile, elect_logs

    arch1 = LogFile("arch1.log", 100, 200)
    arch2 = LogFile("arch2.log", 200, 300)
    online = LogFile("online.log", 300, None)

    # checkpoint mid-arch2: skip arch1, mine arch2 + online
    assert elect_logs([online, arch1, arch2], 250) == [arch2, online]
    # checkpoint at the online log: mine only it
    assert elect_logs([arch1, arch2, online], 350) == [online]
    # checkpoint exactly at a boundary: next_scn is exclusive
    assert elect_logs([arch1, arch2, online], 200) == [arch2, online]
    # checkpoint predating retention: hard error, not silent skip
    with _pytest.raises(ValueError, match="aged out"):
        elect_logs([arch2, online], 50)


def test_redo_insert_all_expands_per_into_clause():
    """Multi-table INSERT ALL yields one INSERT per INTO clause; the
    trailing SELECT row-source is consumed, not parsed as data."""
    from transferdb_spark.streaming.redo import parse_redo_multi, translate_stmt

    stmts = parse_redo_multi(
        """insert all
             into "S"."T1"("ID","V") values (1, 'a')
             into "S"."T2"("ID") values (2)
           select * from dual;"""
    )
    assert [(s.operation, s.table) for s in stmts] == [("INSERT", "T1"), ("INSERT", "T2")]
    assert stmts[0].data == {"ID": "1", "V": "a"}
    assert stmts[1].data == {"ID": "2"}
    assert translate_stmt(stmts[1]) == ["REPLACE INTO `s`.`t2` (`id`) VALUES (2);"]


def test_redo_lob_write_piecing_roundtrip():
    """DBMS_LOB.WRITE blocks parse into LOB_WRITE changes; replaying an
    SCN-ordered piece sequence reconstructs the value; TRIM truncates;
    the MySQL translation splices at the same offset."""
    from transferdb_spark.streaming.redo import (
        assemble_lob_pieces,
        parse_redo,
        translate_stmt,
    )

    block1 = (
        'declare loc_c clob; buf_c varchar2(32767);\n'
        'begin\n'
        '  select "DOC" into loc_c from "S"."T" where "ID" = 7 for update;\n'
        "  buf_c := 'hello ';\n"
        '  dbms_lob.write(loc_c, 6, 1, buf_c);\n'
        'end;'
    )
    block2 = (
        'declare loc_c clob; buf_c varchar2(32767);\n'
        'begin\n'
        '  select "DOC" into loc_c from "S"."T" where "ID" = 7 for update;\n'
        "  buf_c := 'wor' || CHR(108) || 'd';\n"
        '  dbms_lob.write(loc_c, 5, 7, buf_c);\n'
        'end;'
    )
    trim = (
        'declare loc_c clob;\n'
        'begin\n'
        '  select "DOC" into loc_c from "S"."T" where "ID" = 7 for update;\n'
        '  dbms_lob.trim(loc_c, 8);\n'
        'end;'
    )
    p1, p2, p3 = parse_redo(block1), parse_redo(block2), parse_redo(trim)
    assert p1.operation == "LOB_WRITE" and p1.before == {"ID": "7"}
    assert p1.data["piece"] == "hello " and p1.data["offset"] == "1"
    assert p2.data["piece"] == "world" and p2.data["offset"] == "7"
    assert p3.operation == "LOB_TRIM" and p3.data["new_len"] == "8"
    # out-of-order delivery: (scn, stmt) pairs are sorted before replay
    assert assemble_lob_pieces([(30, p3), (10, p1), (20, p2)]) == "hello wo"
    assert translate_stmt(p2) == [
        "UPDATE `s`.`t` SET `doc` = INSERT(COALESCE(`doc`, ''), 7, 5, 'world') "
        "WHERE `id` = 7;"
    ]


def test_redo_lob_assembly_distributed(spark):
    """assemble_lob_stream reassembles per-LOB groups in SCN order."""
    from transferdb_spark.streaming.redo import assemble_lob_stream, redo_stream_to_changes

    def block(key, piece, off):
        return (
            'declare loc_c clob; buf_c varchar2(32767); begin '
            f'select "DOC" into loc_c from "S"."T" where "ID" = {key} for update; '
            f"buf_c := '{piece}'; "
            f"dbms_lob.write(loc_c, {len(piece)}, {off}, buf_c); end;"
        )

    rows = [
        (3, block(1, "ba", 3)),
        (1, block(1, "ab", 1)),
        (2, block(2, "xy", 1)),
    ]
    df = spark.createDataFrame(rows, "scn long, sql_redo string")
    out = assemble_lob_stream(redo_stream_to_changes(df))
    got = {r["key_json"]: (r["lob_value"], r["last_scn"]) for r in out.collect()}
    assert got == {'{"ID": "1"}': ("abba", 3), '{"ID": "2"}': ("xy", 2)}


def test_redo_transaction_grouping(spark):
    """Changes group into commit-SCN-ordered transactions with
    SCN-sorted change arrays."""
    from transferdb_spark.streaming.redo import group_transactions, redo_stream_to_changes

    rows = [
        (5, "tx2", 'insert into "S"."T"("ID") values (3);'),
        (2, "tx1", 'insert into "S"."T"("ID") values (1);'),
        (4, "tx1", 'update "S"."T" set "V" = 9 where "ID" = 1;'),
        (3, "tx2", 'insert into "S"."T"("ID") values (2);'),
    ]
    df = spark.createDataFrame(rows, "scn long, xid string, sql_redo string")
    changes = redo_stream_to_changes(df.select("scn", "sql_redo")).join(
        df.select("scn", "xid"), "scn"
    )
    txns = group_transactions(changes).collect()
    assert [(t["xid"], t["first_scn"], t["commit_scn"], t["n_changes"]) for t in txns] == [
        ("tx1", 2, 4, 2),
        ("tx2", 3, 5, 2),
    ]
    assert [c["scn"] for c in txns[0]["changes"]] == [2, 4]
    assert [c["operation"] for c in txns[0]["changes"]] == ["INSERT", "UPDATE"]


def test_jdbc_apply_batch_never_collects_change_payload(spark, tmp_path, monkeypatch):
    """The JDBC live-apply path must stream translated transactions via
    toLocalIterator — a regression to DataFrame.collect() (full-batch
    driver materialization) fails this test by construction."""
    from tests.test_jdbc_integration import DERBY_DRIVER, _derby_available

    if not _derby_available(spark):
        pytest.skip("no embedded Derby driver on the Spark classpath")
    from pyspark.sql import DataFrame

    from transferdb_spark.modes.apply import apply_sql
    from transferdb_spark.sources.jdbc import JdbcSink, JdbcSource
    from transferdb_spark.streaming.live_apply import apply_redo_batch

    url = f"jdbc:derby:{tmp_path}/nocollect;create=true"
    sink = JdbcSink(url=url, table="", driver=DERBY_DRIVER)
    assert apply_sql(spark, sink, ["CREATE TABLE T (ID INT, V INT)"]).ok

    rows = [
        (2, "t1", 'insert into "APP"."T"("ID","V") values (\'1\',\'10\');'),
        (4, "t2", 'update "APP"."T" set "V" = \'15\' where "ID" = \'1\' and "V" = \'10\';'),
    ]
    batch = spark.createDataFrame(rows, "scn long, xid string, sql_redo string")

    def no_collect(self):
        raise AssertionError("apply path materialized a DataFrame on the driver")

    monkeypatch.setattr(DataFrame, "collect", no_collect)
    res = apply_redo_batch(
        spark, sink, batch, str(tmp_path / "scn.json"), target_schema="APP"
    )
    monkeypatch.undo()
    assert res.applied == ["t1", "t2"] and res.high_scn == 4
    t = JdbcSource(url=url, table="T", driver=DERBY_DRIVER).load(spark)
    assert [(r["ID"], r["V"]) for r in t.collect()] == [(1, 15)]


def test_apply_result_safe_scn_contiguous_watermark():
    """safe_scn never passes the first FAILED commit SCN — the JDBC
    checkpoint twin of the distributed contiguous-success watermark."""
    from transferdb_spark.modes.apply import ApplyResult

    r = ApplyResult(applied=["t1", "t3"], high_scn=9,
                    failed=[("t2", "boom")], failed_scns=[5])
    assert r.safe_scn == 4
    ok = ApplyResult(applied=["t1"], high_scn=7)
    assert ok.safe_scn == 7
    only_fail = ApplyResult(failed=[("t1", "boom")], failed_scns=[3])
    assert only_fail.safe_scn == -1  # nothing applied -> no advance


def test_stream_stream_attribution_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream INNER join with an event-time interval (the one
    Structured Streaming join shape the engine had not exercised):
    clicks and purchases watermarked on their own event time, joined
    on user within 1h. Summed micro-batch output must equal the batch
    twin exactly — including pairs whose click and purchase arrive in
    DIFFERENT micro-batches (buffered by the join state and matched
    later, the whole point of the stateful join)."""
    from pyspark.sql import functions as F

    from transferdb_spark.sources.registry import load_table
    from transferdb_spark.streaming.incr import run_available, stream_events
    from transferdb_spark.streaming.joins import (
        attribution_pairs,
        streaming_attribution_join,
    )

    events = load_table(spark, sf_dir, "events").drop("props")
    want = {
        (r["user_id"], r["src_event_id"], r["dst_event_id"])
        for r in attribution_pairs(events).collect()
    }
    assert want  # fixture must actually produce pairs

    mid = events.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    src = str(tmp_path / "src")
    events.filter(F.col("ts") <= mid).coalesce(1).write.mode("overwrite").parquet(src)
    events.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(src)

    stream = stream_events(spark, src, max_files_per_trigger=1)
    q = run_available(streaming_attribution_join(stream), str(tmp_path / "ckpt"), "t_attrib")
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["src_event_id"], r["dst_event_id"])
        for r in spark.sql(
            "SELECT user_id, src_event_id, dst_event_id FROM t_attrib"
        ).collect()
    }
    # watermark caveat: rows older than the eviction horizon at source
    # EOF can be dropped by design; with a 2h watermark over an
    # in-order feed nothing is evictable before its match window ends,
    # so equality must be exact
    assert got == want


def test_attribution_pairs_hot_user_bucketed_join(spark):
    """Hot-user bound: the batch attribution join must key on
    (user_id, time_bucket), not user_id alone — otherwise one bot user
    makes the candidate set quadratic in its lifetime event count. The
    plan must shuffle on both keys, and the bucketed rewrite must stay
    byte-identical to brute force on a fixture that crosses bucket
    boundaries and hits the exact within_s edge."""
    import datetime as _dt
    import itertools

    from transferdb_spark.streaming.joins import attribution_pairs

    w = 100  # small window so the fixture crosses many buckets
    base = _dt.datetime(2024, 1, 1)
    rows = []
    # bot user: 40 clicks + 40 purchases spread over 40 windows —
    # brute force would build 1600 candidates; bucketing admits only
    # same/adjacent-window ones
    for i in range(40):
        rows.append((f"c{i}", 1, "click", base + _dt.timedelta(seconds=i * w)))
        rows.append((f"p{i}", 1, "purchase", base + _dt.timedelta(seconds=i * w + 1)))
    # edge cases: match at exactly within_s, and a cross-bucket match
    rows.append(("ce", 2, "click", base))
    rows.append(("pe", 2, "purchase", base + _dt.timedelta(seconds=w)))  # == within_s
    rows.append(("cx", 3, "click", base + _dt.timedelta(seconds=w - 1)))
    rows.append(("px", 3, "purchase", base + _dt.timedelta(seconds=w + 1)))  # next bucket
    ev = spark.createDataFrame(
        rows, "event_id string, user_id long, event_type string, ts timestamp"
    )

    out = attribution_pairs(ev, within_s=w)
    got = {(r["user_id"], r["src_event_id"], r["dst_event_id"]) for r in out.collect()}
    by_user = {}
    for eid, uid, typ, ts in rows:
        by_user.setdefault(uid, []).append((eid, typ, ts))
    want = set()
    for uid, evs in by_user.items():
        for (ca, ta, tsa), (cb, tb, tsb) in itertools.product(evs, evs):
            if ta == "click" and tb == "purchase" and tsa <= tsb and (
                (tsb - tsa).total_seconds() <= w
            ):
                want.add((uid, ca, cb))
    assert got == want and ("3", ) not in got  # sanity: non-empty, exact
    assert (2, "ce", "pe") in got and (3, "cx", "px") in got

    # the shuffle key must include the bucket, not user_id alone
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan, plan
