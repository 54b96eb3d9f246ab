"""End-to-end mode tests on sf0.001 fixtures (SURVEY.md §5 plan):
prepare → reverse → check → full → compare(clean+corrupted) → csv → assess."""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("modes"))


@pytest.fixture(scope="module")
def catalog(spark, sf_dir):
    from transferdb_spark.catalog.fixture import fixture_catalog

    return fixture_catalog(spark, sf_dir)


def test_prepare_creates_layout_and_rules(workdir):
    from transferdb_spark.modes.prepare import prepare_workspace

    paths = prepare_workspace(workdir)
    assert os.path.isdir(paths["target"])
    assert os.path.exists(os.path.join(paths["rules"], "datatype_o2m.json"))


def test_reverse_generates_ddl(catalog):
    from transferdb_spark.modes.reverse import gen_create_table_spark, reverse_tables

    res = reverse_tables(catalog)
    assert len(res.ddl) == len(catalog)
    li_ddl = next(d for d in res.ddl if "`lineitem`" in d)
    assert "PRIMARY KEY (`l_orderkey`, `l_linenumber`)" in li_ddl
    assert "`l_extendedprice` DOUBLE" in li_ddl
    assert "FOREIGN KEY (`l_orderkey`) REFERENCES `orders`" in li_ddl
    assert not res.errors
    spark_ddl = gen_create_table_spark(catalog["lineitem"])
    assert "USING parquet" in spark_ddl and "l_orderkey BIGINT" in spark_ddl


def test_reverse_quarantines_incompatible(catalog):
    import dataclasses

    from transferdb_spark.catalog.meta import IndexMeta
    from transferdb_spark.modes.reverse import reverse_tables

    part = dataclasses.replace(catalog["part"])  # shallow copy
    part.table_type = "PARTITIONED"
    nat = dataclasses.replace(catalog["nation"])
    nat.indexes = [IndexMeta("IX_BM", ("N_NAME",), index_type="BITMAP")]
    res = reverse_tables({"part": part, "nation": nat})
    assert any("PARTITIONED" in c for c in res.compatibility)
    assert any("BITMAP" in c for c in res.compatibility)
    assert len(res.ddl) == 1  # nation still converted, bitmap index skipped


def test_reverse_t2o_charset_surface():
    """T2O mirrors the M2O generation flow but on TiDB's narrower
    charset surface: gb18030 converts under M2O yet quarantines under
    T2O; utf8mb4 converts under both; an unknown collation quarantines
    in either direction."""
    from transferdb_spark.catalog.meta import ConstraintMeta, TableMeta
    from transferdb_spark.modes.reverse import reverse_tables_m2o, reverse_tables_t2o
    from transferdb_spark.rules.datatypes import OracleColumn

    def mk(name, charset, collation="utf8mb4_bin"):
        return TableMeta(
            schema="app",
            name=name,
            columns=[OracleColumn("id", "BIGINT", nullable=False)],
            constraints=[ConstraintMeta(f"pk_{name}", "P", ("id",))],
            charset=charset,
            collation=collation,
        )

    cat = {
        "plain": mk("plain", "utf8mb4"),
        "legacy": mk("legacy", "gb18030", "gb18030_chinese_ci"),
        "weird": mk("weird", "utf8mb4", "utf8mb4_sinhala_ci"),
    }
    m2o = reverse_tables_m2o(cat)
    t2o = reverse_tables_t2o(cat)

    assert any('"PLAIN"' in d for d in m2o.ddl)
    assert any('"PLAIN"' in d for d in t2o.ddl)
    # gb18030: fine under M2O, quarantined under T2O
    assert any('"LEGACY"' in d for d in m2o.ddl)
    assert not any('"LEGACY"' in d for d in t2o.ddl)
    assert any("gb18030" in c for c in t2o.compatibility)
    # unsupported collation quarantines in both directions
    assert not any('"WEIRD"' in d for d in m2o.ddl)
    assert not any('"WEIRD"' in d for d in t2o.ddl)
    assert any("utf8mb4_sinhala_ci" in c for c in t2o.compatibility)
    assert not m2o.errors and not t2o.errors


def test_reverse_o2t_clustered_routing(catalog):
    """O2T (TiDB) direction: clustered/non-clustered PK routing, the
    SHARD_ROW_ID_BITS table-option dance, and FK/CK quarantined to the
    compatibility output (o2t/reverse.go:139-188, rule.go:263-400,
    ddl.go:218)."""
    import pytest

    from transferdb_spark.modes.reverse import (
        TiDBReverseConfig,
        reverse_tables_o2t,
    )

    cfg = TiDBReverseConfig(
        clustered_tables=frozenset({"orders"}),
        nonclustered_tables={"lineitem": "SHARD_ROW_ID_BITS = 6 PRE_SPLIT_REGIONS = 6"},
        global_table_option="SHARD_ROW_ID_BITS = 4 PRE_SPLIT_REGIONS = 4",
        clustered_index="OFF",
    )
    res = reverse_tables_o2t(catalog, cfg)
    assert not res.errors
    orders = next(d for d in res.ddl if "CREATE TABLE `orders`" in d)
    li = next(d for d in res.ddl if "CREATE TABLE `lineitem`" in d)
    cust = next(d for d in res.ddl if "CREATE TABLE `customer`" in d)

    assert ") CLUSTERED" in orders and "SHARD_ROW_ID_BITS" not in orders
    assert ") NONCLUSTERED" in li and "SHARD_ROW_ID_BITS = 6" in li
    # unrouted table under clustered_index=OFF: global option applies
    assert "SHARD_ROW_ID_BITS = 4" in cust
    assert all("ENGINE=InnoDB DEFAULT CHARSET=utf8mb4" in d for d in res.ddl)

    # TiDB doesn't enforce FK/CHECK: they live in compatibility, not DDL
    assert not any("FOREIGN KEY" in d for d in res.ddl)
    fk_alters = [c for c in res.compatibility if "FOREIGN KEY" in c]
    assert any("ALTER TABLE `lineitem` ADD CONSTRAINT" in c for c in fk_alters)

    # overlap between the two routing configs is refused
    with pytest.raises(ValueError, match="both clustered"):
        TiDBReverseConfig(
            clustered_tables=frozenset({"t1"}), nonclustered_tables={"T1": ""}
        )


def test_reverse_o2t_int_only_table_option(catalog):
    """INT_ONLY mode: a single-column integer PK stays rowid-clustered
    (option off); multi-column or alter-primary-key=true enables it;
    clustered-config without a PK falls back with a note."""
    import dataclasses

    from transferdb_spark.modes.reverse import (
        TiDBReverseConfig,
        reverse_tables_o2t,
    )

    base = dict(global_table_option="SHARD_ROW_ID_BITS = 4", clustered_index="INT_ONLY")
    # alter-primary-key absent -> option disabled everywhere
    res = reverse_tables_o2t(catalog, TiDBReverseConfig(**base))
    assert not any("SHARD_ROW_ID_BITS" in d for d in res.ddl)

    # alter-primary-key=false: single-int-PK tables (orders/customer…)
    # skip the option; composite-PK lineitem gets it
    res = reverse_tables_o2t(catalog, TiDBReverseConfig(**base, alter_primary_key=False))
    orders = next(d for d in res.ddl if "CREATE TABLE `orders`" in d)
    li = next(d for d in res.ddl if "CREATE TABLE `lineitem`" in d)
    assert "SHARD_ROW_ID_BITS" not in orders
    assert "SHARD_ROW_ID_BITS" in li

    # alter-primary-key=true: option everywhere
    res = reverse_tables_o2t(catalog, TiDBReverseConfig(**base, alter_primary_key=True))
    assert all("SHARD_ROW_ID_BITS" in d for d in res.ddl)

    # clustered-config table without a PK: quarantine note + fallback
    nat = dataclasses.replace(catalog["nation"])
    nat.constraints = [c for c in nat.constraints if c.ctype != "P"]
    res = reverse_tables_o2t(
        {"nation": nat},
        TiDBReverseConfig(
            clustered_tables=frozenset({"nation"}),
            global_table_option="SHARD_ROW_ID_BITS = 4",
            clustered_index="OFF",
        ),
    )
    assert any("no primary key" in c for c in res.compatibility)
    assert "SHARD_ROW_ID_BITS" in res.ddl[0] and "CLUSTERED" not in res.ddl[0]


def test_reverse_m2o_generates_oracle_ddl():
    """M2O direction (reference module/reverse/mysql/m2o/rule.go):
    MySQL-typed catalog → Oracle DDL with constraints, indexes and
    COMMENT ON statements; ENUM/SET tables quarantined whole."""
    from transferdb_spark.catalog.meta import ConstraintMeta, IndexMeta, TableMeta
    from transferdb_spark.modes.reverse import reverse_tables_m2o
    from transferdb_spark.rules.datatypes import OracleColumn

    users = TableMeta(
        schema="app",
        name="users",
        columns=[
            OracleColumn("id", "BIGINT", nullable=False),
            OracleColumn("name", "VARCHAR", data_length=128, nullable=False, comment="login"),
            OracleColumn("balance", "DECIMAL", data_precision=12, data_scale=2),
            OracleColumn("created", "DATETIME", default="CURRENT_TIMESTAMP"),
            OracleColumn("bio", "TEXT"),
        ],
        constraints=[
            ConstraintMeta(name="pk_users", ctype="P", columns=("id",)),
            ConstraintMeta(name="uk_users_name", ctype="U", columns=("name",)),
            ConstraintMeta(
                name="fk_users_org",
                ctype="R",
                columns=("org_id",),
                r_table="orgs",
                r_columns=("id",),
                delete_rule="CASCADE",
            ),
            ConstraintMeta(name="ck_bal", ctype="C", search_condition="balance >= 0"),
        ],
        indexes=[IndexMeta(name="ix_users_created", columns=("created",))],
        comment="user accounts",
    )
    legacy = TableMeta(
        schema="app",
        name="legacy",
        columns=[
            OracleColumn("id", "INT"),
            OracleColumn("status", "ENUM"),
            OracleColumn("flags", "SET"),
        ],
    )
    res = reverse_tables_m2o({"users": users, "legacy": legacy})
    ddl = "\n".join(res.ddl)
    assert '"ID" NUMBER(19,0) NOT NULL' in ddl
    assert '"NAME" VARCHAR2(128) NOT NULL' in ddl
    assert '"BALANCE" NUMBER(12,2)' in ddl
    assert '"CREATED" DATE DEFAULT SYSDATE' in ddl
    assert '"BIO" CLOB' in ddl
    assert 'CONSTRAINT "PK_USERS" PRIMARY KEY ("ID")' in ddl
    assert 'CONSTRAINT "UK_USERS_NAME" UNIQUE ("NAME")' in ddl
    assert 'REFERENCES "APP"."ORGS" ("ID") ON DELETE CASCADE' in ddl
    assert 'CONSTRAINT "CK_BAL" CHECK (balance >= 0)' in ddl
    assert 'CREATE INDEX "IX_USERS_CREATED" ON "APP"."USERS" ("CREATED");' in ddl
    assert "COMMENT ON TABLE \"APP\".\"USERS\" IS 'user accounts';" in ddl
    assert "COMMENT ON COLUMN \"APP\".\"USERS\".\"NAME\" IS 'login';" in ddl
    # ENUM/SET table quarantined whole, no DDL emitted for it
    assert "LEGACY" not in ddl.upper()
    assert any("ENUM/SET" in c and "STATUS" in c.upper() for c in res.compatibility)
    assert not res.errors


def test_check_detects_struct_drift(catalog):
    import dataclasses

    from transferdb_spark.modes.check import check_table

    src = catalog["customer"]
    tgt = dataclasses.replace(src)
    tgt.columns = [c for c in src.columns if c.name != "C_ACCTBAL"]
    tgt.constraints = []
    r = check_table(src, tgt)
    assert r.missing_columns == ["C_ACCTBAL"]
    assert r.pk_mismatch is not None
    assert any("ADD COLUMN `c_acctbal` DOUBLE" in s for s in r.fix_sql)
    assert any("ADD PRIMARY KEY (`c_custkey`)" in s for s in r.fix_sql)


def test_check_clean_on_identical(catalog):
    from transferdb_spark.modes.check import check_table

    r = check_table(catalog["orders"], catalog["orders"])
    assert r.is_clean and not r.fix_sql


def _m2o_check_fixtures():
    """MySQL-typed source expectation + Oracle-typed target pair."""
    from transferdb_spark.catalog.meta import ConstraintMeta, TableMeta
    from transferdb_spark.rules.datatypes import OracleColumn

    src = TableMeta(
        schema="app",
        name="users",
        columns=[
            OracleColumn("id", "BIGINT", nullable=False),
            OracleColumn("name", "VARCHAR", data_length=128, nullable=False),
            OracleColumn("balance", "DECIMAL", data_precision=12, data_scale=2),
            OracleColumn("flags", "SET"),
        ],
        constraints=[ConstraintMeta("pk_users", "P", ("id",))],
        collation="utf8mb4_bin",
    )
    tgt = TableMeta(
        schema="APP",
        name="USERS",
        columns=[
            OracleColumn("ID", "NUMBER", data_precision=19, data_scale=0, nullable=False),
            # drifted: undersized VARCHAR2 and nullable flipped
            OracleColumn("NAME", "VARCHAR2", data_length=64, nullable=True),
            OracleColumn("BALANCE", "NUMBER", data_precision=12, data_scale=2),
            OracleColumn("LEGACY", "CLOB"),  # extra on target
        ],
        constraints=[ConstraintMeta("PK_USERS_OLD", "P", ("ID", "NAME"))],
        collation="BINARY_CI",  # drift: _bin maps to BINARY_CS
    )
    return src, tgt


def test_check_m2o_type_and_collation_drift():
    """M2O direction: expected Oracle types derived from the MySQL
    catalog (check/mysql/m2o/diff.go), Oracle-dialect fix SQL, the
    collation class facet, and ENUM/SET flagged unsupported."""
    from transferdb_spark.modes.check import check_catalogs, check_table_m2o

    src, tgt = _m2o_check_fixtures()
    r = check_table_m2o(src, tgt)

    assert ("NAME", "VARCHAR2(128)", "VARCHAR2(64)") in r.type_mismatches
    assert any(
        'ALTER TABLE "APP"."USERS" MODIFY "NAME" VARCHAR2(128);' == s for s in r.fix_sql
    )
    assert ("NAME", False, True) in r.nullability_mismatches
    # BALANCE/ID map to the target's declared types: no mismatch
    assert not any(m[0] in ("BALANCE", "ID") for m in r.type_mismatches)
    # SET source column (absent on target): unsupported note, no bogus ADD
    assert "FLAGS" in r.missing_columns
    assert any("unsupported" in s for s in r.fix_sql if "FLAGS" in s.upper())
    assert not any("ADD \"FLAGS\"" in s for s in r.fix_sql)
    assert r.extra_columns == ["LEGACY"]
    assert any('DROP COLUMN "LEGACY"' in s for s in r.fix_sql)
    assert r.pk_mismatch == (("ID",), ("ID", "NAME"))
    assert any('DROP CONSTRAINT "PK_USERS_OLD"' in s for s in r.fix_sql)
    assert any('ADD CONSTRAINT "PK_USERS" PRIMARY KEY ("ID")' in s for s in r.fix_sql)
    assert r.collation_mismatch == ("BINARY_CS", "BINARY_CI")

    # catalog-level direction routing
    out = check_catalogs({"users": src}, {"users": tgt}, direction="m2o")
    assert not out["users"].is_clean


def test_check_m2o_clean_on_equivalent():
    from transferdb_spark.modes.check import check_table_m2o

    src, tgt = _m2o_check_fixtures()
    src.columns = [c for c in src.columns if c.name not in ("flags",)]
    src.constraints = tgt.constraints
    src.collation = "utf8mb4_general_ci"
    tgt.collation = "BINARY_AI"
    tgt.columns = [c for c in tgt.columns if c.name != "LEGACY"]
    # align the drifted column
    for i, c in enumerate(tgt.columns):
        if c.name == "NAME":
            import dataclasses

            tgt.columns[i] = dataclasses.replace(c, data_length=128, nullable=False)
    r = check_table_m2o(src, tgt)
    assert r.is_clean, (r.type_mismatches, r.fix_sql)


def test_check_detects_fk_drift(catalog):
    """FK facet (diff.go:336-372): dropped FK -> ADD with referenced
    table/cols + delete rule; target-only FK -> DROP FOREIGN KEY."""
    import dataclasses

    from transferdb_spark.catalog.meta import ConstraintMeta
    from transferdb_spark.modes.check import check_table

    src = catalog["lineitem"]
    tgt = dataclasses.replace(src)
    dropped = [c for c in src.constraints if c.name == "FK_LINEITEM_L_PARTKEY"]
    assert dropped, "fixture must declare the partkey FK"
    tgt.constraints = [c for c in src.constraints if c not in dropped] + [
        ConstraintMeta(
            name="FK_ROGUE",
            ctype="R",
            columns=("L_SUPPKEY",),
            r_table="NATION",
            r_columns=("N_NATIONKEY",),
        )
    ]
    r = check_table(src, tgt)
    assert r.missing_fks == ["FK_LINEITEM_L_PARTKEY"]
    assert r.extra_fks == ["FK_ROGUE"]
    assert any(
        "ADD FOREIGN KEY (`l_partkey`) REFERENCES `part` (`p_partkey`) ON DELETE NO ACTION" in s
        for s in r.fix_sql
    )
    assert any("DROP FOREIGN KEY `fk_rogue`" in s for s in r.fix_sql)
    assert not r.is_clean


def test_check_detects_uk_and_ck_drift(catalog):
    """UK facet (diff.go:292-334) + CK facet (374-414)."""
    import dataclasses

    from transferdb_spark.catalog.meta import ConstraintMeta
    from transferdb_spark.modes.check import check_table

    base = catalog["orders"]
    src = dataclasses.replace(base)
    src.constraints = list(base.constraints) + [
        ConstraintMeta(name="UK_ORD", ctype="U", columns=("O_CUSTKEY", "O_ORDERDATE")),
        ConstraintMeta(
            name="CK_ORD", ctype="C", search_condition="o_totalprice  >  0"
        ),
    ]
    r = check_table(src, base)
    assert r.missing_uniques == [("O_CUSTKEY", "O_ORDERDATE")]
    assert r.missing_checks == ["O_TOTALPRICE > 0"]  # whitespace-normalized
    assert any("ADD UNIQUE (`o_custkey`, `o_orderdate`)" in s for s in r.fix_sql)
    assert any("ADD CONSTRAINT `orders_check_key` CHECK (O_TOTALPRICE > 0)" in s for s in r.fix_sql)


def test_check_detects_partition_and_comment_drift(catalog):
    """Partition facet (diff.go:60-85, 521-561) emits a manual-action
    note, never SQL; comment facet (87-109) emits ALTER COMMENT."""
    import dataclasses

    from transferdb_spark.modes.check import check_table

    src = dataclasses.replace(catalog["orders"])
    src.table_type = "PARTITIONED"
    src.partition_type = "RANGE"
    src.partition_keys = ("O_ORDERDATE",)
    src.comment = "order facts"
    tgt = dataclasses.replace(catalog["orders"])
    r = check_table(src, tgt)
    assert "partition type mismatch" in r.partition_mismatch
    assert r.comment_mismatch == ("order facts", "")
    assert any(s.startswith("-- partition type mismatch") for s in r.fix_sql)
    assert any("COMMENT 'order facts'" in s for s in r.fix_sql)

    # same layout on both sides but different partition keys
    tgt2 = dataclasses.replace(src)
    tgt2.partition_keys = ("O_CUSTKEY",)
    r2 = check_table(src, tgt2)
    assert "partition layout differs" in r2.partition_mismatch


def test_check_detects_collation_drift(catalog):
    """Charset/collation facet (diff.go:111-145): expected target
    collation derives from the R8 mapping; divergence -> ALTER."""
    import dataclasses

    from transferdb_spark.modes.check import check_table

    src = dataclasses.replace(catalog["customer"])
    src.collation = "BINARY_CS"
    tgt = dataclasses.replace(catalog["customer"])
    tgt.charset = "UTF8MB4"
    tgt.collation = "UTF8MB4_GENERAL_CI"
    r = check_table(src, tgt)
    assert r.collation_mismatch == ("UTF8MB4_BIN", "UTF8MB4_GENERAL_CI")
    assert any(
        "CHARACTER SET utf8mb4 COLLATE utf8mb4_bin" in s for s in r.fix_sql
    )
    # matching collation is clean
    tgt.collation = "UTF8MB4_BIN"
    assert check_table(src, tgt).collation_mismatch is None


def test_check_detects_column_comment_drift(catalog):
    import dataclasses

    from transferdb_spark.modes.check import check_table

    src = dataclasses.replace(catalog["nation"])
    src.columns = [
        dataclasses.replace(c, comment="nation key" if c.name == "N_NATIONKEY" else c.comment)
        for c in src.columns
    ]
    tgt = dataclasses.replace(catalog["nation"])
    r = check_table(src, tgt)
    assert r.column_comment_mismatches == [("N_NATIONKEY", "nation key", "")]
    assert any(
        "MODIFY COLUMN `n_nationkey`" in s and "COMMENT 'nation key'" in s for s in r.fix_sql
    )


def test_full_migrate_then_compare_zero_diff(spark, sf_dir, workdir, lineitem):
    """The reference's own correctness loop: full then compare == clean."""
    from transferdb_spark.modes.compare_mode import compare_tables
    from transferdb_spark.modes.full import full_migrate_table

    target = full_migrate_table(spark, lineitem, "lineitem", workdir, n_chunks=8)
    migrated = spark.read.parquet(target)
    assert migrated.count() == lineitem.count()

    report = compare_tables(spark, lineitem, migrated, "lineitem", workdir, n_chunks=8)
    assert report.is_equal


def test_full_migrate_resume_skips_success(spark, workdir, lineitem):
    from transferdb_spark.state.store import SUCCESS, StateStore

    store = StateStore(workdir, "full")
    assert all(c.status == SUCCESS for c in store._chunks.values() if c.table == "lineitem")
    assert store.pending("lineitem") == []


def test_full_migrate_resume_across_schema_evolution(spark, sf_dir, tmp_path):
    """Resume a half-done migration after the SOURCE gained a column
    (ALTER TABLE ADD between runs): the chunk plan is unchanged (same
    key, same bounds), so resume appends the evolved rows; the target
    then reads through load_evolved (mergeSchema) with NULL-for-missing
    on pre-evolution rows — every source row exactly once, no silent
    corruption. A re-plan with a different chunk count still discards
    stale state (plan-drift refusal)."""
    import os

    from pyspark.sql import functions as F

    from transferdb_spark.modes.full import full_migrate_table
    from transferdb_spark.plans.chunker import plan_chunks
    from transferdb_spark.sources.registry import load_evolved, load_table
    from transferdb_spark.state.store import SUCCESS, StateStore

    wd = str(tmp_path)
    v1 = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n_src = v1.count()
    chunks = plan_chunks(v1, "c_custkey", 4)

    # half-done first run: chunks 0-1 landed with the v1 schema, then
    # the job died (chunks 2-3 never written)
    store = StateStore(wd, "full")
    store.init_table("customer", chunks)
    target = os.path.join(wd, "target", "customer")
    for c in chunks[:2]:
        v1.filter(c.predicate).write.mode("append").parquet(target)
        store.mark("customer", c.chunk_id, SUCCESS)

    # source evolved: new column exists when the operator resumes
    v2 = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    full_migrate_table(
        spark, v2, "customer", wd, n_chunks=4, key="c_custkey", store=store
    )
    assert store.pending("customer") == []

    out = load_evolved(spark, target)
    assert "c_acctbal" in out.columns
    assert out.count() == n_src
    assert out.groupBy("c_custkey").count().filter("count > 1").count() == 0
    # pre-evolution rows read NULL, resumed rows carry real values
    hi = chunks[1].upper
    assert out.filter(
        (F.col("c_custkey") <= hi) & F.col("c_acctbal").isNotNull()
    ).count() == 0
    resumed = out.filter(F.col("c_custkey") > hi)
    assert resumed.count() > 0
    assert resumed.filter(F.col("c_acctbal").isNull()).count() == 0

    # plan drift (different chunk count) discards stale state entirely
    store2 = StateStore(wd, "full")
    states = store2.init_table("customer", plan_chunks(v2, "c_custkey", 8))
    assert len(store2.pending("customer")) == len(states) == 8


def test_compare_corrupted_emits_fix_sql(spark, sf_dir, workdir, lineitem):
    from transferdb_spark.modes.compare_mode import compare_tables
    from transferdb_spark.operators.compare_fixture import mutated_target

    report = compare_tables(
        spark, lineitem, mutated_target(lineitem), "lineitem_tgt", workdir, n_chunks=8
    )
    assert not report.is_equal
    assert report.insert_rows > 0 and report.delete_rows > 0
    text = open(report.fix_sql_path).read()
    assert "INSERT INTO lineitem_tgt" in text and "DELETE FROM lineitem_tgt" in text


def test_compare_fix_sql_write_is_atomic(spark, workdir, lineitem, monkeypatch):
    """A crash while the fix file is assembled leaves the previous one
    intact: a truncated file whose header still claims the full counts
    would make `--mode compare --apply` run a partial repair."""
    from transferdb_spark.modes import compare_mode
    from transferdb_spark.operators.compare_fixture import mutated_target

    def run():
        return compare_mode.compare_tables(
            spark, lineitem, mutated_target(lineitem), "lineitem_atomic", workdir, n_chunks=8
        )

    path = run().fix_sql_path
    with open(path) as fh:
        before = fh.read()

    real_copy = compare_mode.shutil.copyfileobj
    copies = []

    def copy_then_crash(fsrc, fdst, *args):
        copies.append(fsrc)
        if len(copies) == 2:
            raise OSError("disk full")
        return real_copy(fsrc, fdst, *args)

    monkeypatch.setattr(compare_mode.shutil, "copyfileobj", copy_then_crash)
    with pytest.raises(OSError, match="disk full"):
        run()
    with open(path) as fh:
        assert fh.read() == before


def test_csv_roundtrip(spark, sf_dir, workdir):
    from transferdb_spark.modes.csv_mode import csv_export, csv_import
    from transferdb_spark.operators.normalize import normalize_projection
    from transferdb_spark.sources.registry import load_table

    cust = load_table(spark, sf_dir, "customer")
    path = csv_export(spark, cust, "customer", workdir, delimiter="|", n_chunks=4)
    files = [f for f in os.listdir(path) if f.endswith(".csv")]
    assert files, "expected part csv files"

    norm = normalize_projection(cust)
    back = csv_import(spark, path, norm.schema, delimiter="|")
    assert back.count() == cust.count()
    assert back.exceptAll(norm).count() == 0  # lossless under canonical form


def test_orc_roundtrip_and_pushdown(spark, sf_dir, workdir):
    """ORC sink: schema-exact roundtrip without canonicalization (a
    columnar format keeps native types), and the read path pushes
    predicates down to the ORC scan like parquet."""
    from transferdb_spark.modes.columnar import orc_export, orc_import
    from transferdb_spark.sources.registry import load_table

    cust = load_table(spark, sf_dir, "customer")
    path = orc_export(spark, cust, "customer", workdir, n_chunks=4)
    files = [f for f in os.listdir(path) if f.endswith(".orc")]
    assert files, "expected part orc files"

    back = orc_import(spark, path)
    assert back.schema == cust.schema
    assert back.count() == cust.count()
    assert back.exceptAll(cust).count() == 0

    filtered = back.where("c_custkey = 7").select("c_custkey", "c_name")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "c_custkey" in plan.split("PushedFilters")[1][:80]


def test_assess_report(spark, sf_dir, workdir):
    from transferdb_spark.modes.assess import assess_to_file

    out = os.path.join(workdir, "reports", "assess.html")
    report = assess_to_file(spark, sf_dir, out)
    assert {r["table"] for r in report.overview} >= {"LINEITEM", "ORDERS", "CUSTOMER"}
    li = next(r for r in report.overview if r["table"] == "LINEITEM")
    assert li["rows"] == 6000
    assert report.compatibility_pct > 90
    html = open(out).read()
    assert "<html>" in html
    # facet breadth (reference assess.go:560-668 + assess_result.go)
    assert report.constraint_kinds.get("P", 0) >= 7  # every keyed fixture table
    assert report.constraint_kinds.get("R", 0) >= 7  # FK constraints
    assert report.object_counts["TABLE"] == len(report.overview)
    assert report.table_types.get("HEAP", 0) == len(report.overview)
    assert report.index_kinds  # FK-backing indexes counted by kind
    # per-object rollup: one verdict row per table; embeddings' array
    # column serializes -> PARTIAL, plain scalar tables are CLEAN
    verdicts = {r["table"]: r["verdict"] for r in report.per_object}
    assert verdicts["LINEITEM"] == "CLEAN"
    assert verdicts["EMBEDDINGS"] == "PARTIAL"
    for section in (
        "Object compatibility",
        "Object counts",
        "Constraint kinds",
        "Index kinds",
        "Table types",
    ):
        assert section in html


def test_full_migrate_partitioned_layout_prunes(spark, sf_dir, workdir, lineitem):
    from pyspark.sql import functions as F

    from transferdb_spark.modes.full import full_migrate_table

    li = lineitem.withColumn("ship_year", F.year("l_shipdate"))
    target = full_migrate_table(
        spark,
        li,
        "lineitem_part",
        str(workdir) + "/part",
        n_chunks=4,
        key="l_orderkey",
        partition_cols=["ship_year"],
    )
    import os

    years = [d for d in os.listdir(target) if d.startswith("ship_year=")]
    assert len(years) >= 3  # hive-style directories per year

    out = spark.read.parquet(target).filter("ship_year = 1996")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "ship_year" in plan.split("PartitionFilters")[1].split("]")[0]
    assert out.count() == li.filter("ship_year = 1996").count()


def test_keyless_rowid_chunk_plan(tmp_path, spark):
    """ROWID-analogue planning: contiguous, size-balanced file groups
    covering every part-file exactly once (full.go:42-93 semantics)."""
    from transferdb_spark.plans.chunker import plan_chunks_rowid

    src = str(tmp_path / "keyless_src")
    df = spark.range(0, 5000).selectExpr(
        "concat('name-', id) AS name", "concat('city-', id % 7) AS city"
    )
    df.repartition(10).write.parquet(src)

    chunks = plan_chunks_rowid(src, 4)
    assert len(chunks) == 4
    all_files = [f for c in chunks for f in c.files]
    assert len(all_files) == len(set(all_files)) == 10
    # contiguity: file index ranges tile [0, n_files)
    spans = sorted((c.lower, c.upper) for c in chunks)
    assert spans[0][0] == 0 and spans[-1][1] == 9
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert lo == hi + 1
    # balance: no chunk holds more than half the bytes
    total = sum(c.n_bytes for c in chunks)
    assert max(c.n_bytes for c in chunks) <= total / 2


def test_keyless_full_migrate_then_compare(tmp_path, spark):
    """End-to-end keyless path: a table with no numeric column migrates
    via file-group chunks and compares clean (the exact row-set diff
    needs no split key)."""
    from transferdb_spark.modes.full import full_migrate_keyless
    from transferdb_spark.operators.diff import dataset_diff
    from transferdb_spark.plans.chunker import elect_split_key

    src = str(tmp_path / "keyless_src")
    wd = str(tmp_path / "wd")
    df = spark.range(0, 3000).selectExpr(
        "concat('u-', id) AS username", "concat('t-', id % 13) AS tag"
    )
    df.repartition(6).write.parquet(src)
    src_df = spark.read.parquet(src)
    with pytest.raises(ValueError):
        elect_split_key(src_df)

    target = full_migrate_keyless(spark, src, "keyless", wd, n_chunks=3)
    tgt_df = spark.read.parquet(target)
    assert tgt_df.count() == 3000
    missing, extra = dataset_diff(src_df, tgt_df)
    assert missing.count() == 0 and extra.count() == 0


def test_keyless_resume_rereads_only_failed_groups(tmp_path, spark):
    """Resume touches only the failed file groups (O(live chunk) reads)."""
    from transferdb_spark.modes.full import full_migrate_keyless
    from transferdb_spark.plans.chunker import plan_chunks_rowid
    from transferdb_spark.state.store import FAILED, SUCCESS, StateStore

    src = str(tmp_path / "keyless_src")
    wd = str(tmp_path / "wd")
    spark.range(0, 2000).selectExpr("concat('x-', id) AS v").repartition(4).write.parquet(src)

    # seed the store as if chunk 1 failed mid-run
    store = StateStore(wd, "full")
    chunks = plan_chunks_rowid(src, 4)
    store.init_table("keyless", chunks)
    for c in chunks:
        store.mark("keyless", c.chunk_id, FAILED if c.chunk_id == 1 else SUCCESS)

    target = full_migrate_keyless(spark, src, "keyless", wd, n_chunks=4, store=store)
    got = spark.read.parquet(target)
    # only chunk 1's files were written on this run
    expected = spark.read.parquet(*chunks[1].files)
    assert got.count() == expected.count()
    assert all(c.status == SUCCESS for c in StateStore(wd, "full").pending("keyless")) or (
        StateStore(wd, "full").pending("keyless") == []
    )


def test_full_migrate_converts_charset_in_flight(tmp_path, spark):
    """GBK-bytes source → UTF8MB4 target through full_migrate_table,
    mirroring the reference's in-flight value conversion
    (full.go:126-135). The binary column holding GBK bytes arrives as a
    proper UTF-8 string at the target."""
    from transferdb_spark.modes.full import full_migrate_table

    wd = str(tmp_path / "wd")
    vals = ["数据迁移", "校验和", "增量同步", None, "plain-ascii"]
    rows = [(i, v.encode("gbk") if v is not None else None, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, payload binary, expected string")

    target = full_migrate_table(
        spark,
        df,
        "gbk_table",
        wd,
        n_chunks=2,
        key="id",
        source_charset="ZHS16GBK",
        target_charset="UTF8MB4",
    )
    got = spark.read.parquet(target).orderBy("id").collect()
    assert [r["payload"] for r in got] == vals
    assert all((r["payload"] == r["expected"]) or r["payload"] is None for r in got)


def test_error_quarantine_and_retry_failed(tmp_path, spark, lineitem):
    """Failures append to the error log (every occurrence kept, with
    attempt numbers and the chunk predicate); retry_failed re-runs only
    the FAILED chunks and heals the state."""
    from transferdb_spark.modes.full import retry_failed
    from transferdb_spark.plans.chunker import plan_chunks
    from transferdb_spark.state.store import FAILED, SUCCESS, StateStore

    wd = str(tmp_path / "wd")
    store = StateStore(wd, "full")
    chunks = plan_chunks(lineitem, "l_orderkey", 4)
    store.init_table("lineitem", chunks)

    # simulate a run where chunks 1 and 3 failed (twice for chunk 1)
    for c in chunks:
        store.mark("lineitem", c.chunk_id, SUCCESS)
    store.mark("lineitem", 1, FAILED, "ORA-01555 snapshot too old")
    store.mark("lineitem", 1, FAILED, "ORA-01555 snapshot too old")
    store.mark("lineitem", 3, FAILED, "connection reset")

    log = store.error_log("lineitem")
    assert len(log) == 3
    assert [e["attempt"] for e in log if e["chunk_id"] == 1] == [1, 2]
    assert all(e["predicate"] for e in log)
    assert [c.chunk_id for c in store.failed("lineitem")] == [1, 3]

    stats = retry_failed(spark, lineitem, "lineitem", wd, store=store)
    assert stats == {"retried": 2, "succeeded": 2, "failed": 0}
    assert store.failed("lineitem") == []
    # history survives the successful retry
    assert len(store.error_log("lineitem")) == 3
    # and exactly the two failed chunks' rows were (re)written
    got = spark.read.parquet(os.path.join(wd, "target", "lineitem")).count()
    expected = lineitem.filter(chunks[1].predicate).count() + lineitem.filter(
        chunks[3].predicate
    ).count()
    assert got == expected


def test_full_migrate_zorder_layout_clusters_target(spark, sf_dir, workdir, lineitem):
    """layout_cols: the migrated target is Z-order clustered — full
    fidelity (compare == clean) AND every file covers a small
    rectangle of the layout columns, so min/max skipping serves
    filters on either column."""
    from transferdb_spark.modes.compare_mode import compare_tables
    from transferdb_spark.modes.full import full_migrate_table
    from transferdb_spark.plans.layout import file_span_stats

    cols = ["l_partkey", "l_suppkey"]
    target = full_migrate_table(
        spark,
        lineitem,
        "lineitem_z",
        workdir,
        n_chunks=16,
        key="l_orderkey",
        layout_cols=cols,
    )
    migrated = spark.read.parquet(target)
    report = compare_tables(spark, lineitem, migrated, "lineitem_z", workdir, n_chunks=8)
    assert report.is_equal

    score = file_span_stats(target, cols)
    assert score.n_files >= 8
    for c in cols:
        assert score.span_fraction[c] < 0.5


def test_compact_files_merges_fragments(spark, sf_dir, lineitem, tmp_path):
    """64-file fragmentation compacts shuffle-free to a handful of
    files with identical content; with layout_cols the rewrite also
    Z-order clusters."""
    from transferdb_spark.modes.optimize import compact_files
    from transferdb_spark.plans.layout import file_span_stats

    frag = str(tmp_path / "frag")
    lineitem.repartition(64).write.mode("overwrite").parquet(frag)

    stats = compact_files(spark, frag, target_mb=8)
    assert stats.files_before == 64
    assert stats.files_after < 16
    after = spark.read.parquet(frag)
    assert after.count() == lineitem.count()
    assert after.exceptAll(lineitem).count() == 0

    # recluster while compacting
    stats2 = compact_files(spark, frag, n_files=8, layout_cols=["l_partkey", "l_suppkey"])
    assert stats2.files_after >= 2
    score = file_span_stats(frag, ["l_partkey", "l_suppkey"])
    assert score.span_fraction["l_partkey"] < 0.7


def test_compact_files_recovers_from_crash_window(spark, lineitem, tmp_path):
    """A crash between `path -> backup` and `staging -> path` leaves no
    directory at path; a rerun must restore the backup instead of
    failing (or worse, rmtree-ing the only copy)."""
    import os

    from transferdb_spark.modes.optimize import compact_files

    frag = str(tmp_path / "fragc")
    lineitem.limit(2000).repartition(16).write.mode("overwrite").parquet(frag)
    n = spark.read.parquet(frag).count()

    # simulate the crash window: data stranded in .__compact_old
    os.rename(frag, frag + ".__compact_old")
    stats = compact_files(spark, frag, target_mb=8)
    assert stats.files_before == 16
    assert spark.read.parquet(frag).count() == n
    assert not os.path.isdir(frag + ".__compact_old")


def test_compact_files_plain_path_is_shuffle_free(spark, lineitem, tmp_path):
    from transferdb_spark.modes.optimize import _parquet_files

    frag = str(tmp_path / "frag2")
    lineitem.limit(1000).repartition(8).write.mode("overwrite").parquet(frag)
    df = spark.read.parquet(frag).coalesce(1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert len(_parquet_files(frag)) == 8


def test_csv_import_quarantines_corrupt_rows(spark, tmp_path):
    """Malformed CSV lines land in the quarantine frame whole; clean
    rows import untouched; nothing aborts."""
    import pyspark.sql.types as T
    from transferdb_spark.modes.csv_mode import csv_import_quarantine

    p = tmp_path / "in.csv"
    p.write_text(
        "id,name,score\n"
        "1,alpha,10\n"
        "2,beta,not_a_number\n"
        "3,gamma,30\n"
        "4,delta,extra,field,here\n"
        "5,eps,50\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.IntegerType()),
        ]
    )
    clean, bad = csv_import_quarantine(spark, str(p), schema)
    assert sorted(r["id"] for r in clean.collect()) == [1, 3, 5]
    bad_lines = sorted(r["raw_line"] for r in bad.collect())
    assert len(bad_lines) == 2
    assert any("not_a_number" in b for b in bad_lines)
    assert any("extra,field" in b for b in bad_lines)


def test_schema_evolution_append_reads_merged(spark, sf_dir, tmp_path, lineitem):
    """Target gains a column between append runs: merged read unions
    the schemas, pre-evolution rows are NULL in the new column, and
    keyed_diff still classifies rows correctly across the evolution."""
    from pyspark.sql import functions as F
    from transferdb_spark.sources.registry import load_evolved

    tgt = str(tmp_path / "evolving")
    v1 = lineitem.select("l_orderkey", "l_linenumber", "l_quantity").limit(100)
    v1.write.mode("overwrite").parquet(tgt)
    v2 = (
        lineitem.select("l_orderkey", "l_linenumber", "l_quantity")
        .limit(150)
        .exceptAll(v1)
        .withColumn("load_batch", F.lit(2))
    )
    v2.write.mode("append").parquet(tgt)

    merged = load_evolved(spark, tgt)
    assert set(merged.columns) == {"l_orderkey", "l_linenumber", "l_quantity", "load_batch"}
    assert merged.count() == 150
    assert merged.filter(F.col("load_batch").isNull()).count() == 100
    assert merged.filter(F.col("load_batch") == 2).count() == 50


def test_compact_refuses_partitioned_layout(spark, lineitem, tmp_path):
    """A hive-partitioned table has no root-level part files; blind
    compaction would collapse the partition structure — refuse."""
    import pytest as _pt

    from transferdb_spark.modes.optimize import compact_files

    part = str(tmp_path / "part")
    lineitem.limit(500).write.mode("overwrite").partitionBy("l_returnflag").parquet(part)
    with _pt.raises(ValueError, match="partition"):
        compact_files(spark, part)


def test_compact_is_idempotent(spark, lineitem, tmp_path):
    from transferdb_spark.modes.optimize import compact_files

    frag = str(tmp_path / "frag3")
    lineitem.repartition(16).write.mode("overwrite").parquet(frag)
    s1 = compact_files(spark, frag, target_mb=8)
    s2 = compact_files(spark, frag, target_mb=8)
    assert s2.files_before == s1.files_after
    assert s2.files_after == s1.files_after
    assert s2.rows == s1.rows == lineitem.count()


def test_full_migrate_partitioned_plus_zorder(spark, sf_dir, workdir, lineitem, tmp_path):
    """partition_cols + layout_cols: hive dirs with WITHIN-partition
    z-clustering and no small-files explosion (one writer task per
    partition slice, not tasks x dirs)."""
    import os

    from transferdb_spark.modes.full import full_migrate_table
    from transferdb_spark.plans.layout import file_span_stats

    target = full_migrate_table(
        spark,
        lineitem,
        "lineitem_pz",
        workdir,
        n_chunks=8,
        key="l_orderkey",
        partition_cols=["l_returnflag"],
        layout_cols=["l_partkey", "l_suppkey"],
    )
    migrated = spark.read.parquet(target)
    assert migrated.count() == lineitem.count()
    dirs = [d for d in os.listdir(target) if d.startswith("l_returnflag=")]
    assert len(dirs) == 3
    for d in dirs:
        files = [
            f for f in os.listdir(os.path.join(target, d)) if f.endswith(".parquet")
        ]
        # no explosion: at most n_chunks files per partition dir
        assert 1 <= len(files) <= 8
    # within-partition clustering: partkey spans shrink vs full range
    score = file_span_stats(os.path.join(target, dirs[0]), ["l_partkey"])
    if score.n_files >= 4:
        assert score.span_fraction["l_partkey"] < 0.6


def test_ansi_dialect_rewrite_and_ddl_generation(catalog):
    """rules/ansi: MySQL-dialect rule output -> ANSI/Derby types, and
    the ANSI DDL generator's statement split (creates < indexes < FKs)
    for the live-apply path (reference write.go:40-140 RWriteDB)."""
    from transferdb_spark.modes.reverse import reverse_tables_ansi
    from transferdb_spark.rules.ansi import ansi_type

    assert ansi_type("TINYINT") == "SMALLINT"
    assert ansi_type("INT") == "INTEGER"
    assert ansi_type("INT(11)") == "INTEGER"
    assert ansi_type("BIGINT") == "BIGINT"
    assert ansi_type("DECIMAL(15,2)") == "DECIMAL(15,2)"
    assert ansi_type("DECIMAL(65,30)") == "DECIMAL(31,30)"  # Derby p<=31
    assert ansi_type("DATETIME(6)") == "TIMESTAMP"
    assert ansi_type("LONGTEXT") == "CLOB"
    assert ansi_type("VARBINARY(16)") == "VARCHAR (16) FOR BIT DATA"
    assert ansi_type("VARCHAR(40000)") == "VARCHAR(32672)"
    assert ansi_type("FLOAT") == "REAL"

    res = reverse_tables_ansi(catalog)
    assert not res.errors
    kinds = ["CREATE TABLE" if s.startswith("CREATE TABLE")
             else "CREATE INDEX" if "INDEX" in s.split("(")[0]
             else "ALTER" for s in res.ddl]
    # statement classes are contiguous and ordered: creates, indexes, FKs
    assert kinds == sorted(kinds, key=["CREATE TABLE", "CREATE INDEX", "ALTER"].index)
    create_nation = next(s for s in res.ddl if s.startswith("CREATE TABLE NATION"))
    # PK column forced NOT NULL; no backticks anywhere in ANSI output
    assert "N_NATIONKEY INTEGER NOT NULL" in create_nation
    assert "`" not in "".join(res.ddl)
    fk = next(s for s in res.ddl if "FOREIGN KEY" in s and "NATION " in s.split("REFERENCES")[0])
    assert fk.startswith("ALTER TABLE NATION") and "REFERENCES REGION" in fk


def test_apply_sql_statement_normalization(spark, monkeypatch):
    """apply_sql: comment-only statements skip, trailing semicolons
    strip, failures quarantine with the statement (never abort)."""
    from transferdb_spark.modes.apply import apply_sql
    from transferdb_spark.sources.jdbc import JdbcSink

    ran = []
    sink = JdbcSink(url="jdbc:fake", table="")

    def fake_execute(self, spark_, sql):
        ran.append(sql)
        if "BOOM" in sql:
            raise RuntimeError("table missing")
        return 1

    monkeypatch.setattr(JdbcSink, "execute", fake_execute)
    res = apply_sql(
        spark,
        sink,
        [
            "-- a pure comment statement",
            "CREATE TABLE T (A INT);",
            "-- leading comment\nINSERT INTO BOOM VALUES (1);",
            "DROP TABLE U",
        ],
    )
    assert ran == ["CREATE TABLE T (A INT)", "INSERT INTO BOOM VALUES (1)", "DROP TABLE U"]
    assert len(res.applied) == 2 and len(res.skipped) == 1
    assert len(res.failed) == 1 and "table missing" in res.failed[0][1]
    assert not res.ok


def test_prune_mode_lifecycle_and_snapshot(spark, sf_dir, workdir):
    """prune mode: clean -> score (persisted ONCE, unpersisted in
    finally) -> global-decile keep -> versioned snapshot + JSON summary;
    no cached relation may leak past the run."""
    import json
    import os

    from transferdb_spark.modes.prune import prune_corpus
    from transferdb_spark.state.snapshots import read_snapshot

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persistent_ids()
    s = prune_corpus(spark, sf_dir, workdir, keep_deciles=3)
    # lifecycle: the mode leaves NO new cached relation behind (other
    # module-scoped suites may legitimately hold their own caches)
    assert persistent_ids() <= before

    assert 0 < s["docs_kept"] <= s["docs_clean"] <= s["docs_total"]
    # top-3-of-10 deciles keeps ~30% of the clean corpus (ntile is
    # exact, so the bound is tight up to bucket rounding)
    assert abs(s["docs_kept"] - 0.3 * s["docs_clean"]) <= 0.05 * s["docs_clean"] + 2

    snap = read_snapshot(spark, s["snapshot_dir"], s["snapshot_version"])
    assert snap.count() == s["docs_kept"]
    assert "text" in snap.columns and "lang" in snap.columns
    assert sum(s["kept_by_lang"].values()) == s["docs_kept"]
    assert os.path.exists(s["summary_path"])
    assert json.load(open(s["summary_path"]))["docs_kept"] == s["docs_kept"]

    # stratified variant: every language retains ~its top quartile
    s2 = prune_corpus(spark, sf_dir, workdir, per_lang=True)
    assert persistent_ids() <= before
    assert s2["mode"] == "per_lang_quartile"
    assert 0 < s2["docs_kept"] < s2["docs_clean"]


def test_prune_mode_classifier_scorer(spark, sf_dir, workdir):
    """prune --scorer classifier: the discriminative quality signal
    drives the same clean -> rank -> keep flow, same lifecycle contract
    (no leaked cache), and selects a genuinely different slice than the
    bigram-LM scorer on the fixture corpus."""
    from transferdb_spark.modes.prune import prune_corpus
    from transferdb_spark.state.snapshots import read_snapshot

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persistent_ids()
    s = prune_corpus(spark, sf_dir, workdir, keep_deciles=3, scorer="classifier")
    assert persistent_ids() <= before
    assert s["scorer"] == "classifier"
    assert 0 < s["docs_kept"] <= s["docs_clean"] <= s["docs_total"]
    assert abs(s["docs_kept"] - 0.3 * s["docs_clean"]) <= 0.05 * s["docs_clean"] + 2

    kept_cls = {
        r["doc_id"]
        for r in read_snapshot(spark, s["snapshot_dir"], s["snapshot_version"])
        .select("doc_id")
        .collect()
    }
    s_lm = prune_corpus(
        spark, sf_dir, str(workdir) + "_lm", keep_deciles=3, scorer="bigram_lm"
    )
    kept_lm = {
        r["doc_id"]
        for r in read_snapshot(spark, s_lm["snapshot_dir"], s_lm["snapshot_version"])
        .select("doc_id")
        .collect()
    }
    assert kept_cls != kept_lm


def test_pipeline_mode_end_to_end(spark, sf_dir, workdir):
    """pipeline mode: raw corpus -> clean -> prune -> split ->
    decontaminate -> train-split BPE -> packed bins per split. Counts
    are monotone through the funnel, bins conserve every encoded token
    (concat-and-chunk loses nothing), every non-final bin is exactly
    the budget, and no cached relation leaks."""
    import json
    import os

    from transferdb_spark.modes.pipeline import build_training_corpus

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persistent_ids()
    m = build_training_corpus(spark, sf_dir, str(workdir), budget=64)
    assert persistent_ids() <= before

    assert (
        m["docs_raw"]
        >= m["docs_clean"]
        >= m["docs_pruned"]
        >= m["docs_decontaminated"]
        > 0
    )
    assert m["bpe_vocab"] <= 280
    assert set(m["bins"]) == {"train", "val", "test"}
    assert m["bins"]["train"]["n_tokens"] > m["bins"]["val"]["n_tokens"]

    # token conservation + budget-exact bins, per split
    for split, st in m["bins"].items():
        bins = spark.read.parquet(os.path.join(m["bins_dir"], f"split={split}"))
        rows = bins.select("bin_id", "n_tokens").collect()
        assert sum(r["n_tokens"] for r in rows) == st["n_tokens"]
        if rows:
            last = max(r["bin_id"] for r in rows)
            assert all(r["n_tokens"] == 64 for r in rows if r["bin_id"] != last)

    assert json.load(open(m["manifest_path"]))["docs_raw"] == m["docs_raw"]


def test_jsonl_roundtrip_and_quarantine(spark, sf_dir, tmp_path):
    """JSONL export/import round-trips the normalized table, and the
    PERMISSIVE import quarantines malformed lines whole (broken JSON
    never aborts the job, the error-log stance applied to files)."""
    from transferdb_spark.modes.jsonl_mode import (
        jsonl_export,
        jsonl_import,
        jsonl_import_quarantine,
    )
    from transferdb_spark.operators.normalize import normalize_projection
    from transferdb_spark.sources.registry import load_table

    nation = load_table(spark, sf_dir, "nation")
    path = jsonl_export(spark, nation, "nation", str(tmp_path), n_chunks=4)
    want = normalize_projection(nation)
    got = jsonl_import(spark, path, want.schema)
    assert got.count() == want.count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # drop a damaged part file into the dir (appending in place would
    # trip Hadoop's local-FS .crc sidecar, which is its own failure
    # mode, not the parse quarantine under test): truncated JSON + a
    # type clash
    with open(path + "/part-99999-corrupt.json", "w") as f:
        f.write('{"n_nationkey": 99, "n_name": "BROKEN"\n')
        f.write('{"n_nationkey": "not-a-number", "n_name": "X", "n_regionkey": 0, "n_comment": null}\n')
    clean, bad = jsonl_import_quarantine(spark, path, want.schema)
    assert clean.count() == want.count()
    bad_lines = [r["raw_line"] for r in bad.collect()]
    assert len(bad_lines) == 2 and any("BROKEN" in b for b in bad_lines)


def test_cli_jsonl_mode(spark, sf_dir, tmp_path, capsys):
    """--mode jsonl exports every included table, one dir per table."""
    import json
    import os

    from transferdb_spark.__main__ import main

    main([
        "--mode", "jsonl", "--source-dir", sf_dir,
        "--workdir", str(tmp_path), "--tables", "region,nation", "--chunks", "2",
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["paths"]) == {"region", "nation"}
    for p in out["paths"].values():
        assert os.path.isdir(p)


def test_snapshot_as_of_timestamp_time_travel(spark, tmp_path):
    """AS-OF-timestamp reads resolve to the latest version committed at
    or before the stamp; a stamp before the first commit raises; an
    explicit version plus as_of_ms is rejected."""
    import time

    import pytest

    from transferdb_spark.state.snapshots import (
        read_snapshot,
        resolve_version_at,
        write_snapshot,
    )

    base = str(tmp_path / "snap")
    t_before = int(time.time() * 1000) - 1
    write_snapshot(spark.range(1).selectExpr("id AS k"), base)
    time.sleep(0.05)
    t_mid = int(time.time() * 1000)
    time.sleep(0.05)
    write_snapshot(spark.range(5).selectExpr("id AS k"), base)

    assert read_snapshot(spark, base, as_of_ms=t_mid).count() == 1
    now = int(time.time() * 1000) + 1000
    assert read_snapshot(spark, base, as_of_ms=now).count() == 5
    assert resolve_version_at(base, t_mid) < resolve_version_at(base, now)
    with pytest.raises(ValueError):
        resolve_version_at(base, t_before)
    with pytest.raises(ValueError):
        read_snapshot(spark, base, version=1, as_of_ms=now)


def test_prune_mode_kn_scorer(spark, sf_dir, workdir):
    """prune --scorer kn_lm: the Kneser-Ney signal drives the same
    clean -> rank -> keep flow with the same lifecycle contract."""
    from transferdb_spark.modes.prune import prune_corpus

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persistent_ids()
    s = prune_corpus(spark, sf_dir, workdir, keep_deciles=3, scorer="kn_lm")
    assert persistent_ids() <= before
    assert s["scorer"] == "kn_lm"
    assert 0 < s["docs_kept"] <= s["docs_clean"] <= s["docs_total"]
    assert abs(s["docs_kept"] - 0.3 * s["docs_clean"]) <= 0.05 * s["docs_clean"] + 2


def test_pipeline_optional_ingest_gates(spark, sf_dir, tmp_path):
    """pipeline --nfc --max-compressibility: the gates compose ahead of
    the canonical stages; an extreme compressibility bound drops docs,
    a permissive one is a no-op vs the default path."""
    from transferdb_spark.modes.pipeline import build_training_corpus

    base = build_training_corpus(
        spark, sf_dir, str(tmp_path / "a"), budget=64
    )
    gated = build_training_corpus(
        spark, sf_dir, str(tmp_path / "b"), budget=64,
        nfc=True, max_compressibility=2.0,
    )
    # fixture text is ASCII: NFC is identity; ratio<=2.0 keeps all
    # (short docs exceed 1.0 from the zlib header overhead)
    assert gated["docs_after_compress_gate"] == base["docs_raw"]
    assert gated["docs_clean"] == base["docs_clean"]

    tight = build_training_corpus(
        spark, sf_dir, str(tmp_path / "c"), budget=64,
        max_compressibility=0.4,
    )
    assert tight["docs_after_compress_gate"] < base["docs_raw"]


def test_compare_fix_sql_large_divergence_never_full_collects(spark, tmp_path):
    """VERDICT item: a pathologically divergent target (every source
    row missing) must stream its repair statements to the fix file via
    write.text — the driver may only ever collect CHUNK-granularity
    relations. Enforced by instrumenting DataFrame.collect: any call
    returning more rows than a chunk-summary bound fails the test."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from transferdb_spark.modes.compare_mode import compare_tables

    n_chunks = 8
    src = spark.range(0, 20_000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v")
    )
    tgt = src.limit(0)  # total divergence: 20k repair inserts

    real_collect = DataFrame.collect
    oversized = []

    def bounded_collect(self):
        rows = real_collect(self)
        if len(rows) > 4 * n_chunks:
            oversized.append(len(rows))
        return rows

    workdir = str(tmp_path / "wd")
    try:
        DataFrame.collect = bounded_collect
        report = compare_tables(
            spark, src, tgt, "bigdiff", workdir, key="k", n_chunks=n_chunks
        )
    finally:
        DataFrame.collect = real_collect

    assert not oversized, f"driver materialized {oversized} rows"
    assert report.insert_rows == 20_000 and report.delete_rows == 0
    with open(report.fix_sql_path) as fh:
        stmts = [ln for ln in fh if ln.startswith("REPLACE") or ln.startswith("INSERT")]
    assert len(stmts) == 20_000


def test_full_migrate_fresh_write_is_one_narrow_job(spark, lineitem, tmp_path):
    """The default fresh write is one scan → project → write job with no
    exchange: chunk identity is the persisted plan, so nothing samples
    or shuffles the table. Tripwire: Spark does not document that a
    narrow parquet write runs as one single-stage job."""
    from transferdb_spark.modes.full import full_migrate_table
    from transferdb_spark.plans.chunker import elect_split_key

    key, bounds = elect_split_key(lineitem)
    sc = spark.sparkContext
    group = "tripwire-full-narrow-write"
    sc.setJobGroup(group, group)
    try:
        target = full_migrate_table(
            spark, lineitem, "lineitem", str(tmp_path), n_chunks=8, key=key, bounds=bounds
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1
    # a shuffle exchange would add a stage (or, under AQE, a job)
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1
    assert spark.read.parquet(target).count() == lineitem.count()


def test_full_migrate_crash_mid_marks_resumes_exactly(spark, lineitem, tmp_path, monkeypatch):
    """A crash while the fresh run marks its chunks (the state flush
    raises from call k on, as if the process died there) must not leave
    some chunks SUCCESS over a target that already holds every row:
    the resumed target holds exactly the source's rows."""
    from transferdb_spark.modes.full import full_migrate_table
    from transferdb_spark.state.store import SUCCESS, StateStore

    real_flush = StateStore._flush
    crashes = 0
    for k in (2, 3, 4):
        wd = str(tmp_path / f"crash{k}")
        calls = 0

        def flush(self):
            nonlocal calls
            calls += 1
            if calls >= k:
                raise OSError("crash during the state flush")
            real_flush(self)

        monkeypatch.setattr(StateStore, "_flush", flush)
        try:
            full_migrate_table(spark, lineitem, "lineitem", wd, n_chunks=4, key="l_orderkey")
        except OSError:
            crashes += 1
        monkeypatch.setattr(StateStore, "_flush", real_flush)

        target = full_migrate_table(spark, lineitem, "lineitem", wd, n_chunks=4, key="l_orderkey")
        store = StateStore(wd, "full")
        assert store.pending("lineitem") == [], k
        assert {c.status for c in store._chunks.values()} == {SUCCESS}
        landed = spark.read.parquet(target)
        assert landed.count() == lineitem.count(), k
        assert landed.exceptAll(lineitem).count() == 0, k
    assert crashes >= 1  # the marking flush itself crashed at least once


class _Died(BaseException):
    """A process death: no ``except Exception`` handler runs after it."""


def _landed_once(spark, src, target):
    from transferdb_spark.operators.diff import dataset_diff

    missing, extra = dataset_diff(src, spark.read.parquet(target))
    return missing.count() == 0 and extra.count() == 0


def _half_landed(lineitem, wd):
    """Chunks 0 and 2 of a 4-chunk plan landed (data and SUCCESS);
    chunks 1 and 3 are still WAITING."""
    from transferdb_spark.plans.chunker import plan_chunks
    from transferdb_spark.state.store import SUCCESS, StateStore

    store = StateStore(wd, "full")
    chunks = plan_chunks(lineitem, "l_orderkey", 4)
    store.init_table("lineitem", chunks)
    for c in (chunks[0], chunks[2]):
        lineitem.filter(c.predicate).write.mode("append").parquet(os.path.join(wd, "target", "lineitem"))
    store.mark("lineitem", [0, 2], SUCCESS)


def _torn_write(monkeypatch):
    """The staged write dies before it commits, leaving a torn file."""
    from pyspark.sql import DataFrameWriter

    def parquet(self, path, *args, **kwargs):
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "part-00000-torn.snappy.parquet"), "wb") as fh:
            fh.write(b"PAR1")
        raise _Died()

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def _death_before_mark(monkeypatch):
    from transferdb_spark.state.store import SUCCESS, StateStore

    real = StateStore.mark

    def mark(self, table, chunk_ids, status, *args, **kwargs):
        if status == SUCCESS:
            raise _Died()
        return real(self, table, chunk_ids, status, *args, **kwargs)

    monkeypatch.setattr(StateStore, "mark", mark)


def _death_mid_mark(monkeypatch):
    """The commit flush dies with its temp file half written."""
    import json

    import transferdb_spark.state.store as store_mod

    real = store_mod._write_json_atomic

    def write(path, obj, indent=None):
        if all(r["status"] == store_mod.SUCCESS for r in obj):
            with open(path + ".tmp", "w") as fh:
                fh.write(json.dumps(obj)[:40])
            raise _Died()
        real(path, obj, indent)

    monkeypatch.setattr(store_mod, "_write_json_atomic", write)


def _death_mid_move(monkeypatch):
    """The move dies after one file (append) or before the rename
    (replace)."""
    real_replace, real_rename = os.replace, os.rename
    moved = []

    def replace(src, dst):
        if ".landing-" in src:
            if moved:
                raise _Died()
            moved.append(src)
        real_replace(src, dst)

    def rename(src, dst):
        if ".landing-" in src:
            raise _Died()
        real_rename(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    monkeypatch.setattr(os, "rename", rename)


@pytest.mark.parametrize("resume", [False, True], ids=["fresh", "resume"])
@pytest.mark.parametrize(
    "crash",
    [_torn_write, _death_before_mark, _death_mid_mark, _death_mid_move],
    ids=["before-commit", "before-mark", "mid-mark", "mid-move"],
)
def test_full_landing_survives_a_crash_at_every_step(spark, lineitem, tmp_path, monkeypatch, crash, resume):
    """A death at each step of the landing — before the staged write
    commits, after it but before the SUCCESS mark, with the mark's flush
    half written, part-way through the move — and then a plain re-run:
    the target holds every source row exactly once. The fresh case lands
    over an older plan's target, so its move replaces data."""
    from transferdb_spark.modes.full import full_migrate_table
    from transferdb_spark.state.store import StateStore

    wd = str(tmp_path)
    if resume:
        _half_landed(lineitem, wd)
    else:
        full_migrate_table(spark, lineitem, "lineitem", wd, n_chunks=2, key="l_orderkey")
    with monkeypatch.context() as m:
        crash(m)
        with pytest.raises(_Died):
            full_migrate_table(spark, lineitem, "lineitem", wd, n_chunks=4, key="l_orderkey")
    target = full_migrate_table(spark, lineitem, "lineitem", wd, n_chunks=4, key="l_orderkey")
    assert StateStore(wd, "full").pending("lineitem") == []
    assert _landed_once(spark, lineitem, target)
    assert [d for d in os.listdir(os.path.dirname(target)) if ".landing-" in d] == []


def test_full_resume_death_between_write_and_mark_lands_once(spark, lineitem, tmp_path, monkeypatch):
    """A resume whose chunks were written but never marked (the process
    died in between) must not land them twice on the next run: appended
    straight into the target, one chunk lands twice (7,508 rows for
    6,000 at sf0.001)."""
    from transferdb_spark.modes.full import full_migrate_table

    wd = str(tmp_path)
    _half_landed(lineitem, wd)
    with monkeypatch.context() as m:
        _death_before_mark(m)
        with pytest.raises(_Died):
            full_migrate_table(spark, lineitem, "lineitem", wd, n_chunks=4, key="l_orderkey")
    target = full_migrate_table(spark, lineitem, "lineitem", wd, n_chunks=4, key="l_orderkey")
    assert spark.read.parquet(target).count() == lineitem.count()
    assert _landed_once(spark, lineitem, target)


def test_full_transient_commit_failure_is_not_a_failed_chunk(spark, lineitem, tmp_path, monkeypatch):
    """A transient failure of the SUCCESS flush after a committed write
    leaves the chunks pending, not FAILED: retry_failed has nothing to
    re-land, and the next run lands the table once (marking them FAILED
    made retry_failed append a second copy: 12,000 rows for 6,000)."""
    from transferdb_spark.modes.full import full_migrate_table, retry_failed
    from transferdb_spark.state.store import SUCCESS, StateStore

    wd = str(tmp_path)
    real = StateStore._flush
    flaked = []

    def flush(self):
        if not flaked and any(c.status == SUCCESS for c in self._chunks.values()):
            flaked.append(1)
            raise OSError("transient meta-store failure")
        real(self)

    with monkeypatch.context() as m:
        m.setattr(StateStore, "_flush", flush)
        with pytest.raises(OSError):
            full_migrate_table(spark, lineitem, "lineitem", wd, n_chunks=4, key="l_orderkey")
    stats = retry_failed(spark, lineitem, "lineitem", wd)
    assert stats == {"retried": 0, "succeeded": 0, "failed": 0}
    assert StateStore(wd, "full").error_log("lineitem") == []
    target = full_migrate_table(spark, lineitem, "lineitem", wd, n_chunks=4, key="l_orderkey")
    assert spark.read.parquet(target).count() == lineitem.count()
    assert _landed_once(spark, lineitem, target)


def test_retry_failed_lands_failed_chunks_in_one_job_and_quarantines_as_one(spark, lineitem, tmp_path, monkeypatch):
    """retry_failed is one landing: a failed write marks every retried
    chunk FAILED with one error-log entry each, and the next retry
    lands them all."""
    from pyspark.sql import DataFrameWriter

    from transferdb_spark.modes.full import retry_failed
    from transferdb_spark.plans.chunker import plan_chunks
    from transferdb_spark.state.store import FAILED, SUCCESS, StateStore

    wd = str(tmp_path)
    store = StateStore(wd, "full")
    chunks = plan_chunks(lineitem, "l_orderkey", 4)
    store.init_table("lineitem", chunks)
    for c in chunks:
        if c.chunk_id not in (1, 3):
            lineitem.filter(c.predicate).write.mode("append").parquet(os.path.join(wd, "target", "lineitem"))
    store.mark("lineitem", [0, 2], SUCCESS)
    store.mark("lineitem", [1, 3], FAILED, "connection reset")

    def parquet(self, path, *args, **kwargs):
        raise OSError("executor lost")

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        stats = retry_failed(spark, lineitem, "lineitem", wd, store=store)
    assert stats == {"retried": 2, "succeeded": 0, "failed": 2}
    log = store.error_log("lineitem")
    assert [(e["chunk_id"], e["attempt"]) for e in log[2:]] == [(1, 2), (3, 2)]
    assert all("executor lost" in e["error"] for e in log[2:])

    assert retry_failed(spark, lineitem, "lineitem", wd, store=store) == {
        "retried": 2, "succeeded": 2, "failed": 0,
    }
    assert _landed_once(spark, lineitem, os.path.join(wd, "target", "lineitem"))


def test_full_resume_of_three_chunks_is_one_write_job(spark, lineitem, tmp_path):
    """Resuming k pending chunks runs ONE write job over the OR of their
    predicates, not k. Tripwire on the job count, read through a job
    group."""
    from transferdb_spark.modes.full import full_migrate_table
    from transferdb_spark.plans.chunker import elect_split_key, plan_chunks
    from transferdb_spark.state.store import SUCCESS, StateStore

    wd = str(tmp_path)
    key, bounds = elect_split_key(lineitem)
    chunks = plan_chunks(lineitem, key, 4, bounds=bounds)
    store = StateStore(wd, "full")
    store.init_table("lineitem", chunks)
    lineitem.filter(chunks[0].predicate).write.parquet(os.path.join(wd, "target", "lineitem"))
    store.mark("lineitem", 0, SUCCESS)

    sc = spark.sparkContext
    group = "tripwire-full-resume-one-job"
    sc.setJobGroup(group, group)
    try:
        target = full_migrate_table(spark, lineitem, "lineitem", wd, n_chunks=4, key=key, bounds=bounds)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert _landed_once(spark, lineitem, target)


def test_full_mode_writes_parquet_only_through_land():
    """One landing: every DataFrame ``.write`` in modes/full.py sits in
    _land, and nothing there appends to a target."""
    import ast

    path = os.path.join(os.path.dirname(__file__), "..", "transferdb_spark", "modes", "full.py")
    with open(path) as fh:
        tree = ast.parse(fh.read())
    writers, appends = [], []
    for node in tree.body:
        nodes = list(ast.walk(node))
        called = {id(n.func) for n in nodes if isinstance(n, ast.Call)}
        owner = getattr(node, "name", "<module>")
        for n in nodes:
            # `df.write` is a property; `sink.write(df, ...)` is a JDBC call
            if isinstance(n, ast.Attribute) and n.attr == "write" and id(n) not in called:
                writers.append(owner)
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "mode"
                and any(isinstance(a, ast.Constant) and a.value == "append" for a in n.args)
            ):
                appends.append(owner)
    assert writers == ["_land"]
    assert appends == []
