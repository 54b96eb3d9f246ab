"""J1/U3 — row-set difference and repair generation (compare slow path).

The reference renders each row to a string, builds in-memory string
sets for source and target, and takes set differences both directions:
source-minus-target rows become INSERT repairs, target-minus-source
become DELETE repairs
(/root/reference/module/compare/oracle/o2m/report.go:236-302).

Spark-first: one weighted aggregation keyed on the full row (src +1,
tgt -1, summed per distinct row) yields both directions at once — the
exact multiset `exceptAll` computes, with one scan of each side and
one shuffle instead of exceptAll's two. At 100 TB the rows are
pre-normalized (narrow) and the diff runs only on chunks whose
checksums mismatched, so the shuffled volume is bounded by the damaged
fraction, not the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _row_weights(src: DataFrame, tgt: DataFrame) -> tuple[DataFrame, str]:
    """(weights, w): the distinct rows with column `w` = (copies in src)
    - (copies in tgt), only where that is non-zero. Grouping on the row
    itself (not a hash) is exact and groups NULLs together — the same
    key exceptAll uses. `w` is named to shadow no data column (Spark
    resolves names case-insensitively)."""
    w = "_w"
    while w.lower() in {c.lower() for c in src.columns}:
        w = "_" + w
    tagged = src.withColumn(w, F.lit(1)).unionAll(tgt.withColumn(w, F.lit(-1)))
    weights = tagged.groupBy(*src.columns).agg(F.sum(w).alias(w))
    return weights.filter(F.col(w) != 0), w


def dataset_diff(src: DataFrame, tgt: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(source_minus_target, target_minus_source) with multiplicity —
    the multiset `exceptAll` returns in each direction, matching the
    reference's multiset semantics over rendered row strings.

    Both outputs read the SAME aggregate, so a plan that consumes both
    (repair_statements' union) reuses its exchange: each side is scanned
    and shuffled once. Each excess row is emitted |w| times."""
    weights, w = _row_weights(src, tgt)

    def _excess(weight: F.Column) -> DataFrame:
        copies = F.explode(F.sequence(F.lit(1), weight))
        return weights.filter(weight > 0).withColumn(w, copies).select(*src.columns)

    return _excess(F.col(w)), _excess(-F.col(w))


def diff_summary(src: DataFrame, tgt: DataFrame) -> DataFrame:
    """One-row summary: rows to insert / delete (fix-SQL accounting) —
    inserts = Σ max(w,0), deletes = Σ max(-w,0) over the row weights."""
    weights, name = _row_weights(src, tgt)
    w = F.col(name)
    return weights.agg(
        F.coalesce(F.sum(F.greatest(w, F.lit(0))), F.lit(0)).alias("insert_rows"),
        F.coalesce(F.sum(F.greatest(-w, F.lit(0))), F.lit(0)).alias("delete_rows"),
    )


def repair_sql(
    insert_rows: list, delete_rows: list, schema_cols: list[str], table: str
) -> list[str]:
    """Render fix-SQL statements from (already collected, small) diff rows.

    Mirrors report.go:244-302 INSERT/DELETE generation. Driver-side by
    design: repair sets are the *output* of the job and expected small;
    values are SQL-escaped (common/strings.go:453-472 semantics for
    quotes/backslashes).
    """

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, (int, float)):
            return str(v)
        s = str(v).replace("\\", "\\\\").replace("'", "''")
        return f"'{s}'"

    cols = ", ".join(schema_cols)
    out = []
    for r in insert_rows:
        vals = ", ".join(lit(r[c]) for c in schema_cols)
        out.append(f"INSERT INTO {table} ({cols}) VALUES ({vals});")
    for r in delete_rows:
        conds = " AND ".join(
            f"{c} IS NULL" if r[c] is None else f"{c} = {lit(r[c])}" for c in schema_cols
        )
        out.append(f"DELETE FROM {table} WHERE {conds} LIMIT 1;")
    return out


def _sql_literal_col(name: str, dtype, dialect: str = "mysql") -> F.Column:
    """Render one column as a SQL literal, executor-side.

    mysql: quotes AND backslashes doubled (the reference's
    common/strings.go:453-472 semantics — MySQL string literals
    backslash-unescape). ansi: quote doubling ONLY — standard SQL
    strings (Derby, DuckDB, ...) do not process backslashes, so
    doubling them would corrupt the value. Numerics and booleans pass
    through unquoted (Spark's double->string is shortest-round-trip,
    which ANSI targets parse back exactly); NULL renders as the
    keyword."""
    from pyspark.sql import types as T

    col = F.col(name)
    unquoted = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType,
    )
    if isinstance(dtype, unquoted):
        return F.when(col.isNull(), F.lit("NULL")).otherwise(col.cast("string"))
    esc = col.cast("string")
    if dialect != "ansi":
        esc = F.replace(esc, F.lit("\\"), F.lit("\\\\"))
    esc = F.replace(esc, F.lit("'"), F.lit("''"))
    return F.when(col.isNull(), F.lit("NULL")).otherwise(
        F.concat(F.lit("'"), esc, F.lit("'"))
    )


def repair_statements(
    insert_df: DataFrame, delete_df: DataFrame, table: str, dialect: str = "mysql"
) -> DataFrame:
    """Distributed fix-SQL rendering — columns (kind, stmt).

    The executor-side twin of repair_sql: each repair row is mapped to
    its INSERT/DELETE statement string with built-in expressions (pure
    codegen, no Python in the loop), so a heavily-corrupted 100 TB
    target streams statements straight to the sink instead of
    collect()ing every repair row into the driver
    (reference emits driver-side per-chunk files, module/compare/file.go
    — bounded there by 50k-row chunks; unbounded for us without this)."""
    cols = insert_df.columns
    col_list = ", ".join(cols)

    ins_vals = [
        _sql_literal_col(f.name, f.dataType, dialect) for f in insert_df.schema.fields
    ]
    ins = insert_df.select(
        F.lit("INSERT").alias("kind"),
        F.concat(
            F.lit(f"INSERT INTO {table} ({col_list}) VALUES ("),
            F.concat_ws(", ", *ins_vals),
            F.lit(");"),
        ).alias("stmt"),
    )

    del_conds = [
        F.when(F.col(f.name).isNull(), F.lit(f"{f.name} IS NULL")).otherwise(
            F.concat(
                F.lit(f"{f.name} = "), _sql_literal_col(f.name, f.dataType, dialect)
            )
        )
        for f in delete_df.schema.fields
    ]
    # MySQL's DELETE ... LIMIT 1 removes exactly one copy of a
    # duplicated row (multiset-exact repair). ANSI/Derby has no DELETE
    # LIMIT — dialect='ansi' drops it, which deletes ALL copies of a
    # matching row: exact for keyed/duplicate-free tables (the live
    # apply path), conservative otherwise.
    tail = ";" if dialect == "ansi" else " LIMIT 1;"
    dele = delete_df.select(
        F.lit("DELETE").alias("kind"),
        F.concat(
            F.lit(f"DELETE FROM {table} WHERE "),
            F.concat_ws(" AND ", *del_conds),
            F.lit(tail),
        ).alias("stmt"),
    )
    # DELETEs first: a modified row appears as one delete (stale image)
    # plus one insert (correct image) with the SAME key — applying the
    # insert first violates the PK. unionAll preserves relation order
    # on collect; streaming consumers must likewise drain kind=DELETE
    # before kind=INSERT (the reference's UPDATE = DELETE+REPLACE txn
    # ordering, translate.go:149-334).
    return dele.unionAll(ins)


def keyed_diff(
    src: DataFrame, tgt: DataFrame, keys: list[str]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(inserts, deletes, updates) by primary key — the keyed repair
    plan the reference approximates with UPDATE = DELETE+REPLACE
    (translate.go:149-334). A full outer join on the key classifies:
    key only in source -> INSERT, only in target -> DELETE, both but
    row-hash differs -> UPDATE. One shuffle on the key; the hash folds
    the non-key payload to 8 bytes before it moves.

    Both sides are renamed to disjoint column names BEFORE the hash is
    attached: src and tgt are typically derived from the same base
    relation (compare source vs its own mutated target), and Spark's
    self-join attribute dedup can silently rebind same-id columns
    across sides — fresh aliases make the lineages unambiguous."""
    from pyspark.sql import types as T

    from transferdb_spark.functions.hashing import row_hash

    payload = [c for c in src.columns if c not in keys]

    def hashed(df, p):
        renamed = df.toDF(*[f"{p}{c}" for c in df.columns])
        schema = T.StructType(
            [T.StructField(f"{p}{f.name}", f.dataType) for f in df.schema.fields]
        )
        # hash values never leave the engine (only the classification
        # does), so the fast xxhash64 variant is safe here
        return renamed.withColumn(f"{p}h", row_hash(schema, portable=False))

    s = hashed(src, "s_")
    t = hashed(tgt, "t_").select(*[f"t_{k}" for k in keys], "t_h")
    cond = [F.col(f"s_{k}") == F.col(f"t_{k}") for k in keys]
    j = s.join(t, cond, "full_outer")

    inserts = j.filter(F.col("t_h").isNull()).select(
        *[F.col(f"s_{c}").alias(c) for c in keys + payload]
    )
    deletes = j.filter(F.col("s_h").isNull()).select(
        *[F.col(f"t_{k}").alias(k) for k in keys]
    )
    updates = j.filter(
        F.col("s_h").isNotNull() & F.col("t_h").isNotNull() & (F.col("s_h") != F.col("t_h"))
    ).select(*[F.col(f"s_{c}").alias(c) for c in keys + payload])
    return inserts, deletes, updates
