"""J1/U3 — row-set difference and repair generation (compare slow path).

The reference renders each row to a string, builds in-memory string
sets for source and target, and takes set differences both directions:
source-minus-target rows become INSERT repairs, target-minus-source
become DELETE repairs
(/root/reference/module/compare/oracle/o2m/report.go:236-302).

Spark-first: `exceptAll` both directions — Catalyst plans it as a
hash/sort-merge anti-difference keyed on all columns; at 100 TB the
rows are pre-normalized (narrow) and the diff runs only on chunks whose
checksums mismatched, so the shuffled volume is bounded by the damaged
fraction, not the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dataset_diff(src: DataFrame, tgt: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(source_minus_target, target_minus_source) with multiplicity.

    exceptAll keeps duplicate multiplicity — matches the reference's
    multiset semantics over rendered row strings.
    """
    return src.exceptAll(tgt), tgt.exceptAll(src)


def diff_summary(src: DataFrame, tgt: DataFrame) -> DataFrame:
    """One-row summary: rows to insert / delete (fix-SQL accounting).

    Single-shuffle formulation: tag src rows +1 / tgt rows -1, sum the
    weights per distinct row, then inserts = Σ max(w,0) and deletes =
    Σ max(-w,0). One wide aggregation instead of the two exceptAll
    plans (each of which is itself a union+aggregate) — halves the
    shuffled volume, which is what dominates at 100 TB.

    The grouping key is the full-width 64-bit xxhash64 over the native
    column values (codegen'd, no string rendering), not the row itself:
    the shuffle then carries 16 bytes per row instead of the whole
    payload (~6× less for a lineitem-wide row). Only the ±1 weights are
    summed — hashes are group KEYS — so the 40-bit sum-overflow concern
    of the checksum path doesn't apply; a count error would need an
    exact 64-bit collision between a src-only and tgt-only row (odds
    ~n²/2⁶⁵ ≈ 10⁻⁸ at 10⁸ rows — the same multiset trust model as the
    reference's in-memory string sets, report.go:236-302). Each value
    is interleaved with its null flag because xxhash64 SKIPS null
    inputs — without flags ('a', NULL) and (NULL, 'a') would alias
    structurally, not probabilistically."""
    cols = src.columns
    args = [x for c in cols for x in (F.col(c), F.col(c).isNull())]
    tagged = src.select(F.xxhash64(*args).alias("_h"), F.lit(1).alias("_w")).unionAll(
        tgt.select(F.xxhash64(*args).alias("_h"), F.lit(-1).alias("_w"))
    )
    per_row = tagged.groupBy("_h").agg(F.sum("_w").alias("_w"))
    return per_row.agg(
        F.coalesce(F.sum(F.greatest(F.col("_w"), F.lit(0))), F.lit(0)).alias("insert_rows"),
        F.coalesce(F.sum(F.greatest(-F.col("_w"), F.lit(0))), F.lit(0)).alias("delete_rows"),
    )


def _row_hash_args(cols: list[str]) -> list:
    # null flags interleaved — xxhash64 skips NULL inputs, so without
    # flags ('a', NULL) and (NULL, 'a') would alias structurally
    return [x for c in cols for x in (F.col(c), F.col(c).isNull())]


def hashed_diff(
    src: DataFrame, tgt: DataFrame, broadcast_excess: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(source_minus_target, target_minus_source) — a hash-weighted
    form of dataset_diff. Only the compare_diff_inserts /
    compare_diff_deletes queries call it; compare mode phase 2 runs
    dataset_diff.

    exceptAll shuffles the FULL row payload; at 100 TB that is the
    whole table through the wire to find a damaged fraction of rows.
    This formulation shuffles 16 bytes/row instead:

      1. tag src +1 / tgt -1 on xxhash64(row), one wide aggregation —
         identical topology to diff_summary;
      2. rows with weight > 0 are src-excess, < 0 tgt-excess — a
         relation bounded by the DAMAGED fraction, not the table;
      3. re-scan each side and join it to its excess-hash set to
         recover the payloads. With broadcast_excess=True (default)
         the excess set is broadcast, so the re-scan has NO exchange
         at all — the right plan for the compare use case, where
         divergence is a damaged fraction (AQE alone still pays the
         map-side shuffle write of the full payload before it can
         demote the join). Pass broadcast_excess=False when the two
         inputs may diverge wholesale (excess ~ table size) and let
         AQE decide from runtime stats.
      4. multiset multiplicity is preserved exactly: each excess hash
         carries its weight w, and a row_number over the (small)
         matched relation emits exactly w copies — the same output
         multiset exceptAll produces.

    Trust model: a wrong row requires an exact 64-bit collision
    between a src-only and tgt-only row (~n²/2⁶⁵) — the regime the
    reference already accepts for its in-memory string sets
    (report.go:236-302). `dataset_diff` remains the collision-free
    exact form; equivalence is pinned by pytest.
    """
    from pyspark.sql.window import Window

    cols = src.columns
    h = F.xxhash64(*_row_hash_args(cols))
    tagged = src.select(h.alias("_h"), F.lit(1).alias("_w")).unionAll(
        tgt.select(h.alias("_h"), F.lit(-1).alias("_w"))
    )
    weights = tagged.groupBy("_h").agg(F.sum("_w").alias("_w"))

    def _recover(side: DataFrame, excess: DataFrame) -> DataFrame:
        if broadcast_excess:
            excess = F.broadcast(excess)
        matched = side.withColumn("_h", h).join(excess, "_h")
        rn = F.row_number().over(Window.partitionBy("_h").orderBy(F.lit(1)))
        return (
            matched.withColumn("_rn", rn)
            .filter(F.col("_rn") <= F.col("_w"))
            .select(*cols)
        )

    src_excess = weights.filter(F.col("_w") > 0)
    tgt_excess = weights.filter(F.col("_w") < 0).select(
        "_h", (-F.col("_w")).alias("_w")
    )
    return _recover(src, src_excess), _recover(tgt, tgt_excess)


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
