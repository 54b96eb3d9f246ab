"""JDBC source/sink (S1/S2/S7) — the live-database edge of the engine.

The reference reads Oracle via chunked SELECTs with an AS OF SCN
snapshot and writes MySQL via prepared multi-row INSERT/REPLACE
(/root/reference/module/migrate/sql/oracle/o2m/table.go:89-216,
/root/reference/database/mysql/full.go:22-35). Spark-native shape:

- read: `spark.read.jdbc(..., predicates=[chunk ranges])` — one Spark
  partition per chunk predicate, pushdown of the range WHERE into the
  source (the DBMS_PARALLEL_EXECUTE analogue, P3/P4).
- write: `df.write.jdbc(batchsize=…)` — batched prepared inserts are
  built into the JVM writer; live CDC apply replays translated redo
  transactions over one connection (modes/apply.apply_transactions).

No JDBC driver ships in this container, so everything here is pure
plan/option construction (unit-testable); the one method that needs a
live database is the terminal `.load()` / `.save()`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from transferdb_spark.plans.chunker import Chunk


@dataclass
class JdbcSource:
    url: str
    table: str
    user: str = ""
    password: str = ""
    driver: str = ""
    fetch_size: int = 10_000
    session_init: str = ""  # e.g. snapshot/isolation setup per connection
    options: dict[str, str] = field(default_factory=dict)

    def reader(self, spark: SparkSession, chunks: list[Chunk] | None = None):
        """DataFrameReader with chunk predicates as partitions.

        Each chunk predicate becomes one JDBC partition — the reader
        issues `SELECT ... WHERE <predicate>` per partition in
        parallel, exactly the reference's per-chunk SELECT pipeline."""
        opts = {
            "url": self.url,
            "dbtable": self.table,
            "fetchsize": str(self.fetch_size),
            **({"user": self.user} if self.user else {}),
            **({"password": self.password} if self.password else {}),
            **({"driver": self.driver} if self.driver else {}),
            **({"sessionInitStatement": self.session_init} if self.session_init else {}),
            **self.options,
        }
        reader = spark.read.format("jdbc")
        for k, v in opts.items():
            reader = reader.option(k, v)
        if chunks:
            # spark.read.jdbc(predicates=...) is only on the shortcut
            # API; for the option API pass them via load-time predicates
            return reader, [c.predicate for c in chunks]
        return reader, None

    def load(self, spark: SparkSession, chunks: list[Chunk] | None = None) -> DataFrame:
        """Terminal load — requires a JDBC driver on the classpath."""
        if chunks:
            # sessionInitStatement MUST ride along here: the chunked
            # path opens one connection per chunk partition, and the
            # init statement (snapshot/SCN pinning, schema selection)
            # has to run on every one of them before its SELECT.
            props = {
                k: v
                for k, v in {
                    "user": self.user,
                    "password": self.password,
                    "driver": self.driver,
                    "fetchsize": str(self.fetch_size),
                    "sessionInitStatement": self.session_init,
                    **self.options,
                }.items()
                if v
            }
            return spark.read.jdbc(
                self.url, self.table, predicates=[c.predicate for c in chunks], properties=props
            )
        reader, _ = self.reader(spark)
        return reader.load()


@dataclass
class JdbcSink:
    url: str
    table: str
    user: str = ""
    password: str = ""
    driver: str = ""
    batch_size: int = 1000  # reference default is 100 (config.go:50); JDBC
    # writers amortize far better at 1000+
    isolation: str = "READ_COMMITTED"

    def write(self, df: DataFrame, mode: str = "append") -> None:
        """Terminal write — batched prepared inserts, one txn/partition."""
        (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.table)
            .option("batchsize", str(self.batch_size))
            .option("isolationLevel", self.isolation)
            .options(
                **{
                    k: v
                    for k, v in {
                        "user": self.user,
                        "password": self.password,
                        "driver": self.driver,
                    }.items()
                    if v
                }
            )
            .mode(mode)
            .save()
        )

    def write_with_retry(
        self,
        df: DataFrame,
        mode: str = "append",
        max_retries: int = 3,
        backoff_s: float = 1.0,
    ) -> int:
        """Driver-level retry with exponential backoff for transient
        connection-class failures (the reference retries failed applies
        and records each attempt, meta.go error tables). Returns the
        attempt count that succeeded.

        Scope note: WITHIN a healthy connection, per-partition task
        retries are Spark-native (spark.task.maxFailures) — this wraps
        the whole write for failures the task scheduler can't absorb
        (endpoint down, auth churn). Retrying mode="append" is safe
        only when the statement is idempotent (REPLACE / ON DUPLICATE
        KEY upsert) — a partially-applied plain append would duplicate
        rows; for plain inserts retry per-chunk with the chunk's
        predicate and a delete-before-write, as full-mode resume does.
        """
        import time

        last: Exception | None = None
        for attempt in range(1, max_retries + 2):
            try:
                self.write(df, mode=mode)
                return attempt
            except Exception as e:  # noqa: BLE001 — backoff and retry
                last = e
                if attempt > max_retries:
                    break
                time.sleep(backoff_s * (2 ** (attempt - 1)))
        raise last  # type: ignore[misc]

    def execute(self, spark: SparkSession, sql: str) -> int:
        """Run one driver-side DDL/DML statement over JDBC (py4j).

        Used for DDL and generated fix-SQL — O(1) driver work per
        statement; row data never flows through the driver."""
        jvm = spark._jvm
        if self.driver:
            jvm.java.lang.Class.forName(self.driver)
        if self.user:
            conn = jvm.java.sql.DriverManager.getConnection(self.url, self.user, self.password)
        else:
            conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            st = conn.createStatement()
            try:
                return st.executeUpdate(sql)
            finally:
                st.close()
        finally:
            conn.close()

    def upsert_batch(self, df: DataFrame, key_cols: list[str]) -> str:
        """REPLACE-safe-mode statement text for a MERGE-style apply.

        The reference's safe mode rewrites INSERT→REPLACE
        (translate.go:118-128); with a generic JDBC sink the equivalent
        is an ON DUPLICATE KEY UPDATE / MERGE statement executed by a
        foreachBatch writer. Returns the statement template."""
        cols = df.columns
        col_list = ", ".join(cols)
        placeholders = ", ".join(["?"] * len(cols))
        updates = ", ".join(f"{c} = VALUES({c})" for c in cols if c not in key_cols)
        return (
            f"INSERT INTO {self.table} ({col_list}) VALUES ({placeholders}) "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )
