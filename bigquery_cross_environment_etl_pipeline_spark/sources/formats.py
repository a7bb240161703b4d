"""Source-edge readers that carry engine policy.

The reference's endpoints are BigQuery (columnar service) and MySQL
(JDBC): here parquet is the primary columnar store, and Spark's own
data sources serve the interchange formats. This module holds the
schema-evolving parquet read, the JDBC reader shape for real MySQL
parity, and the embedded-Derby shutdown that JDBC queries and tests
need.

Scale notes: JDBC reads are partitioned on a numeric column so one
table read fans out across executors instead of one connection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-tolerant parquet read: ``mergeSchema`` unions
    the footers of every file, so batches written before a column was
    added surface it as NULL instead of failing the read. The merge
    touches footers only (no data scan); at 100 TB the steady-state
    alternative — declaring the current schema explicitly with
    ``.schema(...)`` — skips even that, so this reader is for the
    evolving-ingest edge, not the hot path."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def derby_shutdown(spark: SparkSession, db_path: str) -> None:
    """Shut down one embedded Derby database before its directory is
    deleted. Derby keeps every booted database registered in the JVM —
    page cache, background threads, open file handles — until an
    explicit ``;shutdown=true`` connection; deleting the directory out
    from under a booted engine leaks all of that (and disk, on posix,
    until JVM exit) once per invocation. Derby signals a SUCCESSFUL
    shutdown by raising SQLException 08006, so the raise is swallowed;
    a database that was never booted raises too, equally fine."""
    try:
        spark._jvm.java.sql.DriverManager.getConnection(  # noqa: SLF001
            f"jdbc:derby:{db_path};shutdown=true"
        )
    except Exception:  # noqa: BLE001 — 08006 IS the success signal
        pass


def jdbc_reader(
    spark: SparkSession,
    url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    driver: str | None = None,
):
    """Configured JDBC read (the reference's MySQL side, reference
    core/database/database_class.py:12-38). Returns the reader so
    callers can `.load()`; partitioned on a numeric column so the scan
    parallelizes (each partition becomes one ranged SELECT — the shape
    a 1000-executor cluster uses to drain a sharded OLTP source).
    Credentials and driver are optional: embedded engines (Derby, which
    ships in Spark's jars and backs the driver-visible
    ``jdbc_roundtrip_rollup`` query and tests/test_jdbc_roundtrip.py)
    need neither, a real MySQL endpoint passes all three."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
    )
    if user is not None:
        reader = reader.option("user", user)
    if password is not None:
        reader = reader.option("password", password)
    if driver is not None:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound or 0)
            .option("upperBound", upper_bound or 1_000_000)
        )
    return reader
