"""Incrementally-maintained rollups (the hypertable-continuous-aggregate
shape) and small-file compaction.

A 100 TB event stream can't re-aggregate history per query; the rollup
table (per time-bucket x dimension partial aggregates) is maintained
incrementally: each new batch aggregates to partials, which MERGE into
the stored rollup by key. Because count/sum are decomposable, merging
partials is exact — the invariant ``incremental == full recompute`` is
tested. avg/stddev derive from (count, sum, sum_sq) at read time.

Compaction: streaming appends produce many small files; ``compact``
rewrites a table directory to ~target file count with one job —
the routine maintenance op that keeps scan parallelism healthy.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localrel import has_parquet, overwrite_local
from ..sources.registry import read_parquet

ROLLUP_KEYS = ["bucket", "event_type"]


def aggregate_batch(batch: DataFrame, ts_col: str = "ts", bucket: str = "1 hour") -> DataFrame:
    """Batch -> partial-aggregate rows keyed by (time bucket, type)."""
    return (
        batch.groupBy(
            F.date_trunc("hour", F.col(ts_col)).alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
            F.sum(
                (F.col("value").cast("decimal(18,4)") * F.col("value").cast("decimal(18,4)"))
            ).alias("sum_sq"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def merge_rollup(existing: DataFrame | None, partial: DataFrame) -> DataFrame:
    """Merge new partials into the stored rollup: decomposable measures
    combine exactly (counts/sums add, min/max fold)."""
    if existing is None:
        return partial
    combined = existing.unionByName(partial)
    return combined.groupBy(*ROLLUP_KEYS).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


class RollupTable:
    """Parquet-backed continuously-maintained rollup."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame | None:
        return read_parquet(self.spark, self.path) if has_parquet(self.path) else None

    def update(self, batch: DataFrame, ts_col: str = "ts") -> None:
        merged = merge_rollup(self.read(), aggregate_batch(batch, ts_col))
        # rollup is small (one row per bucket x dim); stage then rewrite
        overwrite_local(self.spark, merged.collect(), merged.schema, self.path)

    def serve(self) -> DataFrame:
        """Read-side view with derived measures (avg from partials)."""
        df = self.read()
        if df is None:
            raise FileNotFoundError(f"no rollup at {self.path}")
        return df.withColumn(
            "avg_value",
            (F.col("sum_value").cast("double") / F.col("n_events")),
        )


def compact(spark: SparkSession, path: str, target_files: int = 8) -> int:
    """Rewrite a parquet directory into ~target_files files; returns the
    resulting file count. (A cluster deployment drives target_files from
    bytes/128 MB; repartition not coalesce so output sizes balance.)"""
    df = read_parquet(spark, path)
    tmp = path.rstrip("/") + "__compacting"
    df.repartition(target_files).write.mode("overwrite").parquet(tmp)
    # atomic-enough swap for single-writer maintenance windows
    import shutil

    shutil.rmtree(path)
    os.rename(tmp, path)
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
