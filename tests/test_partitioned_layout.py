"""Time-partitioned destination layout: the incremental filter must
prune partitions at the source level (SURVEY.md §4 'partition pruning'
row — the optimization the reference lacks)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.operators.load import load_append
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table

from .conftest import SF_SMOKE


def test_partitioned_write_and_pruning(spark, tmp_path):
    events = load_table(spark, SF_SMOKE, "events")
    dest = str(tmp_path / "dest")
    res = load_append(events, dest, batch_id="b1", time_partition_col="ts")
    assert res.status == "SUCCESS"

    back = spark.read.parquet(dest)
    assert back.count() == 1000
    # ~30 daily partitions materialized
    import os

    batch_dir = os.path.join(dest, "_batch_id=b1")
    days = [d for d in os.listdir(batch_dir) if d.startswith("_dt=")]
    assert 28 <= len(days) <= 31

    # date-filtered read prunes partitions (PartitionFilters in the scan)
    q = back.filter(F.col("_dt") == "2024-01-05")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_dt" in plan.split("PartitionFilters")[-1]
    expected = events.filter(F.to_date("ts") == "2024-01-05").count()
    assert q.count() == expected


def test_partitioned_rerun_is_idempotent(spark, tmp_path):
    events = load_table(spark, SF_SMOKE, "events")
    dest = str(tmp_path / "dest")
    load_append(events, dest, batch_id="b1", time_partition_col="ts")
    load_append(events, dest, batch_id="b1", time_partition_col="ts")  # re-run
    assert spark.read.parquet(dest).count() == 1000
