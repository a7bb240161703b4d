"""Source-edge readers: the JDBC reader is configured without loading,
and the schema-evolving parquet read merges old and new batches."""

from __future__ import annotations

import pytest

from bigquery_cross_environment_etl_pipeline_spark.sources import formats
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table

from .conftest import SF_SMOKE


@pytest.fixture()
def events(spark):
    return load_table(spark, SF_SMOKE, "events")


def test_jdbc_reader_is_configured_not_loaded(spark):
    reader = formats.jdbc_reader(
        spark,
        url="jdbc:mysql://localhost:3306/pulse",
        table="billing_alerts_setting",
        user="u",
        password="p",
        partition_column="org_id",
    )
    # no MySQL server / driver jar in this environment: the reader is a
    # configured handle; loading must fail with a driver/connection
    # error, not a config error
    with pytest.raises(Exception):
        reader.load()


def test_parquet_schema_evolution_mergeschema(spark, tmp_path, events):
    """Batches written before a column existed must read back with the
    merged schema, old rows NULL in the new column."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    old = events.select("event_id", "user_id")
    new = events.select(
        "event_id", "user_id", F.lit("enriched").alias("pipeline_tag")
    )
    old.write.parquet(f"{path}/batch=1")
    new.write.parquet(f"{path}/batch=2")

    merged = formats.read_parquet_evolving(spark, path)
    assert set(merged.columns) >= {"event_id", "user_id", "pipeline_tag"}
    n = events.count()
    assert merged.count() == 2 * n
    assert merged.filter(F.col("pipeline_tag").isNull()).count() == n
    assert merged.filter(F.col("pipeline_tag") == "enriched").count() == n
