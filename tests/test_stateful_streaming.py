"""applyInPandasWithState: per-key state must accumulate across multiple
micro-batches and converge exactly to the batch answer."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table
from bigquery_cross_environment_etl_pipeline_spark.streaming.incremental import (
    await_drain,
    file_feed,
)
from bigquery_cross_environment_etl_pipeline_spark.streaming.stateful import (
    stream_user_totals_cents,
)

from .conftest import SF_SMOKE


def test_stateful_totals_accumulate_across_batches(spark):
    events = load_table(spark, SF_SMOKE, "events")
    # 4 files -> maxFilesPerTrigger=1 forces 4 micro-batches through state
    with file_feed(spark, events.repartition(4), max_files_per_trigger=1) as feed:
        q = (
            stream_user_totals_cents(feed.stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("user_totals")
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q, 180)
    n_batches = len(q.recentProgress)
    assert n_batches >= 2, f"expected multiple micro-batches, got {n_batches}"

    # memory sink in update mode appends one refreshed row per touched
    # key per batch -> the LAST row per user is the converged total
    final = spark.sql(
        """
        SELECT user_id, n_events, total_cents FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY rid DESC) rn
          FROM (SELECT *, monotonically_increasing_id() AS rid FROM user_totals)
        ) WHERE rn = 1
        """
    ).collect()
    got = {r["user_id"]: (r["n_events"], r["total_cents"]) for r in final}

    # integer cents add exactly, so the streamed state must equal the
    # batch aggregate bit for bit, whatever the micro-batch split
    cents = F.round(F.col("value") * 100).cast("bigint")
    expect = {
        r["user_id"]: (r["n"], r["c"])
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c"))
        .collect()
    }
    assert got == expect
