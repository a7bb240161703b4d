"""Streaming dedup: duplicates arriving across micro-batches are
dropped via streaming state (the streaming form of exact dedup)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table
from bigquery_cross_environment_etl_pipeline_spark.streaming.incremental import (
    drain_memory_sink,
    file_feed,
)

from .conftest import SF_SMOKE


def test_streaming_dedup_query_matches_batch_distinct(spark):
    """The REGISTERED streaming_dedup_unique_counts query (redelivered
    feed, time-ordered files, maxFilesPerTrigger=4 -> genuinely
    multi-batch) must produce exactly the batch per-type distinct
    counts. This is the equality the round-2 advice found untested: an
    unordered source could drop first-ever occurrences as late once
    the watermark jumped, undercounting nondeterministically — the
    time-ordered write makes the watermark advance monotonically, so
    no first occurrence is ever late."""
    from bigquery_cross_environment_etl_pipeline_spark.plans.extended import (
        streaming_dedup_unique_counts,
    )

    got = {
        r["event_type"]: r["n_unique"]
        for r in streaming_dedup_unique_counts(spark, SF_SMOKE).collect()
    }
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("user_id") < 50)
        .select("event_type", "event_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {r["event_type"]: r["n"] for r in batch.collect()}
    assert got == want


def test_streaming_drop_duplicates_across_batches(spark):
    events = load_table(spark, SF_SMOKE, "events").limit(200)
    # the same 200 events written twice -> two files -> two micro-batches
    with file_feed(spark, [events, events], max_files_per_trigger=1) as feed:
        assert spark.read.parquet(f"{feed.dir}/src").count() == 400
        sink = drain_memory_sink(
            feed.stream.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"]),
            timeout=180,
        )
    got = sink.count()
    assert got == 200, f"expected 200 unique events, got {got}"


def test_streaming_dedup_within_watermark_bounds_state(spark):
    """dropDuplicatesWithinWatermark: same dedup result, but state for
    a key is EVICTED once the watermark passes it — at 100 TB/day the
    plain dropDuplicates state grows without bound, this variant holds
    only the watermark horizon."""
    events = load_table(spark, SF_SMOKE, "events").limit(200)
    with file_feed(spark, [events, events], max_files_per_trigger=1) as feed:
        sink = drain_memory_sink(
            feed.stream.withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["event_id"]),
            timeout=180,
        )
    got = sink.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("event_id").alias("d")
    ).first()
    assert got["d"] == 200
    assert got["n"] == 200, f"duplicates within the watermark horizon dropped, got {got['n']}"
