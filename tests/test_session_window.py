"""Native session_window (batch mode) must agree with the lag+cumsum
sessionization query — two independent implementations of the same
semantics checking each other."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.plans.analytics import (
    sessionization_gap30m,
)
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table

from .conftest import SF_SMOKE


def test_session_window_matches_lag_cumsum(spark):
    events = load_table(spark, SF_SMOKE, "events")
    native = (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    got = {r["user_id"]: r["n_sessions"] for r in native.collect()}
    expect = {
        r["user_id"]: r["n_sessions"]
        for r in sessionization_gap30m(spark, SF_SMOKE).collect()
    }
    assert got == expect


def test_streaming_session_counts_match_batch_session_window(spark):
    """The streaming session_window pipeline (watermark + AvailableNow
    drain) must emit exactly the sessions the batch session_window
    computes — same (user, start, n_events) triples."""
    from bigquery_cross_environment_etl_pipeline_spark.streaming.incremental import (
        drain_memory_sink,
        file_feed,
        stream_session_counts,
    )

    events = load_table(spark, SF_SMOKE, "events").filter(F.col("user_id") < 10)
    with file_feed(spark, events) as feed:
        sink = drain_memory_sink(stream_session_counts(feed.stream))
    got = {
        (r["user_id"], r["session_start"], r["n_events"]) for r in sink.collect()
    }
    batch = (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    # append mode emits a session only once the watermark (final value:
    # max event time - lateness) passes its close; the tail sessions
    # stay in state. Split the batch answer on that horizon and demand
    # exact equality on the emitted side, non-emptiness of both.
    import datetime as dt

    horizon = events.agg(F.max(F.col("ts").cast("timestamp"))).first()[
        0
    ] - dt.timedelta(minutes=10)
    expect = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in batch.collect()
        if r["session_end"] <= horizon
    }
    withheld = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in batch.collect()
        if r["session_end"] > horizon
    }
    assert got == expect and got
    assert not (withheld & got)
