"""Stream-stream join with event-time bounds: purchases joined to the
same user's clicks within the preceding 30 minutes — both sides
watermarked so join state is evictable (the unbounded-state trap)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table
from bigquery_cross_environment_etl_pipeline_spark.streaming.incremental import (
    drain_memory_sink,
    file_feed,
    stream_stream_interval_join,
)

from .conftest import SF_SMOKE


def test_stream_stream_interval_join_matches_batch(spark):
    events = load_table(spark, SF_SMOKE, "events")

    def sides(df):
        purchases = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        return purchases, clicks

    # streaming: watermark both sides + time-interval join condition
    with file_feed(spark, events) as feed:
        sp, sc = sides(feed.stream)
        joined = sp.withWatermark("p_ts", "1 hour").join(
            sc.withWatermark("c_ts", "1 hour"),
            F.expr(
                "p_user = c_user AND c_ts >= p_ts - INTERVAL 30 MINUTES AND c_ts <= p_ts"
            ),
        )
        sink = drain_memory_sink(joined.select("purchase_id", "click_id"), timeout=180)
    got = {(r["purchase_id"], r["click_id"]) for r in sink.collect()}

    bp, bc = sides(events)
    expect = {
        (r["purchase_id"], r["click_id"])
        for r in bp.join(
            bc,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts")),
        )
        .select("purchase_id", "click_id")
        .collect()
    }
    assert expect, "fixture should produce at least one pair"
    assert got == expect


def test_full_outer_emits_nulls_on_both_sides(spark):
    """FULL OUTER: an unmatched click flushes with NULL purchase AND an
    unmatched purchase flushes with NULL click once the watermark
    passes each horizon — the two state machines the round-8 catalog
    query composes, pinned here on a 4-row fixture where every
    expected row is known by construction."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    fmt = "%Y-%m-%d %H:%M:%S"

    def df(rows):
        return spark.createDataFrame(
            rows, "user_id long, ts string, event_id long"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    clicks = df(
        [
            (1, t0.strftime(fmt), 10),  # unmatched click
            (3, t0.strftime(fmt), 30),  # matched pair
        ]
    )
    purchases = df(
        [
            (2, t0.strftime(fmt), 20),  # unmatched purchase
            (3, (t0 + dt.timedelta(minutes=5)).strftime(fmt), 31),
        ]
    )
    adv1 = (t0 + dt.timedelta(hours=4)).strftime(fmt)
    adv2 = (t0 + dt.timedelta(hours=30)).strftime(fmt)
    sent = lambda ts: df([(-1, ts, -1)])
    with file_feed(
        spark, [clicks, sent(adv1), sent(adv2)], max_files_per_trigger=1
    ) as left, file_feed(
        spark, [purchases, sent(adv1), sent(adv2)], max_files_per_trigger=1
    ) as right:
        sink = drain_memory_sink(
            stream_stream_interval_join(
                left.stream,
                right.stream,
                key="user_id",
                interval="1 hour",
                how="full_outer",
            ).select(
                F.coalesce(F.col("l.user_id"), F.col("r.user_id")).alias("user_id"),
                F.col("l.event_id").alias("click_id"),
                F.col("r.event_id").alias("purchase_id"),
            ),
            timeout=180,
        )
    got = {
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in sink.filter(F.col("user_id") >= 0).collect()
    }
    assert got == {
        (1, 10, None),  # click-side null emission
        (2, None, 20),  # purchase-side null emission
        (3, 30, 31),  # the matched pair
    }
