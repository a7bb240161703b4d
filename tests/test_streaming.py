"""Structured Streaming incremental path (T1-T6): AvailableNow backlog
processing, foreachBatch transactional append, windowed aggregation with
watermark."""

from __future__ import annotations

import contextlib
import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table
from bigquery_cross_environment_etl_pipeline_spark.streaming.incremental import (
    await_drain,
    drain_memory_sink,
    ensure_event_time,
    file_feed,
    stream_incremental_append,
    stream_stream_interval_join,
    stream_windowed_counts,
    write_microbatches,
)

from .conftest import SF_SMOKE


def test_stream_incremental_append_exactly_once(spark, tmp_path):
    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt")
    statuses: list = []

    with file_feed(spark, load_table(spark, SF_SMOKE, "events")) as feed:
        await_drain(
            stream_incremental_append(feed.stream, dest, ckpt, status_rows=statuses), 120
        )
        total = spark.read.parquet(dest).count()
        assert total == 1000
        assert statuses and all(s["status"] == "SUCCESS" for s in statuses)
        assert sum(s["rows"] for s in statuses) == 1000

        # restart with the same checkpoint: backlog already committed -> no dupes
        await_drain(
            stream_incremental_append(feed.stream, dest, ckpt, status_rows=statuses), 120
        )
        assert spark.read.parquet(dest).count() == 1000


def test_stream_incremental_append_replayed_epoch_overwrites(spark, tmp_path):
    """A crash after the sink wrote an epoch but before Spark committed it
    re-delivers that epoch on restart; the replay must replace the first
    write, not append a second copy of the batch."""
    dest = str(tmp_path / "dest")
    ckpt = tmp_path / "ckpt"
    statuses: list = []

    with file_feed(spark, load_table(spark, SF_SMOKE, "events")) as feed:
        await_drain(
            stream_incremental_append(feed.stream, dest, str(ckpt), status_rows=statuses),
            120,
        )
        assert spark.read.parquet(dest).count() == 1000

        # simulate the crash: drop the newest commit, as if the process died
        # between the foreachBatch write and Spark's commit of that epoch
        last = max(int(f) for f in os.listdir(ckpt / "commits") if f.isdigit())
        os.remove(ckpt / "commits" / str(last))
        os.remove(ckpt / "commits" / f".{last}.crc")

        await_drain(
            stream_incremental_append(feed.stream, dest, str(ckpt), status_rows=statuses),
            120,
        )
    assert [s["epoch_id"] for s in statuses].count(last) == 2, "epoch replayed"
    landed = spark.read.parquet(dest)
    assert landed.count() == 1000
    assert landed.select("event_id").distinct().count() == 1000
    assert sum({s["epoch_id"]: s["rows"] for s in statuses}.values()) == 1000


def test_stream_windowed_counts_matches_batch(spark):
    batch = load_table(spark, SF_SMOKE, "events")
    with file_feed(spark, batch) as feed:
        sink = drain_memory_sink(
            stream_windowed_counts(feed.stream, window_size="1 day"), timeout=120
        )
    got = {(r["window_start"], r["event_type"]): r["n_events"] for r in sink.collect()}
    expect = {
        (r["d"], r["event_type"]): r["n"]
        for r in batch.groupBy(
            F.date_trunc("day", "ts").alias("d"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # append mode emits only watermark-closed windows; every emitted window
    # must match the batch computation exactly
    assert got, "no windows emitted"
    for k, v in got.items():
        assert expect[k] == v


def test_stream_stream_interval_join_across_batches(spark):
    """Cross-batch matches must survive: a click in micro-batch 0 whose
    purchase arrives in micro-batch 1 still pairs, because the
    watermark lags far enough that the click's join state is never
    evicted before the partner shows up. Pairs must equal the batch
    join exactly (no loss, no duplicates)."""
    events = load_table(spark, SF_SMOKE, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    # clicks in one file; purchases split into TWO mtime-ordered files so
    # the second half arrives a micro-batch after the clicks it matches
    mid = F.lit("2024-01-15 00:00:00").cast("timestamp")
    halves = [purchases.filter(F.col("ts") < mid), purchases.filter(F.col("ts") >= mid)]
    with file_feed(spark, clicks.coalesce(1)) as left, file_feed(
        spark, halves, max_files_per_trigger=1
    ) as right:
        sink = drain_memory_sink(
            stream_stream_interval_join(
                left.stream,
                right.stream,
                key="user_id",
                interval="1 hour",
                lateness="40 days",  # never evict within the replayed month
            ).select(
                F.col("l.event_id").alias("click_id"),
                F.col("r.event_id").alias("purchase_id"),
            ),
            timeout=120,
        )
    got = sorted((r["click_id"], r["purchase_id"]) for r in sink.collect())
    expect = sorted(
        (r["cid"], r["pid"])
        for r in clicks.alias("l")
        .join(
            purchases.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(F.col("l.event_id").alias("cid"), F.col("r.event_id").alias("pid"))
        .collect()
    )
    assert got == expect and got, "cross-batch pairs must match the batch join"


def test_file_feed_streams_with_the_feeds_own_schema(spark):
    """The stream has the feed's column names and types, one frame or a
    list of them; TIMESTAMP_NTZ arrives as TIMESTAMP (ensure_event_time)."""
    events = load_table(spark, SF_SMOKE, "events")
    plain = events.withColumn("ts", F.col("ts").cast("timestamp"))
    cases = [(plain, plain), ([plain, plain], plain), (events, ensure_event_time(events))]
    for feed, want in cases:
        with file_feed(spark, feed) as ff:
            assert ff.stream.isStreaming
            assert ff.stream.schema.simpleString() == want.schema.simpleString()


def test_file_feed_runs_only_the_feeds_write(spark, tmp_path):
    """Entering the fixture costs the Spark jobs of writing the feed and
    no more: the stream takes the feed's schema, it does not re-infer
    it from the files just written."""
    sc = spark.sparkContext
    events = load_table(spark, SF_SMOKE, "events")

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    write_jobs = jobs("feed-write", lambda: events.write.parquet(str(tmp_path / "w")))
    with contextlib.ExitStack() as stack:
        fixture_jobs = jobs(
            "feed-fixture", lambda: stack.enter_context(file_feed(spark, events))
        )
    assert write_jobs >= 1
    assert fixture_jobs == write_jobs


def test_file_feed_caps_shuffle_partitions_at_the_core_count(spark):
    """A stateful stream runs every shuffle partition each micro-batch:
    inside the fixture a vanilla session's 200 reads the default
    parallelism, and the old value is back on exit."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        with file_feed(spark, spark.range(3)):
            assert spark.conf.get(key) == str(spark.sparkContext.defaultParallelism)
        assert spark.conf.get(key) == "200"
    finally:
        spark.conf.set(key, old)


def test_write_microbatches_rejects_frames_of_different_schemas(spark, tmp_path):
    a = spark.createDataFrame([(1, "x")], "k long, v string")
    with pytest.raises(ValueError, match="same column names and types"):
        write_microbatches([a, a.withColumn("k", F.col("k").cast("int"))], f"{tmp_path}/t")
    with pytest.raises(ValueError, match="same column names and types"):
        write_microbatches([a, a.withColumnRenamed("v", "w")], f"{tmp_path}/n")
    assert not (tmp_path / "t").exists() and not (tmp_path / "n").exists()
    # nullability aside: a NOT NULL twin of the same columns is accepted
    twin = a.select(F.lit(2).cast("long").alias("k"), F.lit("y").alias("v"))
    assert twin.schema != a.schema
    write_microbatches([a, twin], f"{tmp_path}/ok")
    assert sorted(os.listdir(tmp_path / "ok")) == [
        "batch-0000.parquet",
        "batch-0001.parquet",
    ]


def test_no_schema_read_back_and_one_drain_wait():
    """No code re-infers a schema from files it just wrote, and the
    package waits on a stream in one place (``await_drain``)."""
    root = Path(__file__).resolve().parents[1]
    package = list(root.glob("bigquery_cross_environment_etl_pipeline_spark/**/*.py"))
    read_back = re.compile(r"read\.parquet\([^()]*\)\s*\.schema")
    hits = [
        f"{p.name}:{m.group(0)}"
        for p in package + list((root / "tests").rglob("*.py"))
        for m in read_back.finditer(p.read_text())
    ]
    assert not hits
    waits = [
        p.name for p in package for _ in re.finditer(r"\.awaitTermination\(", p.read_text())
    ]
    assert waits == ["incremental.py"]
