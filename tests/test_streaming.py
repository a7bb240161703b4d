"""Structured Streaming incremental path (T1-T6): AvailableNow backlog
processing, foreachBatch transactional append, windowed aggregation with
watermark."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table
from bigquery_cross_environment_etl_pipeline_spark.streaming import (
    stream_incremental_append,
    stream_windowed_counts,
)
from bigquery_cross_environment_etl_pipeline_spark.streaming.incremental import read_stream

from .conftest import SF_SMOKE


def _events_source_dir(spark, tmp_path):
    """Stage events as a directory source (nanos ts already normalized)."""
    src = str(tmp_path / "src")
    load_table(spark, SF_SMOKE, "events").write.parquet(src)
    return src


def test_stream_incremental_append_exactly_once(spark, tmp_path):
    src = _events_source_dir(spark, tmp_path)
    schema = spark.read.parquet(src).schema
    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt")
    statuses: list = []

    q = stream_incremental_append(
        read_stream(spark, src, schema), dest, ckpt, status_rows=statuses
    )
    q.awaitTermination(120)
    total = spark.read.parquet(dest).count()
    assert total == 1000
    assert statuses and all(s["status"] == "SUCCESS" for s in statuses)
    assert sum(s["rows"] for s in statuses) == 1000

    # restart with the same checkpoint: backlog already committed -> no dupes
    q2 = stream_incremental_append(
        read_stream(spark, src, schema), dest, ckpt, status_rows=statuses
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(dest).count() == 1000


def test_stream_incremental_append_replayed_epoch_overwrites(spark, tmp_path):
    """A crash after the sink wrote an epoch but before Spark committed it
    re-delivers that epoch on restart; the replay must replace the first
    write, not append a second copy of the batch."""
    src = _events_source_dir(spark, tmp_path)
    schema = spark.read.parquet(src).schema
    dest = str(tmp_path / "dest")
    ckpt = tmp_path / "ckpt"
    statuses: list = []

    q = stream_incremental_append(
        read_stream(spark, src, schema), dest, str(ckpt), status_rows=statuses
    )
    q.awaitTermination(120)
    assert spark.read.parquet(dest).count() == 1000

    # simulate the crash: drop the newest commit, as if the process died
    # between the foreachBatch write and Spark's commit of that epoch
    last = max(int(f) for f in os.listdir(ckpt / "commits") if f.isdigit())
    os.remove(ckpt / "commits" / str(last))
    os.remove(ckpt / "commits" / f".{last}.crc")

    q2 = stream_incremental_append(
        read_stream(spark, src, schema), dest, str(ckpt), status_rows=statuses
    )
    q2.awaitTermination(120)
    assert [s["epoch_id"] for s in statuses].count(last) == 2, "epoch replayed"
    landed = spark.read.parquet(dest)
    assert landed.count() == 1000
    assert landed.select("event_id").distinct().count() == 1000
    assert sum({s["epoch_id"]: s["rows"] for s in statuses}.values()) == 1000


def test_stream_windowed_counts_matches_batch(spark, tmp_path):
    src = _events_source_dir(spark, tmp_path)
    schema = spark.read.parquet(src).schema
    agg = stream_windowed_counts(read_stream(spark, src, schema), window_size="1 day")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = load_table(spark, SF_SMOKE, "events")
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
    shutil.rmtree(str(tmp_path / "src"))


def test_stream_stream_interval_join_across_batches(spark, tmp_path):
    """Cross-batch matches must survive: a click in micro-batch 0 whose
    purchase arrives in micro-batch 1 still pairs, because the
    watermark lags far enough that the click's join state is never
    evicted before the partner shows up. Pairs must equal the batch
    join exactly (no loss, no duplicates)."""
    from bigquery_cross_environment_etl_pipeline_spark.streaming.incremental import (
        read_stream,
        stream_stream_interval_join,
        write_microbatches,
    )

    events = load_table(spark, SF_SMOKE, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    lsrc, rsrc = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    # clicks in one file; purchases split into TWO mtime-ordered files so
    # the second half arrives a micro-batch after the clicks it matches
    clicks.coalesce(1).write.parquet(lsrc)
    mid = "2024-01-15 00:00:00"
    write_microbatches(
        [
            purchases.filter(F.col("ts") < F.lit(mid).cast("timestamp")),
            purchases.filter(F.col("ts") >= F.lit(mid).cast("timestamp")),
        ],
        rsrc,
    )
    joined = stream_stream_interval_join(
        read_stream(spark, lsrc, spark.read.parquet(lsrc).schema),
        read_stream(spark, rsrc, spark.read.parquet(rsrc).schema, max_files_per_trigger=1),
        key="user_id",
        interval="1 hour",
        lateness="40 days",  # never evict within the replayed month
    ).select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("purchase_id"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_x")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM ssj_x").collect()
    )
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
