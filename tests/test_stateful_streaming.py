"""applyInPandasWithState: per-key state must accumulate across multiple
micro-batches and converge to the batch answer."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table
from bigquery_cross_environment_etl_pipeline_spark.streaming.incremental import (
    await_drain,
    file_feed,
)
from bigquery_cross_environment_etl_pipeline_spark.streaming.stateful import (
    stream_user_totals_transform_with_state,
    stream_user_totals_with_state,
)

from .conftest import SF_SMOKE


def test_stateful_totals_accumulate_across_batches(spark):
    events = load_table(spark, SF_SMOKE, "events")
    # 4 files -> maxFilesPerTrigger=1 forces 4 micro-batches through state
    with file_feed(spark, events.repartition(4), max_files_per_trigger=1) as feed:
        q = (
            stream_user_totals_with_state(feed.stream)
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
        SELECT user_id, n_events, total_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY rid DESC) rn
          FROM (SELECT *, monotonically_increasing_id() AS rid FROM user_totals)
        ) WHERE rn = 1
        """
    ).collect()
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in final}

    expect = {
        r["user_id"]: (r["n"], r["s"])
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(expect)
    for uid, (n, s) in expect.items():
        gn, gs = got[uid]
        assert gn == n, f"user {uid}: count {gn} != {n}"
        assert abs(gs - s) < 1e-6, f"user {uid}: sum {gs} != {s}"


def _has_protobuf() -> bool:
    """transformWithStateInPandas spawns a streaming Python driver
    worker that imports google.protobuf (state-server wire protocol);
    without it the worker crashes at init. Not installed in this
    container -> the test becomes plan-construction-only."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_transform_with_state_plan_builds(spark):
    """Even without the protobuf runtime dep, the unresolved streaming
    plan (grouping, output schema, Update mode) must build."""
    events = load_table(spark, SF_SMOKE, "events")
    with file_feed(spark, events.limit(10), max_files_per_trigger=1) as feed:
        out = stream_user_totals_transform_with_state(feed.stream)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "user_id",
        "n_events",
        "total_value",
    ]


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas runtime needs google.protobuf "
    "(absent in this container; operator exercised on real clusters)",
)
def test_transform_with_state_matches_batch_totals(spark):
    """transformWithStateInPandas (Spark 4 named-state API, RocksDB
    store) must accumulate across micro-batches to the same per-user
    totals as the batch aggregate — and as the applyInPandasWithState
    form above."""
    events = load_table(spark, SF_SMOKE, "events")

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        with file_feed(spark, events.repartition(4), max_files_per_trigger=1) as feed:
            q = (
                stream_user_totals_transform_with_state(feed.stream)
                .writeStream.outputMode("update")
                .format("memory")
                .queryName("user_totals_tws")
                .trigger(availableNow=True)
                .start()
            )
            await_drain(q, 180)
        assert len(q.recentProgress) >= 2
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    final = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY rid DESC) rn
          FROM (SELECT *, monotonically_increasing_id() AS rid FROM user_totals_tws)
        ) WHERE rn = 1
        """
    ).collect()
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in final}

    expect = {
        r["user_id"]: (r["n"], r["s"])
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(expect)
    for uid, (n, s) in expect.items():
        gn, gs = got[uid]
        assert gn == n, f"user {uid}: count {gn} != {n}"
        assert abs(gs - s) < 1e-6, f"user {uid}: sum {gs} != {s}"
