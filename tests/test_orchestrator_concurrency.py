"""Trigger routing, concurrent tenant fan-out + the T7 retry envelope."""

from __future__ import annotations

import base64
import datetime as dt
import json
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from bigquery_cross_environment_etl_pipeline_spark import orchestrator
from bigquery_cross_environment_etl_pipeline_spark.operators.checkpoint import CheckpointLog
from bigquery_cross_environment_etl_pipeline_spark.operators.config import (
    ConfigStore,
    attach_config,
)
from bigquery_cross_environment_etl_pipeline_spark.orchestrator import run_jobs_for_messages
from bigquery_cross_environment_etl_pipeline_spark.pipeline import process_etl_job
from bigquery_cross_environment_etl_pipeline_spark.schemas import CONFIG_SCHEMA
from bigquery_cross_environment_etl_pipeline_spark.sources.pubsub import (
    decode_envelopes,
    rejected_messages,
    valid_messages,
)
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table

from .conftest import SF_SMOKE


def _envelope(data: str) -> str:
    return json.dumps({"message": {"data": data}})


def _b64(text: str) -> str:
    return base64.b64encode(text.encode()).decode()


def _env(payload: dict) -> str:
    return _envelope(_b64(json.dumps(payload)))


def _route(spark, monkeypatch, envelopes, config, tmp_path):
    """Route ``envelopes`` with ``process_etl_job`` stubbed out; returns
    the result and the (org, project) of each job in run order."""
    calls = []

    def stub(spark, org_id, *args, project_id, **kwargs):
        calls.append((org_id, project_id))
        return types.SimpleNamespace(org_id=org_id, project_id=project_id)

    monkeypatch.setattr(orchestrator, "process_etl_job", stub)
    res = run_jobs_for_messages(
        spark, envelopes, config, None, "ts", str(tmp_path / "dest"),
        CheckpointLog(spark, str(tmp_path / "ckpt")), now=dt.datetime(2024, 2, 1),
    )
    return res, calls


def _j1_routing(envelopes, config):
    """The expected routing, from the J1 catalog path: the reject count,
    the unknown orgs and the (org, project) of each job, in org order."""
    decoded = decode_envelopes(envelopes)
    orgs = valid_messages(decoded).select("org_id").distinct()
    routed = sorted(attach_config(orgs, config.read(), "left").collect(), key=lambda r: r["org_id"])
    return (
        rejected_messages(decoded).count(),
        [r["org_id"] for r in routed if r["projectid"] is None],
        [(r["org_id"], r["projectid"]) for r in routed if r["projectid"] is not None],
    )


def _assert_routes_like_j1(spark, monkeypatch, envelopes, config, tmp_path):
    want_rejected, want_unknown, want_jobs = _j1_routing(envelopes, config)
    res, calls = _route(spark, monkeypatch, envelopes, config, tmp_path)
    assert res.rejected_messages == want_rejected
    assert res.unknown_orgs == want_unknown
    # an org with two config rows runs twice; the join fixes no order
    # between them, so compare jobs in org order, then as a multiset
    assert [o for o, _ in calls] == [o for o, _ in want_jobs]
    assert sorted(calls) == sorted(want_jobs)
    assert [(j.org_id, j.project_id) for j in res.jobs] == calls
    return want_rejected, want_unknown, want_jobs


def test_routing_matches_the_j1_join(spark, monkeypatch, tmp_path):
    """Routing one trigger gives the reject count, unknown orgs and job
    order of the J1 path (``rejected_messages``, the left
    ``attach_config``) on a batch with every kind of message."""
    config = ConfigStore(spark, str(tmp_path / "config"))
    config.write(
        spark.createDataFrame(
            [
                (1, "proj-1", "b", "t", None, None, "sa"),
                (2, "proj-2", "b", "t", None, None, "sa"),
                (4, None, "b", "t", None, None, "sa"),  # NULL projectid
                (5, "proj-5a", "b", "t", None, None, "sa"),  # two rows
                (5, "proj-5b", "b", "t", None, None, "sa"),
            ],
            CONFIG_SCHEMA,
        )
    )
    # a foreign writer's NULL-key row (ConfigStore.write refuses one)
    nullable = pa.schema([f.with_nullable(True) for f in to_arrow_schema(CONFIG_SCHEMA)])
    pq.write_table(
        pa.Table.from_pylist([{"org_id": None, "projectid": "p-null"}], schema=nullable),
        str(tmp_path / "config" / "part-null-key.parquet"),
    )
    envelopes = spark.createDataFrame(
        [
            (_envelope("%%%not base64%%%"),),
            (_envelope(_b64("{not json")),),
            (_env({"project_id": "no-org"}),),
            (_env({"org_id": 2}),),
            (_env({"org_id": 1}),),
            (_env({"org_id": 2}),),  # duplicated valid org
            (_env({"org_id": 3}),),  # absent from the config
            (_env({"org_id": 4}),),
            (_env({"org_id": 5}),),
        ],
        "body string",
    )
    rejected, unknown, jobs = _assert_routes_like_j1(
        spark, monkeypatch, envelopes, config, tmp_path
    )
    # the batch exercises what it claims to
    assert (rejected, unknown) == (3, [3, 4])
    assert sorted(jobs) == [(1, "proj-1"), (2, "proj-2"), (5, "proj-5a"), (5, "proj-5b")]


def test_routing_without_a_config_store(spark, monkeypatch, tmp_path):
    """No config directory at all: every valid org is unknown."""
    config = ConfigStore(spark, str(tmp_path / "no-config"))
    envelopes = spark.createDataFrame(
        [(_env({"org_id": 2}),), (_env({"org_id": 1}),), (_envelope("%%%"),)], "body string"
    )
    got = _assert_routes_like_j1(spark, monkeypatch, envelopes, config, tmp_path)
    assert got == (1, [1, 2], [])


def test_routing_a_trigger_runs_one_spark_job(spark, monkeypatch, tmp_path):
    """Routing costs one Spark job: the collect of the decoded
    envelopes. The reject count and the config match run on the
    driver."""
    config = ConfigStore(spark, str(tmp_path / "config"))
    config.write(spark.createDataFrame([(1, "proj-1", "b", "t", None, None, "sa")], CONFIG_SCHEMA))
    envelopes = spark.createDataFrame([(_env({"org_id": 1}),)], "body string")
    sc = spark.sparkContext
    group = "route-one-trigger"
    sc.setJobGroup(group, group)
    try:
        res, calls = _route(spark, monkeypatch, envelopes, config, tmp_path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert calls == [(1, "proj-1")]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_concurrent_tenant_jobs(spark, tmp_path):
    config = ConfigStore(spark, str(tmp_path / "config"))
    config.write(
        spark.createDataFrame(
            [(i, f"proj-{i}", "b", "t", f"ds{i}", f"tb{i}", "sa") for i in range(1, 5)],
            CONFIG_SCHEMA,
        )
    )
    ckpt = CheckpointLog(spark, str(tmp_path / "ckpt"))
    events = load_table(spark, SF_SMOKE, "events")
    envelopes = spark.createDataFrame(
        [(_env({"org_id": i}),) for i in range(1, 5)], "body string"
    )
    res = run_jobs_for_messages(
        spark,
        envelopes,
        config,
        events,
        "ts",
        str(tmp_path / "dest"),
        ckpt,
        now=dt.datetime(2024, 2, 1),
        max_concurrency=4,
    )
    assert [j.org_id for j in sorted(res.jobs, key=lambda j: j.org_id)] == [1, 2, 3, 4]
    assert all(j.status == "SUCCESS" for j in res.jobs)
    total = events.count()
    for i in range(1, 5):
        assert spark.read.parquet(str(tmp_path / "dest" / f"org_{i}")).count() == total
    # every tenant left a SUCCESS watermark in the shared log
    log = ckpt.latest_per_key().collect()
    assert {r["org_id"] for r in log} == {1, 2, 3, 4}


def test_retry_envelope_recovers_from_transient_failure(spark, tmp_path):
    """T7: a transform failing on the first attempt succeeds on retry;
    the checkpoint log shows the recovery."""
    ckpt = CheckpointLog(spark, str(tmp_path / "ckpt"))
    events = load_table(spark, SF_SMOKE, "events")
    attempts = {"n": 0}

    def flaky(df):
        attempts["n"] += 1
        if attempts["n"] == 1:
            raise RuntimeError("transient infrastructure blip")
        return df

    res = process_etl_job(
        spark, 1, events, "ts", str(tmp_path / "dest"), ckpt,
        now=dt.datetime(2024, 2, 1), transform=flaky,
    )
    assert res.status == "SUCCESS"
    assert res.attempts == 2
    assert spark.read.parquet(str(tmp_path / "dest")).count() == events.count()


def test_exhausted_retries_record_failed(spark, tmp_path):
    ckpt = CheckpointLog(spark, str(tmp_path / "ckpt"))
    events = load_table(spark, SF_SMOKE, "events")

    def always_broken(df):
        raise RuntimeError("permanently broken transform")

    with pytest.raises(RuntimeError, match="failed after 3 attempts"):
        process_etl_job(
            spark, 1, events, "ts", str(tmp_path / "dest"), ckpt,
            now=dt.datetime(2024, 2, 1), transform=always_broken,
        )
    statuses = [r["status"] for r in ckpt.read().collect()]
    assert statuses.count("FAILED") == 1
    assert ckpt.last_success_watermark(1, "default") is None
