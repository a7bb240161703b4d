"""The custom Python DataSource WRITER (sources/verdict_sink.py):
two-phase commit, manifest-gated visibility, abort cleanup, overwrite
retraction, and the streaming per-epoch idempotent commit."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table
from bigquery_cross_environment_etl_pipeline_spark.sources.verdict_sink import (
    JsonlVerdictBatchWriter,
    JsonlVerdictDataSource,
    committed_manifests,
    read_committed,
)

from .conftest import SF_SMOKE

SCHEMA = "o_orderkey bigint, o_orderstatus string, o_totalprice double"


def _orders(spark):
    return (
        load_table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_orderkey") < 200)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


def test_batch_write_roundtrip_and_manifest(spark, tmp_path):
    """Every row written comes back bitwise (doubles survive the JSON
    boundary via shortest-round-trip rendering), and the manifest's
    verdict total equals the committed row count."""
    spark.dataSource.register(JsonlVerdictDataSource)
    src = _orders(spark)
    path = str(tmp_path / "t")
    src.write.format("jsonl_verdict").option("path", path).mode("append").save()

    manifests = committed_manifests(path)
    assert len(manifests) == 1
    assert manifests[0]["total_rows"] == src.count()
    # no staging residue
    assert glob.glob(f"{path}/_staging/*") == []

    back = read_committed(spark, path, SCHEMA)
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_visibility_is_manifest_gated(spark, tmp_path):
    """Files NOT referenced by a commit manifest — torn writes, stray
    part files — are invisible to readers."""
    spark.dataSource.register(JsonlVerdictDataSource)
    src = _orders(spark)
    path = str(tmp_path / "t")
    src.write.format("jsonl_verdict").option("path", path).mode("append").save()

    # plant an orphan data file (a torn job's residue)
    with open(os.path.join(path, "part-orphan.jsonl"), "w") as f:
        f.write(json.dumps({"o_orderkey": -1, "o_orderstatus": "X",
                            "o_totalprice": 0.0}) + "\n")
    back = read_committed(spark, path, SCHEMA)
    assert back.filter(F.col("o_orderkey") < 0).count() == 0
    assert back.count() == src.count()


def test_abort_cleans_staging_only(spark, tmp_path):
    """abort() removes staged files and never touches committed data."""
    spark.dataSource.register(JsonlVerdictDataSource)
    src = _orders(spark)
    path = str(tmp_path / "t")
    src.write.format("jsonl_verdict").option("path", path).mode("append").save()
    before = read_committed(spark, path, SCHEMA).count()

    w = JsonlVerdictBatchWriter({"path": path}, overwrite=False)
    msg = w.write(iter(src.limit(5).collect()))
    assert os.path.exists(msg.path)
    w.abort([msg])
    assert not os.path.exists(msg.path)
    assert read_committed(spark, path, SCHEMA).count() == before


def test_overwrite_retracts_prior_commits(spark, tmp_path):
    """mode('overwrite') retracts earlier manifests AND their files at
    commit time — after the new data staged, never before."""
    spark.dataSource.register(JsonlVerdictDataSource)
    src = _orders(spark)
    path = str(tmp_path / "t")
    src.write.format("jsonl_verdict").option("path", path).mode("append").save()
    src.write.format("jsonl_verdict").option("path", path).mode("append").save()
    assert read_committed(spark, path, SCHEMA).count() == 2 * src.count()

    small = src.limit(7)
    small.write.format("jsonl_verdict").option("path", path).mode(
        "overwrite"
    ).save()
    assert len(committed_manifests(path)) == 1
    assert read_committed(spark, path, SCHEMA).count() == 7
    # retracted data files are gone from disk, not just unlisted
    listed = {
        e["file"] for m in committed_manifests(path) for e in m["files"]
    }
    on_disk = {
        os.path.basename(p) for p in glob.glob(f"{path}/part-*.jsonl")
    }
    assert on_disk == listed


def test_overwrite_supersession_is_atomic(spark, tmp_path):
    """Crash-window simulation: if the physical cleanup after an
    overwrite never runs, the superseding manifest ALONE must retract
    the old data — readers drop superseded manifests, so visibility
    flipped at the new manifest's rename, never exposing an empty or
    doubled table."""
    import uuid as _uuid

    from bigquery_cross_environment_etl_pipeline_spark.sources.verdict_sink import (
        PartCommit,
        _publish,
    )

    spark.dataSource.register(JsonlVerdictDataSource)
    src = _orders(spark)
    path = str(tmp_path / "t")
    src.write.format("jsonl_verdict").option("path", path).mode("append").save()
    old_names = [
        os.path.basename(p) for p in glob.glob(f"{path}/_COMMIT-*.json")
    ]
    # hand-publish a superseding manifest and SKIP the cleanup step
    # (exactly the state a crash between publish and cleanup leaves)
    part = f"{path}/_staging/part-{_uuid.uuid4().hex}.jsonl"
    os.makedirs(f"{path}/_staging", exist_ok=True)
    with open(part, "w") as f:
        f.write(json.dumps({"o_orderkey": 1, "o_orderstatus": "X",
                            "o_totalprice": 1.5}) + "\n")
    _publish(path, [PartCommit(part, 1)],
             f"_COMMIT-{_uuid.uuid4().hex}.json", supersedes=old_names)
    # old manifests + files still on disk, but INVISIBLE
    assert all(os.path.exists(f"{path}/{n}") for n in old_names)
    back = read_committed(spark, path, SCHEMA)
    assert back.count() == 1
    assert back.first()["o_orderstatus"] == "X"


def test_stream_writer_commits_per_epoch(spark, tmp_path):
    """writeStream.format('jsonl_verdict'): one manifest per
    micro-batch, union-of-manifests equals the streamed input, and
    replaying an epoch (same batchId) replaces rather than duplicates."""
    from bigquery_cross_environment_etl_pipeline_spark.sources.verdict_sink import (
        JsonlVerdictStreamWriter,
    )
    from bigquery_cross_environment_etl_pipeline_spark.streaming.incremental import (
        write_microbatches,
    )

    spark.dataSource.register(JsonlVerdictDataSource)
    src = _orders(spark)
    srcdir = str(tmp_path / "src")
    write_microbatches(
        [src.filter(F.col("o_orderkey") % 2 == 0),
         src.filter(F.col("o_orderkey") % 2 == 1)],
        srcdir,
    )
    out = str(tmp_path / "out")
    q = (
        spark.readStream.schema(src.schema).format("parquet")
        .option("maxFilesPerTrigger", 1).load(srcdir)
        .writeStream.format("jsonl_verdict")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream drain timed out"
    stream_manifests = glob.glob(f"{out}/_COMMIT-stream-*.json")
    assert len(stream_manifests) == 2, "one manifest per micro-batch"
    expected = sorted(map(tuple, src.collect()))
    back = read_committed(spark, out, SCHEMA)
    assert sorted(map(tuple, back.collect())) == expected
    n_before = len(expected)

    # epoch replay (same batchId) is idempotent: the manifest and its
    # files are REPLACED (the old epoch-0 file is deleted from disk),
    # the visible total is unchanged
    w = JsonlVerdictStreamWriter({"path": out})
    replay = src.filter(F.col("o_orderkey") % 2 == 0).collect()
    msg = w.write(iter(replay))
    w.commit([msg], batchId=0)
    back2 = read_committed(spark, out, SCHEMA)
    assert back2.count() == n_before
    assert sorted(map(tuple, back2.collect())) == expected
