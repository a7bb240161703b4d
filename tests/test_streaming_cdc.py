"""Streaming CDC merge (streaming/incremental.py::stream_cdc_upsert).

Invariants the operator is deployable on:
- batch/stream parity: the final snapshot equals the batch
  apply_changes result no matter how the feed splits into micro-batches
  or in what order the file source lists them;
- tombstone persistence: a delete merged in one batch cannot be
  resurrected by a later-arriving LOWER-sequence change for the key;
- recovery: a fresh query over the same snapshot dir resumes the merge
  chain from the newest complete version.
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.streaming.incremental import (
    await_drain,
    file_feed,
    stream_cdc_upsert,
)

SCHEMA = "k long, seq long, op string, v double"


def _latest(snapshot_dir: str) -> str:
    done = [os.path.dirname(s) for s in glob.glob(f"{snapshot_dir}/v*/_SUCCESS")]
    return max(done, key=lambda p: int(re.search(r"v(\d+)$", p).group(1)))


def _final_state(spark, snapshot_dir: str) -> dict:
    df = spark.read.parquet(_latest(snapshot_dir)).filter(F.col("op") != "D")
    return {r["k"]: (r["seq"], r["v"]) for r in df.collect()}


def test_tombstone_survives_late_lower_sequence(spark, tmp_path):
    # batch A: key 1 DELETED at seq 5; key 2 updated at seq 1
    # batch B: key 1 gets a LATE lower-seq update (seq 3) that must NOT
    #          resurrect it; keys 2 and 3 get ordinary updates
    a = [(1, 5, "D", 10.0), (2, 1, "U", 1.0)]
    b = [(1, 3, "U", 99.0), (2, 2, "U", 2.0), (3, 1, "U", 3.0)]
    feed = [spark.createDataFrame(rows, SCHEMA) for rows in (a, b)]
    with file_feed(spark, feed, max_files_per_trigger=1) as ff:
        q = stream_cdc_upsert(
            ff.stream,
            str(tmp_path / "snap"),
            str(tmp_path / "ckpt"),
            keys=["k"],
            sequence_cols=["seq"],
        )
        await_drain(q, 120)

    assert _final_state(spark, str(tmp_path / "snap")) == {
        2: (2, 2.0),
        3: (1, 3.0),
    }


def test_multi_batch_equals_single_batch(spark, tmp_path):
    rows = [
        (k, seq, "D" if (k + seq) % 5 == 0 else "U", float(k * 10 + seq))
        for k in range(1, 8)
        for seq in range(1, 6)
    ]
    changes = spark.createDataFrame(rows, SCHEMA)

    # expected: batch-side apply_changes
    from bigquery_cross_environment_etl_pipeline_spark.operators.upsert import (
        apply_changes,
    )

    expected = {
        r["k"]: (r["seq"], r["v"])
        for r in apply_changes(changes, ["k"], ["seq"]).collect()
    }

    # 4 separate files -> 4 micro-batches at maxFilesPerTrigger=1
    feed = [changes.filter(F.col("seq") % 4 == part) for part in range(4)]
    with file_feed(spark, feed, max_files_per_trigger=1) as ff:
        q = stream_cdc_upsert(
            ff.stream,
            str(tmp_path / "snap"),
            str(tmp_path / "ckpt"),
            keys=["k"],
            sequence_cols=["seq"],
        )
        await_drain(q, 180)

    assert _final_state(spark, str(tmp_path / "snap")) == expected


def test_recovery_resumes_from_latest_version(spark, tmp_path):
    # run 1 produces MULTIPLE versions (one per micro-batch) — the
    # regression case: a fresh-checkpoint successor restarts epoch ids
    # at 0, and naming versions by epoch would write its merge BELOW
    # the existing versions where max-version readers never see it
    feed1 = [spark.createDataFrame([r], SCHEMA) for r in [(1, 1, "U", 1.0), (3, 1, "U", 3.0)]]
    snap = str(tmp_path / "snap")
    with file_feed(spark, feed1, max_files_per_trigger=1) as ff:
        q = stream_cdc_upsert(
            ff.stream, snap, str(tmp_path / "ckpt1"), keys=["k"], sequence_cols=["seq"]
        )
        await_drain(q, 120)
    assert _final_state(spark, snap) == {1: (1, 1.0), 3: (1, 3.0)}
    import glob

    n_versions = len(glob.glob(f"{snap}/v*/_SUCCESS"))
    assert n_versions >= 2, "precondition: run 1 must write multiple versions"

    # a NEW query (fresh checkpoint, new feed) over the same snapshot
    # dir must merge ON TOP of the newest version, not under it
    with file_feed(spark, spark.createDataFrame([(2, 1, "U", 2.0)], SCHEMA)) as ff:
        q2 = stream_cdc_upsert(
            ff.stream, snap, str(tmp_path / "ckpt2"), keys=["k"], sequence_cols=["seq"]
        )
        await_drain(q2, 120)
    assert _final_state(spark, snap) == {
        1: (1, 1.0),
        2: (1, 2.0),
        3: (1, 3.0),
    }
