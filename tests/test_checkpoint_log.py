"""The checkpoint log's driver-side commit: rows appended by concurrent OS
processes all land and are never seen half-written; files storing ms or ns
timestamps compare at µs; and logs mixing the earlier Spark-written files
(INT64 micros and INT96) with driver-written files read back the same
watermark the Spark ``.first()`` read gave, under any host timezone."""

from __future__ import annotations

import datetime as dt
import os
import subprocess
import sys
import time

import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.operators.checkpoint import CheckpointLog
from bigquery_cross_environment_etl_pipeline_spark.schemas import STATUS_SUCCESS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: one appender: waits for the start file, then saves 50 SUCCESS rows for
#: tenant (1, "p") whose ends interleave with the other worker's
_APPEND = """
import datetime as dt, os, sys, time
from bigquery_cross_environment_etl_pipeline_spark.operators.checkpoint import CheckpointLog
path, worker, start = sys.argv[1], int(sys.argv[2]), sys.argv[3]
log = CheckpointLog(None, path)
while not os.path.exists(start):
    time.sleep(0.001)
for i in range(50):
    end = dt.datetime(2024, 1, 1, 0, 0, 0, 7) + dt.timedelta(minutes=2 * i + worker)
    log.save("SUCCESS", 1, "p", end, now=end)
"""


def test_two_processes_append_concurrently(spark, tmp_path):
    path = str(tmp_path / "ckpt")
    start = str(tmp_path / "start")
    env = {**os.environ, "PYTHONPATH": REPO}
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _APPEND, path, str(w), start],
            env=env, stderr=subprocess.PIPE, text=True,
        )
        for w in (0, 1)
    ]
    log = CheckpointLog(spark, path)
    seen = []
    try:
        open(start, "w").close()
        # read while both write: a reader must never meet a partial file
        while any(p.poll() is None for p in procs):
            wm = log.last_success_watermark(1, "p")
            if wm is not None:
                seen.append(wm)
            time.sleep(0.005)
    finally:
        errs = [p.communicate()[1] for p in procs]
    assert [p.returncode for p in procs] == [0, 0], errs
    assert seen == sorted(seen)

    assert log.read().count() == 100
    want = dt.datetime(2024, 1, 1, 0, 0, 0, 7) + dt.timedelta(minutes=2 * 49 + 1)
    spark_max = log.read().filter("status = 'SUCCESS'").agg(F.max("end_date_time")).first()[0]
    assert log.last_success_watermark(1, "p") == spark_max == want
    # no temp file is left behind, and neither reader lists one
    assert not [f for f in os.listdir(path) if not f.startswith("part-")]
    spark_files = {
        os.path.basename(r[0])
        for r in log.read().select(F.input_file_name()).distinct().collect()
    }
    arrow_files = {os.path.basename(f) for f in ds.dataset(path).files}
    assert len(spark_files) == len(arrow_files) == 100
    assert all(f.startswith("part-") and f.endswith(".parquet") for f in spark_files | arrow_files)


@pytest.mark.parametrize("unit", ["ms", "us", "ns"])
def test_watermark_normalises_timestamp_units(tmp_path, unit):
    """Other parquet writers may store ms or ns timestamps; the watermark
    read compares every file at µs. Each case puts the maximum in the file
    written with ``unit``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    path = tmp_path / "ckpt"
    path.mkdir()
    ends = {
        "ms": dt.datetime(2024, 5, 1, 0, 0, 0, 123000),
        "us": dt.datetime(2024, 5, 1, 0, 0, 0, 123456),
        "ns": dt.datetime(2024, 5, 1, 0, 0, 0, 123457),
    }
    ends[unit] += dt.timedelta(days=1)
    for u, end in ends.items():
        ts = pa.timestamp(u, tz="UTC")
        micros = pa.array([TimestampType().toInternal(end)], pa.timestamp("us", tz="UTC"))
        pq.write_table(
            pa.table({
                "org_id": pa.array([1], pa.int64()),
                "project_id": ["p"],
                "status": [STATUS_SUCCESS],
                "end_date_time": micros.cast(ts),
                "updated_at": micros.cast(ts),
            }),
            str(path / f"part-{u}.parquet"),
        )
    assert CheckpointLog(None, str(path)).last_success_watermark(1, "p") == ends[unit]


#: builds a log of three kinds of file and compares every tenant's
#: ``last_success_watermark`` with the Spark ``.first()`` read, in a fresh
#: process so the host timezone (``TZ``) applies to both conversions
_MIXED = """
import datetime as dt, sys
from pyspark.sql import functions as F
from bigquery_cross_environment_etl_pipeline_spark.operators.checkpoint import CheckpointLog
from bigquery_cross_environment_etl_pipeline_spark.schemas import CHECKPOINT_SCHEMA
from bigquery_cross_environment_etl_pipeline_spark.session import get_spark

spark = get_spark(app_name="mixed-log", extra_conf={
    "spark.driver.memory": "1g", "spark.sql.shuffle.partitions": "2"})
path = sys.argv[1]
log = CheckpointLog(spark, path)
T = dt.datetime

def spark_save(rows):
    # the earlier save path: one createDataFrame row per Spark append
    for r in rows:
        spark.createDataFrame([r], CHECKPOINT_SCHEMA).coalesce(1).write.mode(
            "append").parquet(path)

# 1. files from the Spark path (engine session: INT64 micros)
spark_save([
    (1, "p", "SUCCESS", T(2024, 3, 10, 2, 30, 0, 123456), T(2024, 3, 10)),
    (2, "p", "SUCCESS", T(2024, 1, 2), T(2024, 1, 2)),
    (3, "p", "SUCCESS", T(2024, 1, 3), T(2024, 1, 3)),
    (4, "p", "FAILED", T(2024, 12, 1), T(2024, 12, 1)),
])
# 2. one INT96 file (a vanilla session's default), conf set only here
key = "spark.sql.parquet.outputTimestampType"
prev = spark.conf.get(key)
spark.conf.set(key, "INT96")
try:
    spark_save([(2, "p", "SUCCESS", T(2024, 11, 3, 1, 30, 0, 654321), T(2024, 11, 3))])
finally:
    spark.conf.set(key, prev)
# 3. driver-written files
for org, end in [(1, T(2024, 3, 9, 23, 59, 59, 999999)), (2, None),
                 (3, T(2024, 7, 4, 12, 0, 0, 1)), (1, T(1999, 12, 31, 23, 0))]:
    log.save("SUCCESS", org, "p", end, now=T(2024, 7, 4))
log.save("FAILED", 3, "p", T(2025, 1, 1), now=T(2025, 1, 1))
log.save("SUCCESS", 1, "other", T(2030, 1, 1), now=T(2030, 1, 1))

for org in (1, 2, 3, 4, 5):
    old = (log.read()
           .filter((F.col("org_id") == org) & (F.col("project_id") == "p")
                   & (F.col("status") == "SUCCESS"))
           .agg(F.max("end_date_time").alias("wm")).first()["wm"])
    new = log.last_success_watermark(org, "p")
    assert new == old, (org, new, old)
    print(org, repr(new))
spark.stop()
"""


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_mixed_log_watermark_matches_spark_first(tmp_path, tz):
    out = subprocess.run(
        [sys.executable, "-c", _MIXED, str(tmp_path / "ckpt")],
        env={**os.environ, "PYTHONPATH": REPO, "TZ": tz},
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = dict(line.split(" ", 1) for line in out.stdout.strip().splitlines())
    assert sorted(got) == ["1", "2", "3", "4", "5"]
    assert got["4"] == got["5"] == "None"
    assert got["3"] == repr(dt.datetime(2024, 7, 4, 12, 0, 0, 1))
