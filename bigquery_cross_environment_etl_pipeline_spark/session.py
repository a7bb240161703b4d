"""SparkSession factory.

The reference delegates all execution to BigQuery/MySQL servers
(reference: core/bigquery/client.py:29-31, core/database/database_class.py:40-47);
here the "server" is Spark itself, so the session carries the engine
configuration: AQE for runtime re-planning (skew joins, partition
coalescing), UTC session time so results are reproducible across hosts,
Arrow for every Python boundary, and shuffle parallelism sized to the
actual cores rather than the 200-partition default.

Scale notes (100 TB / 1000 executors): everything configured here is
cluster-size-agnostic — AQE coalesces the local shuffle (one partition
per core by default) the same way it would coalesce a 2000-partition
cluster shuffle; the only local-mode-specific knob is the master URL,
which production deployments override via ``spark.master`` submit conf.

AQE coalesces by bytes: partitions are merged up to its 1 MB
``coalescePartitions.minPartitionSize`` floor, so any shuffle smaller
than that runs its reduce side as ONE task. That is right for JVM
operators and wrong for a Python stage whose cost is per group, not
per byte — such a stage pins its width with an explicit
``repartition(N, keys)``, an exchange AQE never coalesces
(``plans/extended.grouped_median_applyinpandas``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import CHECKOUT_DIR

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_conf(
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The engine's session configuration as a plain dict —
    ``extra_conf`` entries override engine defaults key-for-key (the
    escape hatch tests pin: e.g. restoring the stock pyspark daemon).
    """
    cpus = default_parallelism()
    conf: dict[str, str] = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # with the default "true" every pyspark.sql.functions call walks
        # the Python stack and makes extra py4j round trips to record its
        # call site (~684 calls to build embedding_cosine_topk). The
        # trade-off: a runtime error loses its Python call-site
        # "DataFrame" context; extra_conf can turn it back on to debug.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # preload numpy/pandas/pyarrow (and this package's worker-side
        # fixes) in the daemon so forked workers inherit them via COW
        # instead of paying ~4.7 s CPU of imports each (guide §4.5;
        # measured in OPTIMIZATION_r11.md). The daemon process must be
        # able to import this (not-pip-installed) package no matter
        # what the DRIVER's cwd is, so the package root is propagated
        # through the worker env explicitly — `python -m …daemonprefork`
        # otherwise only works by the accident of an inherited repo-root
        # cwd.
        #
        # CLUSTER POSTURE (round 12, VERDICT r11 item 7): the module
        # import itself is a HARD dependency — if an executor's Python
        # cannot import it (package not shipped, PYTHONPATH stripped by
        # a wrapper), every Python stage on that executor fails to
        # launch rather than degrading. Deployments must either ship
        # the package to executors at the same path (the PYTHONPATH
        # below covers same-image clusters) or restore the stock daemon
        # via ``extra_conf={"spark.python.daemon.module":
        # "pyspark.daemon"}`` — see README "Worker daemon preload";
        # tests/test_optimization_r12.py pins the override.
        "spark.python.daemon.module": (
            "bigquery_cross_environment_etl_pipeline_spark.daemonprefork"
        ),
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(
            [CHECKOUT_DIR]
            + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
        ),
        "spark.sql.parquet.filterPushdown": "true",
        # default INT96 timestamps carry NO row-group min/max statistics
        # — INT64 micros restore timestamp range skipping at the scan
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", os.path.join(CHECKOUT_DIR, ".spark-warehouse")
        ),
    }
    conf.update(extra_conf or {})
    return conf


def get_spark(
    app_name: str = "bqxe-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine SparkSession.

    ``shuffle_partitions`` defaults to the local core count — with AQE
    partition coalescing enabled, this is an upper bound that AQE shrinks
    for small shuffles; on a real cluster it should be ~2-3x total cores.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for k, v in build_conf(shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
