"""Defaults that follow the checkout and the process they run in."""

from __future__ import annotations

import os
import subprocess
import sys

import bigquery_cross_environment_etl_pipeline_spark as pkg

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))


def test_warehouse_default_is_inside_the_checkout(monkeypatch):
    from bigquery_cross_environment_etl_pipeline_spark import session

    monkeypatch.delenv("SPARK_GRAFT_WAREHOUSE", raising=False)
    conf = session.build_conf()
    assert conf["spark.sql.warehouse.dir"] == os.path.join(CHECKOUT, ".spark-warehouse")
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", "/elsewhere/wh")
    assert session.build_conf()["spark.sql.warehouse.dir"] == "/elsewhere/wh"


def test_non_daemon_worker_gets_the_zipimport_fix():
    """``python -m pyspark.worker`` (no daemon) registers only as
    ``__main__``; importing the package there must still install the
    fast zip invalidation."""
    out = subprocess.run(
        [sys.executable, "-c", (
            "import importlib.machinery, sys;"
            "sys.modules['__main__'].__spec__ = "
            "importlib.machinery.ModuleSpec('pyspark.worker', None);"
            "from bigquery_cross_environment_etl_pipeline_spark import workerenv;"
            "print('pyspark.worker' in sys.modules, workerenv._PATCHED)"
        )],
        capture_output=True, text=True, cwd=CHECKOUT,
    )
    assert out.stdout.split() == ["False", "True"], out.stderr[-500:]
