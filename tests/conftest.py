from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# tools/_duck.py, the one oracle comparator, is imported as ``_duck``
sys.path.insert(0, os.path.join(REPO, "tools"))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from bigquery_cross_environment_etl_pipeline_spark.session import get_spark

    s = get_spark(app_name="tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()
