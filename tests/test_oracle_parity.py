"""Mirror of the driver's correctness gate: every query with an oracle
must match DuckDB exactly, in the Arrow canonical form of the one
comparator (tools/_duck.py: column names, row count, every cell's
repr — NULL vs NaN, int vs float vs Decimal kept apart).

Runs at sf0.001; ``python tools/arrow_replay.py --sf <dir>`` replays
the catalog at any other scale, ``pytest -k`` picks queries here.
"""

from __future__ import annotations

import pytest

from _duck import BoundedOracle, replay  # tools/, on the path via conftest

from bigquery_cross_environment_etl_pipeline_spark import queries_catalog
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import TABLES

from .conftest import SF_SMOKE

QUERIES = queries_catalog.spark_queries()
ORACLES = queries_catalog.oracle_queries()
WITH_ORACLE = sorted(ORACLES)


@pytest.fixture(scope="module")
def oracle():
    with BoundedOracle(SF_SMOKE, TABLES) as ora:
        yield ora


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, oracle, name):
    out = replay(lambda: QUERIES[name](spark, SF_SMOKE), ORACLES[name], oracle)
    assert out.ok, f"{name}: {out}"


def test_all_queries_have_entries():
    assert len(QUERIES) >= 20
    assert sorted(QUERIES) == sorted(ORACLES), "every query carries an oracle"


def test_rows_only_queries_execute():
    """No query is rows-only: each one is hash-checked above. A query
    added without an oracle fails here, by name, instead of passing
    with an execution check only."""
    rows_only = sorted(set(QUERIES) - set(ORACLES))
    assert not rows_only, f"queries without an oracle: {rows_only}"
    assert not set(ORACLES) - set(QUERIES), "oracles without a query"


def test_timestamp_rendering_survives_shifted_session_tz(spark, oracle):
    """The driver's session may start on a TZ-shifted host; load_table
    re-pins session UTC so rendered timestamps still match the TZ-naive
    DuckDB oracle. Simulate the shift and replay a query that renders
    timestamps."""
    name = "incremental_window_scan"
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        out = replay(lambda: QUERIES[name](spark, SF_SMOKE), ORACLES[name], oracle)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert out.ok, f"{name}: {out}"
