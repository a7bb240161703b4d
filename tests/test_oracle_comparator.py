"""The one Spark-vs-DuckDB comparator (tools/_duck.py): every class of
difference the external driver can see must read as a difference,
and tests/ and tools/ must hold no second comparison."""

from __future__ import annotations

import os
import re

import pytest

from _duck import (  # tools/, on the path via conftest
    BOTH_ERROR,
    DIFF,
    MATCH,
    ORACLE_ERROR,
    SPARK_ERROR,
    BoundedOracle,
    replay,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def oracle():
    with BoundedOracle() as ora:
        yield ora


def _frame(spark, rows, schema):
    return lambda: spark.createDataFrame(rows, schema)


@pytest.mark.parametrize(
    "rows, schema, sql",
    [
        # a DuckDB HUGEINT reaches Arrow as decimal128: Decimal('5') != 5
        pytest.param([(5,)], "x long", "SELECT 5::HUGEINT AS x", id="hugeint"),
        pytest.param(
            [(None,)], "x double", "SELECT 'NaN'::DOUBLE AS x", id="null_vs_nan"
        ),
        pytest.param([(1,)], "x long", "SELECT 1.0::DOUBLE AS x", id="int_vs_double"),
        pytest.param(
            [(1,), (2,)], "x long", "SELECT * FROM (VALUES (1), (3)) t(x)", id="value"
        ),
        pytest.param(
            [(1,), (2,)],
            "x long",
            "SELECT * FROM (VALUES (1), (2), (2)) t(x)",
            id="extra_row",
        ),
        pytest.param([(1,)], "x long", "SELECT 1 AS y", id="renamed_column"),
    ],
)
def test_replay_reports_each_difference(spark, oracle, rows, schema, sql):
    out = replay(_frame(spark, rows, schema), sql, oracle)
    assert out.kind == DIFF, out


def test_replay_matches_equal_inputs(spark, oracle):
    rows = [(2, None, 1.5, "b"), (1, float("nan"), None, None)]
    schema = "k long, d double, e double, s string"
    sql = (
        "SELECT * FROM (VALUES (1, 'NaN'::DOUBLE, NULL::DOUBLE, NULL),"
        " (2, NULL, 1.5, 'b')) t(k, d, e, s)"
    )
    # column order is free: the form sorts columns by name
    out = replay(_frame(spark, rows, schema), f"SELECT s, e, d, k FROM ({sql})", oracle)
    assert out.kind == MATCH, out


def test_replay_reports_which_engine_failed(spark, oracle):
    def broken():
        raise ValueError("builder failed")

    good = _frame(spark, [(1,)], "x long")
    assert replay(broken, "SELECT 1 AS x", oracle).kind == SPARK_ERROR
    assert replay(good, "SELECT * FROM no_such_table", oracle).kind == ORACLE_ERROR
    assert replay(broken, "SELECT * FROM no_such_table", oracle).kind == BOTH_ERROR
    # a failed oracle leaves the session usable for the next replay
    assert replay(good, "SELECT 1 AS x", oracle).kind == MATCH


def _sources():
    for d in ("tests", "tools"):
        for f in sorted(os.listdir(os.path.join(REPO, d))):
            if f.endswith(".py"):
                path = os.path.join(REPO, d, f)
                with open(path, encoding="utf-8") as fh:
                    yield f"{d}/{f}", fh.read()


def test_one_oracle_view_site_and_no_row_fetch_comparison():
    """Exactly one site in tests/ and tools/ opens the DuckDB views over
    ``{sf}/{table}.parquet`` (``BoundedOracle``), and nothing there
    fetches oracle rows as Python tuples: the tuple form reads a HUGEINT
    as a plain int, the class the Arrow canonical form exists to see."""
    view_sites, row_fetches = [], []
    for rel, text in _sources():
        for n, line in enumerate(text.splitlines(), 1):
            if re.search(r"CREATE\s+(OR\s+REPLACE\s+)?VIEW", line):
                view_sites.append(f"{rel}:{n}")
            if re.search(r"\.fetchall\(", line):
                row_fetches.append(f"{rel}:{n}")
    assert len(view_sites) == 1 and view_sites[0].startswith("tools/_duck.py:"), view_sites
    assert not row_fetches, row_fetches
