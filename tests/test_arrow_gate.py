"""The Arrow-path gate on the round's new and changed queries.

The external driver consumes both engines' results through Arrow, and
Arrow surfaces types a row-fetch comparison normalizes away (DuckDB
HUGEINT arrives as decimal128 under Arrow but as a plain int under
fetchall()). This test replays every query in
``queries_catalog._FORCE_WINDOW`` plus every oracle-bearing query with
no green ledger row, the ones whose first driver exposure is imminent,
through the one comparator (tools/_duck.py ``replay``: Spark
``toArrow()`` against ``fetch_arrow_table()``, cells repr'd, columns
and rows sorted).

Each case is also a ``test_oracle_parity`` case in the same form; this
file keeps the gate's own names so a red force-window query shows up
under the gate as well as under the full parity sweep.
"""

from __future__ import annotations

import pytest

from _duck import BoundedOracle, replay  # tools/, on the path via conftest

from bigquery_cross_environment_etl_pipeline_spark import queries_catalog
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import TABLES

from .conftest import SF_SMOKE


def _gate_cases():
    """The _FORCE_WINDOW list (semantically modified: old greens no
    longer attest) plus every oracle-bearing query with no green ledger
    row (brand-new: the rotation's never-green section sends these to
    the driver next)."""
    queries_catalog._load_all()
    ledger = queries_catalog._load_ledger().get("green", {})
    never_green = [n for n in queries_catalog._ORACLE if not ledger.get(n)]
    return list(dict.fromkeys(queries_catalog._FORCE_WINDOW + never_green))


@pytest.fixture(scope="module")
def oracle():
    with BoundedOracle(SF_SMOKE, TABLES) as ora:
        yield ora


@pytest.mark.parametrize("name", _gate_cases())
def test_force_window_query_survives_the_arrow_type_domain(name, spark, oracle):
    """Every new/changed query must match its oracle in the Arrow type
    domain the external driver compares in, before its first driver
    exposure."""
    qs = queries_catalog.spark_queries()
    osql = queries_catalog.oracle_queries()
    assert name in qs, f"_FORCE_WINDOW entry {name!r} is not registered"
    if name not in osql:
        pytest.skip(f"{name} is declared rows-only (no oracle)")
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    out = replay(lambda: qs[name](spark, SF_SMOKE), osql[name], oracle)
    assert out.ok, f"{name}: {out}"
