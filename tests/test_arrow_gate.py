"""The Arrow-path close-out gate, institutionalized (VERDICT r8 item 4).

The per-round external driver consumes both engines' results through
Arrow, and Arrow surfaces types the fetchall()-based parity suite
silently normalizes — DuckDB HUGEINT arrives as decimal128 -> Python
Decimal under Arrow but a plain int under fetchall(). That single
difference kept `corpus_sequence_packing` hash-green locally and
hash-red externally for TWO rounds (r6/r7, root-caused r8).

tools/arrow_replay.py exists to close that observability gap, but a
tool can be forgotten; this test cannot. It replays every query in
``queries_catalog._FORCE_WINDOW`` — by standing convention exactly
the round's NEW or SEMANTICALLY MODIFIED queries, the ones whose
first driver exposure is imminent — in the driver's exact type
domain: Spark via Arrow-enabled ``toPandas()``, the oracle via
``fetch_arrow_table()``, compared repr-exact after the driver's
canonicalization (columns sorted by name, rows sorted). It imports
the REAL tool's ``canon`` so the gate and the full-catalog sweep can
never drift apart.

Cost is one sf0.001 replay per gated query, so it grows with the force
list (queries_catalog.py), which has no size cap and is reset each
round; the full-catalog Arrow sweep remains tools/arrow_replay.py's job
at round close.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)

from arrow_replay import canon  # noqa: E402 — the real tool's comparator
from _duck import BoundedOracle  # noqa: E402

from bigquery_cross_environment_etl_pipeline_spark import queries_catalog  # noqa: E402
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import (  # noqa: E402
    TABLES,
)

from .conftest import SF_SMOKE  # noqa: E402


def _gate_cases():
    """The round's new/changed queries: the _FORCE_WINDOW list
    (semantically modified — old greens no longer attest) PLUS every
    oracle-bearing query with no green ledger row (brand-new — the
    rotation's never-green section sends these to the driver next, so
    their first exposure is exactly as imminent as the forced ones,
    without taking a force-list entry)."""
    queries_catalog._load_all()
    ledger = queries_catalog._load_ledger().get("green", {})
    never_green = [
        n for n in queries_catalog._ORACLE if not ledger.get(n)
    ]
    return list(
        dict.fromkeys(queries_catalog._FORCE_WINDOW + never_green)
    )


@pytest.mark.parametrize("name", _gate_cases())
def test_force_window_query_survives_the_arrow_type_domain(name, spark):
    """Every new/changed query must hash-match its oracle in the SAME
    type domain the external driver compares in, BEFORE its first
    driver exposure."""
    qs = queries_catalog.spark_queries()
    osql = queries_catalog.oracle_queries()
    assert name in qs, f"_FORCE_WINDOW entry {name!r} is not registered"
    if name not in osql:
        pytest.skip(f"{name} is declared rows-only (no oracle)")
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    pdf = qs[name](spark, SF_SMOKE).toPandas()
    with BoundedOracle(SF_SMOKE, TABLES) as ora:
        opdf = ora.run(lambda c: c.sql(osql[name]).fetch_arrow_table().to_pandas())
    assert sorted(pdf.columns) == sorted(opdf.columns), name
    a, b = canon(pdf), canon(opdf)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y) if len(a) == len(b) else None
        pytest.fail(
            f"{name}: Arrow-domain mismatch rows {len(a)}/{len(b)}"
            + (f" first diff spark={diff[0]} oracle={diff[1]}" if diff else "")
        )
