"""Bans HUGEINT (int128) from every oracle's output schema.

Round-8 root cause of the r6/r7 `corpus_sequence_packing` driver hash
FAILs: DuckDB's SUM(BIGINT) returns HUGEINT, and a consumer that
fetches through Arrow surfaces HUGEINT as decimal128(38,0) -> Python
Decimal — which hashes unequal to Spark's int64 even when every value
is numerically identical. A consumer that fetched rows as Python
tuples (the local parity harness of the time) got plain ints
instead, so the divergence was invisible locally for two rounds. The
class is only reachable through the oracle's *output* types, so this
gate runs every registered oracle against the sf0.001 parquet in
plain DuckDB (no Spark session — fast) and fails on any
HUGEINT/UHUGEINT output column.

If an oracle legitimately needs int128 intermediates (wide sums), keep
them inside a CTE and CAST the projected column to BIGINT — the fix
applied to corpus_sequence_packing's start_offset.
"""

from __future__ import annotations

import pytest

from _duck import BoundedOracle  # tools/, on the path via conftest

from bigquery_cross_environment_etl_pipeline_spark.sources.registry import TABLES

from .conftest import SF_SMOKE

BANNED = {"HUGEINT", "UHUGEINT"}


@pytest.fixture(scope="module")
def oracle():
    # the parity suite's data and table list: a table added to
    # sources/registry.py is picked up here automatically (DuckDB views
    # bind at query time, so a registered-but-absent parquet fails the
    # querying oracle loudly instead of being silently skipped)
    with BoundedOracle(SF_SMOKE, TABLES) as ora:
        yield ora


def test_no_oracle_emits_hugeint(oracle):
    from __spark_entry__ import oracle_sql

    offenders: list[str] = []
    for name, sql in sorted(oracle_sql().items()):
        rel = oracle.run(lambda c, sql=sql: c.sql(sql))
        hits = [
            f"{col}:{typ}"
            for col, typ in zip(rel.columns, (str(t) for t in rel.types))
            if typ in BANNED
        ]
        if hits:
            offenders.append(f"{name}: {', '.join(hits)}")
    assert not offenders, (
        "oracle output columns with int128 types (Arrow consumers see "
        "Decimal, not int — CAST ... AS BIGINT inside the oracle):\n"
        + "\n".join(offenders)
    )
