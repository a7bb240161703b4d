#!/usr/bin/env python
"""Replay the oracle catalog on a bare session through the one
comparator (tools/_duck.py).

Every named query (default: every query with an oracle) runs on a
driver-shaped ``SparkSession.builder.master("local[N]")`` session and
its oracle in a bounded DuckDB session over ``--sf``; the two are
compared in the Arrow canonical form the external driver hashes in.
The session pins no time zone, so run it under both host zones:

    TZ=UTC python tools/arrow_replay.py --sf path/to/sf0.01
    TZ=America/New_York python tools/arrow_replay.py --sf path/to/sf0.01
    python tools/arrow_replay.py q1 q2          # a subset, sf0.001

Exits 0 only when every replayed query matches.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from _duck import BoundedOracle, bare_session, replay_catalog  # noqa: E402

from bigquery_cross_environment_etl_pipeline_spark import queries_catalog  # noqa: E402
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import (  # noqa: E402
    TABLES,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="subset of query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    oracles = queries_catalog.oracle_queries()
    names = args.names or list(oracles)
    unknown = [n for n in names if n not in oracles]
    if unknown:
        ap.error(f"no oracle for: {unknown}")

    spark = bare_session()
    try:
        with BoundedOracle(args.sf, TABLES) as ora:
            outcomes = replay_catalog(spark, args.sf, ora, names)
    finally:
        spark.stop()
    bad = {n: o.kind for n, o in outcomes.items() if not o.ok}
    print(f"arrow replay: {len(names) - len(bad)}/{len(names)} match; not matching: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
