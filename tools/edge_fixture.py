#!/usr/bin/env python
"""Build the ADVERSARIAL edge dataset and replay the full oracle
catalog against it.

Every driver dataset (sf0.001 … sf0.1) is clean: no NULL text, no
NULL timestamps, ASCII-only tokens. That means an engine-divergence
on such rows is LATENT — invisible to the per-round correctness gate
until real data hits it (the round-4 ADVICE items `daily_count_
anomaly_zscore` NULL-day frames and the `doc_chunk_overlap` NULL-text
COALESCE were exactly this class). This tool makes the class visible:

1. copies sf0.001 into ``.edge_sf/`` (parquet schemas preserved via
   pyarrow, so physical timestamp types survive);
2. appends adversarial rows — documents with NULL / empty /
   whitespace-only / unicode / single-token / pathological text,
   events with NULL ts / NULL event_type / NULL value / NULL user_id /
   NULL props / inf value / malformed-JSON props, orders with NULL
   price/status/date/custkey, customers with every non-key column
   NULL, and lineitems with NULL join keys / prices / flags / dates;
3. replays EVERY oracle-bearing query through the one comparator
   (tools/_duck.py: bare-session Spark vs DuckDB, Arrow canonical
   form).

A mismatch means Spark and DuckDB disagree on the edge rows — a real
latent bug in the query or its oracle, worth fixing before any driver
dataset grows such rows. Divergences in row COUNT alone (both engines
agreeing) are fine and expected: edge rows legitimately join/aggregate.

    python tools/edge_fixture.py            # build + replay all
    python tools/edge_fixture.py q1 q2 ...  # replay a subset
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # tools/ siblings

from bigquery_cross_environment_etl_pipeline_spark.sources.registry import (  # noqa: E402
    TABLES,
)

SRC = "/root/testdata/sf0.001"
DEST = os.path.join(REPO, ".edge_sf")

#: appended rows per table: {table: [ {col: value} ]}; ids continue
#: beyond the max of sf0.001 so nothing collides. Columns omitted in a
#: dict become NULL.
EDGE_ROWS = {
    "documents": [
        {"doc_id": 900001, "text": None, "lang": "en", "source": "edge", "n_chars": 0},
        {"doc_id": 900002, "text": "", "lang": "en", "source": "edge", "n_chars": 0},
        {"doc_id": 900003, "text": "   ", "lang": "en", "source": "edge", "n_chars": 3},
        {"doc_id": 900004, "text": "solo", "lang": None, "source": "edge", "n_chars": 4},
        {"doc_id": 900005, "text": "naïve café über ß 日本語 emoji 🎉 token", "lang": "de", "source": None, "n_chars": 38},
        {"doc_id": 900006, "text": "dup dup dup dup dup dup dup dup", "lang": "en", "source": "edge", "n_chars": 31},
        {"doc_id": 900007, "text": "a" * 5000 + " tail", "lang": "en", "source": "edge", "n_chars": 5005},
        # byte-identical PAIR: exact dedup must keep exactly one, and
        # every hash/shingle path must agree which (min doc_id)
        {"doc_id": 900008, "text": "identical twin text for exact dedup checks", "lang": "en", "source": "edge", "n_chars": 43},
        {"doc_id": 900009, "text": "identical twin text for exact dedup checks", "lang": "en", "source": "edge", "n_chars": 43},
        # round 9: Unicode line terminators INSIDE words — \s+
        # tokenization does not strip U+0085/U+2028/U+2029, Java's
        # regex dot skips them while RE2's matches them (the BPE
        # char-splitter divergence class), and any per-char string op
        # must treat them as ordinary symbols on both engines
        {"doc_id": 900010, "text": "nelword line sep para end", "lang": "en", "source": "edge", "n_chars": 26},
    ],
    "events": [
        {"event_id": 900001, "ts": None, "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 900002, "ts": "2024-01-05 00:00:00", "user_id": None, "event_type": "click", "value": 2.0, "props": "{}"},
        {"event_id": 900003, "ts": "2024-01-05 00:00:01", "user_id": 7, "event_type": None, "value": 3.0, "props": "{}"},
        {"event_id": 900004, "ts": "2024-01-05 00:00:02", "user_id": 7, "event_type": "click", "value": None, "props": None},
        {"event_id": 900005, "ts": "2024-01-05 00:00:03", "user_id": 7, "event_type": "purchase", "value": float("inf"), "props": "not json"},
        # NaN metric (inf's sibling: isfinite catches both, bare
        # comparisons/casts diverge between engines)
        {"event_id": 900006, "ts": "2024-01-05 00:00:04", "user_id": 7, "event_type": "purchase", "value": float("nan"), "props": "{}"},
        # NEGATIVE metric: sign-sensitive guards (credits use -value)
        {"event_id": 900007, "ts": "2024-01-05 00:00:05", "user_id": 7, "event_type": "refund", "value": -1e9, "props": "{}"},
        # epoch boundary: collides with the F3 missing-watermark
        # default (1970-01-01) — boundary must be kept, not dropped
        {"event_id": 900008, "ts": "1970-01-01 00:00:00", "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}"},
        # near the int64-nanosecond ceiling (events.parquet is
        # TIMESTAMP(NANOS); 2262-04-11 is the last representable day)
        {"event_id": 900009, "ts": "2262-04-01 00:00:00", "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}"},
        # a purchase within 1h of the EPOCH click above: the stream
        # join drops the epoch click on arrival, so an oracle without
        # the epoch exclusion would emit a pair the stream cannot
        {"event_id": 900010, "ts": "1970-01-01 00:30:00", "user_id": 7, "event_type": "purchase", "value": 5.0, "props": "{}"},
    ],
    "orders": [
        {"o_orderkey": 900001, "o_custkey": 1, "o_orderstatus": None, "o_totalprice": 10.0, "o_orderdate": "2024-03-01 00:00:00", "o_orderpriority": "1-URGENT"},
        {"o_orderkey": 900002, "o_custkey": None, "o_orderstatus": "O", "o_totalprice": None, "o_orderdate": None, "o_orderpriority": None},
        # ETL-state stand-ins (FIXTURES.md: orders plays the checkpoint
        # log; o_orderstatus='F' plays SUCCESS). Round 7:
        # DUPLICATE CHECKPOINT TIMESTAMPS — two 'F' rows, same custkey,
        # identical o_orderdate: any per-key argmax must tie-break
        # deterministically (orderkey), never arbitrarily
        {"o_orderkey": 900003, "o_custkey": 77001, "o_orderstatus": "F", "o_totalprice": 10.0, "o_orderdate": "2024-06-01 00:00:00", "o_orderpriority": "2-HIGH"},
        {"o_orderkey": 900004, "o_custkey": 77001, "o_orderstatus": "F", "o_totalprice": 11.0, "o_orderdate": "2024-06-01 00:00:00", "o_orderpriority": "2-HIGH"},
        # FAILED-AFTER-SUCCESS — a LATER non-'F' row for the same key:
        # the latest-success read must ignore it, not advance
        {"o_orderkey": 900005, "o_custkey": 77001, "o_orderstatus": "P", "o_totalprice": 12.0, "o_orderdate": "2024-07-01 00:00:00", "o_orderpriority": "2-HIGH"},
        # round 8 (VERDICT r7 item 4): rows INSIDE the
        # jdbc_roundtrip_rollup slice (o_orderkey % 20 == 0) with NULL
        # status and NULL price — NULLs must survive the REAL Derby
        # write -> partitioned ranged read byte-identically: a NULL
        # status forms its own rollup group and an all-NULL price
        # group sums to NULL on BOTH engines
        {"o_orderkey": 900020, "o_custkey": 1, "o_orderstatus": None, "o_totalprice": None, "o_orderdate": "2024-03-05 00:00:00", "o_orderpriority": "3-MEDIUM"},
        {"o_orderkey": 900040, "o_custkey": 1, "o_orderstatus": "O", "o_totalprice": None, "o_orderdate": "2024-03-06 00:00:00", "o_orderpriority": "3-MEDIUM"},
        # round 9 (VERDICT r8 item 5): a row INSIDE the
        # orc_roundtrip_rollup slice (o_orderkey % 10 == 3) with NULL
        # status and NULL price, mirroring the JDBC plant above —
        # NULLs must survive write -> ORC -> pushed-down read: the
        # NULL status forms its own rollup group and its NULL price
        # sums to NULL on BOTH engines
        {"o_orderkey": 900013, "o_custkey": 1, "o_orderstatus": None, "o_totalprice": None, "o_orderdate": "2024-03-07 00:00:00", "o_orderpriority": "3-MEDIUM"},
    ],
    "customer": [
        {"c_custkey": 900001, "c_name": None, "c_nationkey": None, "c_acctbal": None, "c_mktsegment": None},
        # NULL org_id in the config relation (customer plays tenant
        # config): point lookups / joins / merges must never match it,
        # and NULL-key MERGE semantics (row survives unmodified) must
        # agree across engines — a bare NOT IN oracle fails this one
        {"c_custkey": None, "c_name": "null-org-config-row", "c_nationkey": 0, "c_acctbal": 1.0, "c_mktsegment": "BUILDING"},
    ],
    "embeddings": [
        # zero-norm vector: no defined cosine to anything — must be
        # excluded from every scoring join (similarity.py cnrm>0 /
        # na*nb>0 guards), never surfaced as a NaN/1.0 neighbor
        {"vec_id": 900001, "embedding": [0.0] * 64, "label": 0},
        # NULL embedding: must be dropped by eligibility filters, not
        # crash the fold/Arrow path
        {"vec_id": 900002, "embedding": None, "label": 1},
        # NaN element: poisons any dot product it enters — eligibility
        # must treat it like zero-norm/invalid on BOTH engines
        {"vec_id": 900003, "embedding": [float("nan")] + [0.1] * 63, "label": 2},
        # NULL label: grouping/stratification edge
        {"vec_id": 900004, "embedding": [0.25] * 64, "label": None},
        # IDENTICAL pair: cosine exactly 1.0 between them — top-k /
        # near-dup / knn tie-breaks must resolve by id on both engines
        {"vec_id": 900005, "embedding": [0.5] * 64, "label": 3},
        {"vec_id": 900006, "embedding": [0.5] * 64, "label": 3},
    ],
    "lineitem": [
        {"l_orderkey": None, "l_partkey": 1, "l_suppkey": 1, "l_linenumber": 1, "l_quantity": None, "l_extendedprice": None, "l_discount": None, "l_tax": None, "l_returnflag": None, "l_linestatus": None, "l_shipdate": None},
        {"l_orderkey": 900001, "l_partkey": None, "l_suppkey": None, "l_linenumber": 1, "l_quantity": 1.0, "l_extendedprice": 100.0, "l_discount": 0.05, "l_tax": 0.01, "l_returnflag": "R", "l_linestatus": "F", "l_shipdate": "2024-03-02 00:00:00"},
    ],
}


def build(dest: str = DEST) -> str:
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    for t in TABLES:
        src_path = f"{SRC}/{t}.parquet"
        tbl = pq.read_table(src_path)
        extra = EDGE_ROWS.get(t)
        if extra:
            cols = {}
            for field in tbl.schema:
                vals = [r.get(field.name) for r in extra]
                if pa.types.is_timestamp(field.type):
                    import datetime as dt

                    vals = [
                        None if v is None
                        else dt.datetime.fromisoformat(v)
                        for v in vals
                    ]
                cols[field.name] = pa.array(vals, type=field.type)
            tbl = pa.concat_tables(
                [tbl, pa.table(cols, schema=pa.schema(tbl.schema))]
            )
        pq.write_table(tbl, f"{dest}/{t}.parquet")
    return dest


def replay(dest: str, only: list[str] | None = None) -> int:
    """Replay every oracle-bearing query (or ``only``) on the edge
    data; return the number of silent divergences."""
    from _duck import BOTH_ERROR, BoundedOracle, bare_session, replay_catalog

    from bigquery_cross_environment_etl_pipeline_spark import queries_catalog

    oracles = queries_catalog.oracle_queries()
    for name in only or ():
        if name not in oracles:
            print(f"SKIP {name} (no oracle)")
    names = [n for n in only or sorted(oracles) if n in oracles]
    spark = bare_session()
    try:
        with BoundedOracle(dest, TABLES) as ora:
            outcomes = replay_catalog(spark, dest, ora, names)
    finally:
        spark.stop()
    # both engines refusing the edge rows LOUDLY is an acceptable
    # (documented) contract: no silent wrong answer is possible
    loud_both = sum(o.kind == BOTH_ERROR for o in outcomes.values())
    fails = sum(not o.ok and o.kind != BOTH_ERROR for o in outcomes.values())
    print(
        f"edge replay: {len(names)} queries, {fails} silent divergences,"
        f" {loud_both} loud-on-both (acceptable)"
    )
    return fails


if __name__ == "__main__":
    dest = build()
    sys.exit(1 if replay(dest, sys.argv[1:] or None) else 0)
