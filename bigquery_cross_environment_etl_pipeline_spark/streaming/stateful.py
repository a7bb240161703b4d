"""Custom stateful streaming operator (applyInPandasWithState).

The reference's only state is the external checkpoint table; a real
incremental engine also needs *in-stream* state (running per-key
aggregates, dedup-across-batches, session tracking). This module is the
template: per-key state as a typed tuple, Arrow-batched updates, update
output mode. The running total is kept in integer cents, so the state
after any micro-batch split is exact and oracle-checkable.

Scale notes: state lives in the executors' state store partitioned by
key (shuffle on user_id), so memory is O(distinct keys / executor);
with a watermark + timeout the store evicts idle keys — unbounded key
spaces need ``GroupStateTimeout.EventTimeTimeout``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

CENTS_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_cents bigint"
CENTS_STATE_SCHEMA = "n_events bigint, total_cents bigint"


def _update_user_totals_cents(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """(count, integer-cents sum) per user across micro-batches. Cents
    accumulate as exact int64, so — unlike a float running sum, whose
    value depends on arrival order — the final state is identical for
    every micro-batch split and bitwise-comparable to a batch oracle."""
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # rows arrive pre-scaled to integer cents (see
        # stream_user_totals_cents) — the batch sum is exact int64
        cents += int(pdf["value"].sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
    )


def stream_user_totals_cents(stream: DataFrame) -> DataFrame:
    """Running per-user (count, cents) in stream state: values are
    scaled to integer cents BEFORE crossing into state (2-dp input, so
    the scaling is exact), making the accumulated state independent of
    micro-batch boundaries."""
    return (
        stream.select(
            "user_id",
            # round once per ROW (exact for 2-dp doubles), then the
            # per-batch pandas sum adds exact integers
            F.round(F.col("value") * 100).cast("bigint").alias("value"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals_cents,
            outputStructType=CENTS_OUTPUT_SCHEMA,
            stateStructType=CENTS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
