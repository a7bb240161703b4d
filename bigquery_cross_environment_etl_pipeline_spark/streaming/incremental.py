"""Structured Streaming variant of the incremental path (T1-T6).

The reference is a manually-scheduled micro-batch stream: each Pub/Sub
trigger re-derives the window from a checkpoint table and appends the
delta (reference core/services/billing_etl.py:135-219). Structured
Streaming subsumes that protocol natively:

- the streaming checkpoint directory IS the high-watermark log (T1) —
  exactly-once per sink via idempotent batch ids (T5), replacing the
  reference's at-least-once duplicates-on-retry;
- ``withWatermark`` gives the explicit late-data allowance the reference
  lacks (T6 — rows older than the watermark were silently skipped;
  here lateness is a declared budget);
- ``Trigger.AvailableNow`` reproduces the "process the backlog then
  stop" shape of the Pub/Sub-triggered job (T7's driver-level re-run).

Scale notes: a parquet-directory source is used for tests; swapping in
Kafka is a one-line source change because everything downstream is
expressed on the streaming DataFrame. State for the windowed aggregation
is bounded by the watermark horizon, so executors hold
O(windows-in-horizon) state regardless of total history.
"""

from __future__ import annotations

import contextlib
import tempfile
import uuid
from typing import Iterator, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType, TimestampNTZType

from ..operators.load import load_append, session_conf
from ..sources.registry import read_parquet


def ensure_event_time(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP at the source
    boundary. Spark's event-time machinery (``withWatermark``,
    ``window``, state timeouts) requires TimestampType; parquet written
    with isAdjustedToUTC=false arrives as NTZ and would raise
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE. The session zone is pinned to
    UTC (session.py), so the cast declares "these wall-clock stamps ARE
    UTC instants" — deterministic across hosts."""
    ntz_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for name in ntz_cols:
        df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


def read_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return ensure_event_time(reader.load(source_dir))


def write_microbatches(dfs, dest_dir: str) -> None:
    """Lay a list of DataFrames out as ONE parquet file per micro-batch
    (``batch-0000.parquet``, ``batch-0001.parquet``, ...) with strictly
    increasing pinned mtimes.

    This encodes the determinism invariant every file-source
    batch-replay query relies on: replay order must be stable under
    BOTH listing policies a file stream may use — modification time
    AND lexicographic path — so the batch index orders the files by
    name while ``os.utime`` pins matching 100-second-spaced mtimes.
    One shared definition (used by ``file_feed`` and the streaming
    tests) so a copy can't drop the utime or the name ordering and
    turn the replay nondeterministic. A stream has ONE schema, so the
    frames must agree on column names and types (nullability aside);
    the check compares driver-side schemas and runs no Spark job."""
    import os
    import shutil

    shapes = [df.schema.simpleString() for df in dfs]
    if len(set(shapes)) > 1:
        raise ValueError(
            "write_microbatches: every micro-batch needs the same column"
            f" names and types, got {shapes}"
        )
    os.makedirs(dest_dir, exist_ok=True)
    with tempfile.TemporaryDirectory(prefix="microbatch_stage_") as staging:
        for i, df in enumerate(dfs):
            stage = f"{staging}/stage{i}"
            df.coalesce(1).write.parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            # zero-padded index: lexicographic order must equal batch
            # order past 9 batches too (batch-10 < batch-2 unpadded)
            dest = f"{dest_dir}/batch-{i:04d}.parquet"
            shutil.move(f"{stage}/{part}", dest)
            os.utime(dest, (1_700_000_000 + 100 * i,) * 2)


class FileFeed(NamedTuple):
    """``stream`` reads the feed; ``dir`` is the temp space holding it,
    where a caller may put the query's checkpoint and output too."""

    stream: DataFrame
    dir: str


@contextlib.contextmanager
def file_feed(
    spark: SparkSession,
    feed: DataFrame | list[DataFrame],
    max_files_per_trigger: int | None = None,
) -> Iterator[FileFeed]:
    """Write ``feed`` into a temp space this context owns and stream it
    back: one DataFrame with a plain write, or a list of them through
    ``write_microbatches``. The stream takes the feed's own schema, so
    no Spark job re-infers it from the files just written. A memory
    sink drained inside the context outlives the temp space.

    Inside the context ``spark.sql.shuffle.partitions`` is capped at
    the default parallelism: a stateful stream keeps one state store
    per shuffle partition and runs every partition each micro-batch.
    At a vanilla session's 200 the 11 streaming catalog builders took
    377 s at sf0.01 on a 4-core local[4] session, against 35 s with
    the cap."""
    cap = spark.sparkContext.defaultParallelism
    key = "spark.sql.shuffle.partitions"
    with session_conf(
        spark, key, str(min(int(spark.conf.get(key)), cap))
    ), tempfile.TemporaryDirectory(prefix="stream_feed_") as tmp:
        if isinstance(feed, list):
            write_microbatches(feed, f"{tmp}/src")
            schema = feed[0].schema
        else:
            feed.write.parquet(f"{tmp}/src")
            schema = feed.schema
        yield FileFeed(
            read_stream(spark, f"{tmp}/src", schema, max_files_per_trigger), tmp
        )


def await_drain(q: StreamingQuery, timeout: int = 300) -> None:
    """The one checked wait for an AvailableNow query: if it has not
    drained within ``timeout`` seconds, stop it and raise, so no
    caller reads a half-filled sink."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(f"stream {q.name or q.id} did not drain in {timeout}s")


def drain_memory_sink(
    agg: DataFrame, mode: str = "append", timeout: int = 300
) -> DataFrame:
    """Drain ``agg`` with Trigger.AvailableNow into a freshly named
    memory sink (``await_drain``) and return the sink as a DataFrame."""
    name = f"drain_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, timeout)
    return agg.sparkSession.table(name)


def stream_incremental_append(
    stream: DataFrame,
    dest_path: str,
    checkpoint_dir: str,
    status_rows: list | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """T4/T5: transactional append via foreachBatch — the write and the
    status record commit per micro-batch with an idempotent batch id:
    each epoch is loaded by ``load_append`` into its own ``_batch_id``
    partition by dynamic overwrite, so a batch re-delivered after a
    crash between the sink write and Spark's commit replaces its first
    write instead of duplicating it.

    ``available_now=False`` runs the default continuous micro-batch
    trigger — required for sources that don't support
    Trigger.AvailableNow (e.g. Python DataSource streams); the caller
    stops the query once the tail drains."""

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        result = load_append(batch, dest_path, batch_id=str(epoch_id))
        if status_rows is not None:
            status_rows.append(
                {"epoch_id": epoch_id, "rows": result.total_rows, "status": result.status}
            )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_session_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    lateness: str = "10 minutes",
) -> DataFrame:
    """Streaming sessionization: ``session_window`` merges events into
    per-key sessions closed by a ``gap`` of silence — the streaming form
    of the batch lag+cumsum sessionization query. Watermark bounds the
    open-session state (a session emits once the watermark passes its
    close), so executor state is O(active sessions in horizon), not
    O(history)."""
    # DECIMAL accumulation for the value sum (order-independent, exact
    # for 2-dp values) rendered as double — the same convention as
    # stream_windowed_counts, which is what lets the driver hash-compare
    # the emitted sessions against a batch SQL oracle.
    return (
        stream.withWatermark(ts_col, lateness)
        .groupBy(F.session_window(ts_col, gap).alias("win"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("_tv"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key_col,
            "n_events",
            F.col("_tv").cast("double").alias("total_value"),
        )
    )


def stream_windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    lateness: str = "10 minutes",
    window_size: str = "1 hour",
) -> DataFrame:
    """T2/T3/T6: tumbling-window counts with an explicit late-data
    allowance — the declarative form of the reference's half-open
    [start, end) stitching, plus the lateness budget it lacked.

    ``total_value`` accumulates in DECIMAL(18,4) (exact for the 2-dp
    event values, summation-order independent) and renders as double —
    that is what lets the driver hash-compare this streaming query
    against a plain GROUP BY oracle; a raw double SUM would drift in
    the last ulp with aggregation order."""
    return (
        stream.withWatermark(ts_col, lateness)
        .groupBy(F.window(ts_col, window_size).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("_tv"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            F.col("_tv").cast("double").alias("total_value"),
        )
    )


def snapshot_versions(snapshot_dir: str) -> list[tuple[int, str]]:
    """The complete versions ``stream_cdc_upsert`` wrote under
    ``snapshot_dir``: ``(version, path)`` for every ``v<N>`` directory
    holding a ``_SUCCESS`` marker, oldest first."""
    import glob
    import os
    import re

    done = [os.path.dirname(s) for s in glob.glob(f"{snapshot_dir}/v*/_SUCCESS")]
    return sorted((int(re.search(r"v(\d+)$", p).group(1)), p) for p in done)


def stream_cdc_upsert(
    stream: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    sequence_cols: list[str],
) -> StreamingQuery:
    """Streaming CDC MERGE: each micro-batch of the keyed change feed is
    collapsed to its latest change per key and merged into a versioned
    snapshot — the streaming form of ``operators/upsert.apply_changes``
    (reference's batch-replay sync, made row-level and continuous).

    Merge state RETAINS delete tombstones (``collapse_changes``), so a
    late lower-sequence row can never resurrect a deleted key, and the
    union+collapse merge is sequence-correct even when ties straddle
    micro-batches. Snapshot versions are numbered MONOTONICALLY from
    the newest version already on disk — NOT by epoch id, which resets
    to 0 for a query with a fresh checkpoint and would write the merge
    BELOW existing versions where every max-version reader (including
    recovery) misses it. A batch re-delivered after a crash re-merges
    into a new version with identical content (union+collapse is
    idempotent), the streaming checkpoint pins the source offsets, and
    readers see only complete (_SUCCESS) versions: effectively-once
    end to end.

    Scale notes: per batch ONE key-hash shuffle for the collapse and
    one for the merge (or zero with a key-bucketed snapshot layout);
    the snapshot rewrite is the format-agnostic stand-in for MERGE INTO
    on a transactional table, same as ``merge_upsert``.
    """
    from ..operators.upsert import collapse_changes

    existing = snapshot_versions(snapshot_dir)
    state = {
        "last": existing[-1][1] if existing else None,
        "next": existing[-1][0] + 1 if existing else 0,
    }

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        collapsed = collapse_changes(batch, keys, sequence_cols)
        if state["last"] is not None:
            prev = read_parquet(spark, state["last"])
            collapsed = collapse_changes(
                prev.unionByName(collapsed), keys, sequence_cols
            )
        version_path = f"{snapshot_dir}/v{state['next']}"
        collapsed.write.mode("overwrite").parquet(version_path)
        state["last"] = version_path
        state["next"] += 1

    writer = stream.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    return writer.trigger(availableNow=True).start()


def stream_static_enrich_counts(
    stream: DataFrame,
    dim: DataFrame,
    join_key_stream: str,
    join_key_dim: str,
    group_col: str,
    ts_col: str = "ts",
    lateness: str = "10 minutes",
    window_size: str = "1 day",
) -> DataFrame:
    """Stream-STATIC join + windowed rollup — the most common streaming
    enrichment shape: each micro-batch of the stream hash-joins a
    static (batch) dimension, then rolls up finalized windows per
    dimension attribute. The static side is marked broadcast, so every
    micro-batch pays a map-side lookup, never a shuffle of the stream;
    at cluster scale the dimension is re-broadcast only when the DF is
    re-resolved, and a slowly-changing dim would come through a
    snapshot view. Inner join semantics: stream rows with no dim match
    are dropped (the reference's config-driven routing does the same
    for unknown tenants — core/services/billing_etl.py resolves config
    BEFORE processing and skips unknown orgs).

    The event-time column survives the join untouched, so the
    downstream watermark + tumbling window finalize exactly as in
    ``stream_windowed_counts`` — same append-mode emission contract
    (window end <= global max event time - lateness)."""
    enriched = stream.join(
        F.broadcast(dim), stream[join_key_stream] == dim[join_key_dim]
    )
    return (
        enriched.withWatermark(ts_col, lateness)
        .groupBy(F.window(ts_col, window_size).alias("win"), group_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            group_col,
            "n_events",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    interval: str = "1 hour",
    lateness: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM inner join with an event-time interval constraint:
    right rows within ``[left_ts, left_ts + interval]`` for the same
    key — the funnel/attribution shape (click -> purchase within an
    hour) as a genuine two-sided streaming join.

    Both sides carry watermarks and the join condition bounds the
    event-time distance, which is what lets Spark EVICT join state:
    each side buffers only rows within lateness + interval of the
    global watermark instead of forever — the difference between
    bounded state and OOM on an unbounded stream. Inner-join emission
    is match-driven (a pair emits in the micro-batch where both sides
    are present), so with an ordered feed whose lateness budget covers
    the interval no match can be lost to eviction — the full pair set
    emits exactly once, which is what the batch-replay oracle checks.

    The interval comparison stays in the TIMESTAMP domain
    (right_ts <= left_ts + INTERVAL) — an epoch-seconds subtraction
    would truncate and misclassify boundary pairs (verify-skill
    gotcha).

    ``how="left_outer"`` adds watermark-driven NULL emission: an
    unmatched left row emits with NULL right columns once the global
    watermark proves no partner can still arrive (left_ts + interval
    behind the watermark) — emission therefore happens a batch AFTER
    the watermark advance, so a bounded replay needs trailing
    watermark-advancer batches on BOTH sides (the same
    eviction-at-batch-end mechanics as late_data_watermark_replay).

    ``how="full_outer"`` runs BOTH null-emission machines: the left
    contract above, plus an unmatched RIGHT row emitting with NULL
    left columns once the watermark passes ITS horizon — which is its
    own right_ts, strictly earlier than any left horizon, since a
    partner left row must carry left_ts <= right_ts under this
    condition; advancers sized for the left side therefore flush both.

    ``how`` is validated: Spark accepts other modes for stream-stream
    joins (e.g. left_semi) whose emission state machines are
    DIFFERENT — a typo must fail loudly, not silently change
    semantics."""
    allowed = {"inner", "left_outer", "full_outer"}
    if how not in allowed:
        raise ValueError(
            f"stream_stream_interval_join: how={how!r} not in {sorted(allowed)};"
            " other modes have different emission semantics — add them"
            " deliberately, with their contract documented"
        )
    l = left.withWatermark(left_ts, lateness).alias("l")
    r = right.withWatermark(right_ts, lateness).alias("r")
    lc, rc = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    return l.join(
        r,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rc >= lc)
        & (rc <= lc + F.expr(f"INTERVAL {interval}")),
        how,
    )
