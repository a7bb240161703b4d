"""Append-loading with partial-failure accounting (S8/S9, A4/A5, P6).

The reference streams rows into the destination in 1000-row JSON batches
and derives a verdict from per-batch success counts — SUCCESS /
PARTIAL_SUCCESS(206) / FAILED (reference core/services/billing_etl.py:306-339),
retrying individual batches on rate limits (billing_etl.py:342-362).

Spark-first re-expression:
- The transport batching disappears: ``df.write.mode("append")`` writes
  all partitions in parallel under a commit protocol, and task-level
  retries (``spark.task.maxFailures``) replace the hand-rolled backoff.
- What REMAINS meaningful at the semantic level is row-level accounting:
  rows that fail validation are quarantined instead of aborting the job,
  reproducing the reference's partial-success behavior without its
  duplicate-on-retry flaw (SURVEY.md §7.4.1). One pass computes
  good/bad counts — and, given ``ts_col``, the batch's ``max(ts)`` the
  next watermark derives from (T2) — via ``observe`` metrics, with no
  second scan.
- Idempotency: each load stamps a ``batch_id``; re-running a window with
  the same batch_id overwrites its own prior output (dedup-on-read is
  then unnecessary). This is the deliberate divergence from the
  reference's at-least-once append.
"""

from __future__ import annotations

import dataclasses
import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Observation

from ..schemas import STATUS_FAILED, STATUS_PARTIAL, STATUS_SUCCESS


@dataclasses.dataclass
class LoadResult:
    status: str
    code: int
    total_rows: int
    loaded_rows: int
    rejected_rows: int
    #: max(ts_col) over every row the load saw, rejected ones included
    #: (None for an empty batch or when no ``ts_col`` was given)
    max_ts: dt.datetime | None = None


def load_append(
    df: DataFrame,
    dest_path: str,
    batch_id: str,
    validate: Column | None = None,
    reject_path: str | None = None,
    time_partition_col: str | None = None,
    ts_col: str | None = None,
) -> LoadResult:
    """S8: append ``df`` to ``dest_path``, quarantining invalid rows.

    ``validate`` is a boolean Column (the row-level success predicate);
    rows failing it go to ``reject_path`` when given, and the verdict
    follows the reference's mapping (billing_etl.py:329-334):
    all good -> SUCCESS(200); some good -> PARTIAL_SUCCESS(206);
    none good -> FAILED(500).

    ``time_partition_col``: a timestamp column to ALSO partition the
    destination by date — the layout that lets the next incremental
    window scan prune whole directories (the reference created its
    destination unpartitioned, dataset_utils.py:334-338; SURVEY.md §4
    flags time partitioning as the added optimization).

    ``ts_col``: a timestamp column whose MAX over all rows (valid or
    not) is observed in the same pass and returned as ``max_ts`` — the
    incremental job's watermark input, at no extra scan.
    """
    stamped = df.withColumn("_batch_id", F.lit(batch_id))
    partition_cols = ["_batch_id"]
    if time_partition_col:
        stamped = stamped.withColumn("_dt", F.to_date(F.col(time_partition_col)))
        partition_cols.append("_dt")
    ok = validate if validate is not None else F.lit(True)
    max_ts = [F.max(ts_col).alias("max_ts")] if ts_col is not None else []
    obs = Observation("load_accounting")
    observed = stamped.observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(ok, 1).otherwise(0)).alias("good"),
        *max_ts,
    )
    good_rows = observed.filter(ok)
    # Idempotent re-run: replace only this batch's partitions.
    (
        good_rows.write.mode("overwrite")
        .partitionBy(*partition_cols)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(dest_path)
    )
    metrics = obs.get
    total = int(metrics["total"] or 0)
    good = int(metrics["good"] or 0)
    bad = total - good
    if bad and reject_path:
        stamped.filter(~ok).write.mode("append").parquet(reject_path)
    if total == 0 or good == total:
        status, code = STATUS_SUCCESS, 200
    elif good > 0:
        status, code = STATUS_PARTIAL, 206
    else:
        status, code = STATUS_FAILED, 500
    return LoadResult(
        status=status, code=code, total_rows=total, loaded_rows=good, rejected_rows=bad,
        max_ts=metrics.get("max_ts"),
    )


def json_boundary(df: DataFrame) -> DataFrame:
    """P6: render timestamp/date columns as ISO-8601 strings — applied
    only at a JSON sink edge (reference serialize_row, billing_etl.py:35-40),
    never inside the engine."""
    out = df
    for field in df.schema.fields:
        t = field.dataType.typeName()
        if t in ("timestamp", "date"):
            out = out.withColumn(
                field.name, F.date_format(field.name, "yyyy-MM-dd'T'HH:mm:ss")
            )
    return out


def write_sorted_partitions(
    df: DataFrame,
    dest_path: str,
    sort_cols: list[str],
    max_records_per_file: int | None = None,
) -> None:
    """Write with rows SORTED WITHIN each output file: gives parquet
    row-group min/max statistics that are tight and disjoint on the
    sort key, so later range predicates (the incremental window scan)
    skip whole row groups instead of scanning them — the layout behind
    SCALE.md's "sorted row-groups prune ~11/12 of files" claim.
    ``sortWithinPartitions`` is a per-partition local sort: NO shuffle,
    unlike ``orderBy`` (for globally disjoint file ranges, repartition
    by range on the sort key first — one shuffle, paid once at write
    time). ``max_records_per_file`` caps file size for downstream
    parallelism without a repartition."""
    # INT96 (the default parquet timestamp encoding) carries NO
    # row-group statistics — the entire point of this writer; force the
    # stats-bearing INT64 micros encoding even on a vanilla session,
    # restoring the previous value afterwards so the session-wide conf
    # doesn't leak into whatever runs next.
    spark = df.sparkSession
    conf_key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "TIMESTAMP_MICROS")
    try:
        writer = df.sortWithinPartitions(*sort_cols).write.mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        writer.parquet(dest_path)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
