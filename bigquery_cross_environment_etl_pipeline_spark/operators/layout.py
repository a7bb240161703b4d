"""Data layout: the Z-order (Morton-curve) key, compaction and bucketing.

``zorder_key`` interleaves the bits of several columns' bucket ranks
into one Morton key, the clustering key behind Delta/Iceberg
``OPTIMIZE ZORDER BY``: rows close on the key are close in EVERY
participating column at once. It is pure column expressions over the
open parquet format (no table-format dependency); bucket boundaries
come from one min/max aggregation pass (two scalars per column on the
driver — bounded, never O(rows)). ``compact`` rewrites a fragmented
dataset into fewer range-clustered files, and ``write_bucketed``
persists a pre-paid join layout.

Reference basis: the reference's only layout decision is BigQuery-side
partitioning by export day (implicit in its half-open window queries,
core/services/billing_etl.py:270-298); these operators are the
engine-side generalization for multi-predicate workloads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from ..functions.scalar import epoch_seconds
from ..sources.registry import read_parquet


def _numeric(col_name: str, df: DataFrame) -> Column:
    """Column as a double for bucketing; timestamps go through the
    NTZ-safe epoch helper."""
    dtype = df.schema[col_name].dataType
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return epoch_seconds(col_name).cast("double")
    return F.col(col_name).cast("double")


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Morton key over ``cols``: each column is ranked into 2**bits
    uniform buckets between its min and max (one bounded aggregation
    pass for the boundaries), then the rank bits are interleaved
    round-robin. Pure integer column expressions — codegen, no UDF."""
    n_buckets = 1 << bits
    bounds = df.agg(
        *[F.min(_numeric(c, df)).alias(f"_lo_{i}") for i, c in enumerate(cols)],
        *[F.max(_numeric(c, df)).alias(f"_hi_{i}") for i, c in enumerate(cols)],
    ).first()

    ranks = []
    for i, c in enumerate(cols):
        lo, hi = bounds[f"_lo_{i}"], bounds[f"_hi_{i}"]
        if lo is None or hi is None:
            # empty/all-null column: no spread to cluster on — rank 0
            # (previously raised TypeError on None - None)
            ranks.append(F.lit(0).cast("long"))
            continue
        span = (hi - lo) or 1.0
        rank = F.floor((_numeric(c, df) - F.lit(lo)) / F.lit(span) * n_buckets)
        # null cells rank 0 (floor of null is null -> coalesce)
        ranks.append(
            F.coalesce(
                F.least(F.greatest(rank, F.lit(0)), F.lit(n_buckets - 1)),
                F.lit(0),
            ).cast("long")
        )

    k = len(cols)
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for j, rank in enumerate(ranks):
            z = z + F.shiftleft(
                F.shiftright(rank, bit).bitwiseAND(F.lit(1)), bit * k + j
            )
    return z


def file_bounding_boxes(
    spark, path: str, cols: list[str]
) -> DataFrame:
    """Per-file (min, max) of each column — the footer-statistics view a
    reader's pruning sees, reconstructed from data for testing/audit."""
    df = read_parquet(spark, path)
    return df.groupBy(F.input_file_name().alias("file")).agg(
        *[
            agg
            for c in cols
            for agg in (
                F.min(_numeric(c, df)).alias(f"min_{c}"),
                F.max(_numeric(c, df)).alias(f"max_{c}"),
            )
        ]
    )


def compact(
    spark,
    path: str,
    dest_path: str,
    target_files: int,
    sort_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Small-files compaction: rewrite a fragmented dataset into
    ``target_files`` files, optionally range-clustered on ``sort_cols``
    so file-level min/max stats stay selective after the rewrite.

    Returns (files_before, files_after). The streaming/batch appenders
    in this engine (foreachBatch epochs, per-window loads) necessarily
    produce a file per trigger per partition; at 100 TB the resulting
    listing + open() overhead dominates scan setup, and periodic
    compaction — ONE range shuffle, no driver involvement — is the
    standard maintenance job. ``repartitionByRange`` keeps the sort
    clustering (vs ``coalesce``, which concatenates arbitrary inputs
    and destroys min/max selectivity).
    """
    import os

    if os.path.realpath(dest_path) == os.path.realpath(path):
        # overwrite-in-place would delete the lazily-read source before
        # the rewrite finishes; require a staging dir + rename instead.
        # realpath, not abspath: a symlinked dest must not sneak past.
        raise ValueError("compact(): dest_path must differ from path")
    df = read_parquet(spark, path)
    files_before = df.inputFiles()
    if sort_cols:
        out = df.repartitionByRange(target_files, *[F.col(c) for c in sort_cols])
        out = out.sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(target_files)
    out.write.mode("overwrite").parquet(dest_path)
    files_after = read_parquet(spark, dest_path).inputFiles()
    return len(files_before), len(files_after)


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a BUCKETED table: rows hash-distributed into
    ``n_buckets`` files per partition on ``keys`` (and sorted within
    buckets when ``sort``), registered in the session catalog.

    This is the pre-paid join/aggregation layout: two tables bucketed
    on the same keys into the same bucket count join with ZERO
    exchanges — the bucket id IS the partitioning, so a sort-merge
    join reads co-located buckets directly (proved by
    tests/test_layout.py::test_bucketed_join_plans_zero_exchange).
    At 100 TB this converts every repeated fact-fact join or
    aggregation on the bucket keys from a full shuffle into a local
    merge — the open-format equivalent of the co-located join the
    reference's warehouse (BigQuery) performs on clustered tables
    (core/services/billing_etl.py routes all joins to the warehouse;
    this is the engine-side analog).

    Bucket pruning: an equality predicate on the first bucket key
    scans 1/n_buckets of the files. Pick ``n_buckets`` so one bucket
    of the FACT table fits an executor's memory at target scale
    (#buckets grows with data; the bucket function is stable, so
    ``mode="append"`` ingest jobs keep co-location).
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(
        n_buckets, *keys
    )
    if sort:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table)
