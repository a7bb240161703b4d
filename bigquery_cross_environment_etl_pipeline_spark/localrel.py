"""Driver-side constant tables as JVM LocalRelations (round 11, §4).

``spark.createDataFrame(<python list>, schema)`` builds a Python-RDD
scan: the rows are pickled into `sc.parallelize` partitions and EVERY
execution of every plan that references the table runs
``defaultParallelism`` Python worker tasks just to unpickle a handful
of rows. Measured at local[32]: a 20-row pair table cost ~1.2 s of
worker CPU per noop pass, and a query whose plan references three such
tables (e.g. the IVF probe arms of ``ann_recall_nprobe_sweep``) paid it
per arm, per pass.

Routing the same rows through a pandas frame takes PySpark's Arrow
local-data path instead: the data is converted ONCE on the driver and
enters the plan as a ``LocalRelation`` — zero Python at execution time,
and Catalyst sees a real row count for size estimation (broadcast
decisions stop guessing). Values are identical: columns are built as
``object`` dtype so ``None`` stays a NULL (never collapses to NaN) and
ints never coerce to floats; the explicit schema drives the Arrow cast
exactly like the legacy path's type verifier.

Timestamp columns stay on the legacy path: naive datetimes render
through the HOST zone there but through the SESSION zone on the Arrow
path, and changing that per-host behaviour is not this helper's job.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _has_timestamp(schema) -> bool:
    """True when any field's TYPE involves a timestamp. Inspects parsed
    dataTypes, never the rendered string — a COLUMN NAMED
    'event_timestamp bigint' must not defeat the optimization."""
    if not isinstance(schema, StructType):
        try:
            from pyspark.sql.types import _parse_datatype_string

            schema = _parse_datatype_string(str(schema))
        except Exception:  # unparseable: be conservative
            return "timestamp" in str(schema).lower()
    return any(
        "timestamp" in f.dataType.simpleString().lower() for f in schema.fields
    )


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """A tiny constant DataFrame that executes as a JVM LocalRelation.

    Falls back to the stock list path for empty input, timestamp
    schemas, or any conversion surprise — the fallback is always
    semantically correct, just slower.
    """
    rows = list(rows)
    if not rows or _has_timestamp(schema):
        return spark.createDataFrame(rows, schema)
    try:
        import pandas as pd

        ncols = len(rows[0])
        pdf = pd.DataFrame(
            {
                i: pd.Series([r[i] for r in rows], dtype=object)
                for i in range(ncols)
            }
        )
        out = spark.createDataFrame(pdf, schema)
        # the Arrow path is what makes this a LocalRelation; if the
        # session has Arrow disabled Spark silently pickles the pandas
        # frame row-by-row instead, which is the same Python-RDD shape
        # this helper exists to avoid — still correct, so accept it
        return out
    except Exception:  # noqa: BLE001 — constant data, correctness first
        return spark.createDataFrame(rows, schema)


def local_store_path(path: str) -> str:
    """``path`` unchanged when it is a plain filesystem path. A URI
    (``file://``, ``gs://``, ...) is refused: the driver-managed stores
    read and write it with ``os`` calls and pyarrow on plain paths,
    which would read a URI as an empty store and write a stray
    ``file:`` tree under the working directory."""
    if urlparse(path).scheme:
        raise ValueError(f"store path {path!r} is a URI; only a plain filesystem path is supported")
    return path


def has_parquet(path: str) -> bool:
    """Whether ``path`` is a directory holding at least one parquet file:
    the existence test of the small driver-managed engine tables
    (checkpoint log, config store, rollup)."""
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


def overwrite_local(spark: SparkSession, rows, schema, path: str) -> None:
    """Rewrite the small table at ``path`` as one parquet file holding
    ``rows``. The rows are already on the driver and enter the plan as a
    LocalRelation, so they may have been read from ``path`` itself."""
    local_df(spark, rows, schema).coalesce(1).write.mode("overwrite").parquet(path)
