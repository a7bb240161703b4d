"""Checkpoint / watermark log (T1-T4, S4, S10, A3).

The reference keeps an append-only MySQL status table and derives the
next extraction window from the latest SUCCESS row
(reference core/database/billing_etl_db.py:12-61;
core/services/billing_etl.py:135-139). Here the log is an append-only
parquet table managed by the engine:

- ``save`` appends one status row (S10) — None columns stay NULL rather
  than being dropped from the INSERT (billing_etl_db.py:29); same effect.
- ``last_success_watermark`` is the argmax read (S4/A3):
  latest ``end_date_time`` where status='SUCCESS' for (org_id, project_id)
  — ``ORDER BY end_date_time DESC LIMIT 1`` in the reference
  (billing_etl_db.py:46-51), a single MAX aggregate here.
- ``latest_per_key`` generalizes A3 to all keys at once via a window
  function — one shuffle instead of one query per tenant.

The protocol's bookkeeping is committed on the DRIVER, off the Spark job
path (Dremel keeps small metadata next to the data plane, not in it):
``save`` writes its one row as its own parquet file with pyarrow — to a
hidden temp name first, then an atomic ``os.replace`` onto a unique
``part-<uuid>.parquet``. Spark and pyarrow both skip names starting
with ``.`` or ``_``, so a reader sees a row completely or not at all,
and unique names make concurrent appends from any number of threads or
processes safe without a lock. ``last_success_watermark`` reads the log
with ``pyarrow.dataset``. Neither runs a Spark job.

Files keep ``CHECKPOINT_SCHEMA`` with timestamps as INT64 microseconds
adjusted to UTC — what the engine session's Spark writer produced — so
``read()``, ``latest_per_key()`` and every Spark reader of the log are
unchanged, and logs written by the earlier Spark path (INT64 micros, or
INT96 from a vanilla session) read back identically. Naive datetimes
convert through ``TimestampType().toInternal`` / ``fromInternal``: the
same host-timezone round trip ``createDataFrame`` and ``.first()`` made.

Scale notes: the log is tiny relative to the data (one row per job run),
so reads are broadcast-size. On a cluster this table would live in a
transactional format (Delta/Iceberg); rename-committed parquet files are
the v1 stand-in (jars not in this image) and the protocol
(IN_PROGRESS -> SUCCESS/FAILED) is format-agnostic.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import TimestampType

from ..localrel import has_parquet, local_store_path
from ..schemas import CHECKPOINT_SCHEMA, STATUS_SUCCESS, VALID_STATUSES

#: CHECKPOINT_SCHEMA in arrow terms: timestamps are timestamp[us, UTC],
#: which parquet stores as INT64 TIMESTAMP(MICROS, isAdjustedToUTC=true)
_ARROW_SCHEMA = to_arrow_schema(CHECKPOINT_SCHEMA)
#: Spark's INT96 timestamps decode at µs, the unit of every Spark
#: timestamp, instead of pyarrow's ns default (which overflows past 2262)
_PARQUET_FORMAT = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)
_TS = TimestampType()


class CheckpointLog:
    """Append-only job-status log backing the incremental protocol."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = local_store_path(path)

    def read(self) -> DataFrame:
        if not has_parquet(self.path):
            return self.spark.createDataFrame([], CHECKPOINT_SCHEMA)
        return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)

    def save(
        self,
        status: str,
        org_id: int,
        project_id: str,
        end_date_time: dt.datetime | None = None,
        now: dt.datetime | None = None,
    ) -> None:
        """S10: append one status row (IN_PROGRESS before load, SUCCESS /
        FAILED after — reference billing_etl.py:173-216), committed on
        the driver by renaming a hidden temp file onto a unique name."""
        if status not in VALID_STATUSES:
            raise ValueError(f"invalid status {status!r}; expected one of {sorted(VALID_STATUSES)}")
        row = pa.Table.from_pydict(
            {
                "org_id": [int(org_id)],
                "project_id": [str(project_id)],
                "status": [status],
                "end_date_time": [_TS.toInternal(end_date_time)],
                "updated_at": [_TS.toInternal(now or dt.datetime.now())],
            },
            schema=_ARROW_SCHEMA,
        )
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4()}.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        try:
            pq.write_table(row, tmp)
            os.replace(tmp, os.path.join(self.path, name))
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def last_success_watermark(self, org_id: int, project_id: str) -> dt.datetime | None:
        """S4: latest SUCCESS end_date_time for one tenant (T1)."""
        if not has_parquet(self.path):
            return None
        found = ds.dataset(self.path, schema=_ARROW_SCHEMA, format=_PARQUET_FORMAT).to_table(
            columns=["end_date_time"],
            filter=(ds.field("org_id") == int(org_id))
            & (ds.field("project_id") == project_id)
            & (ds.field("status") == STATUS_SUCCESS),
        )
        # the dataset schema casts every file's encoding (INT96, ns, ms,
        # µs) to timestamp[us] — a cast that would drop sub-µs digits
        # raises, so nothing is silently rounded; MAX skips NULL ends
        # like the SQL MAX
        wm = pc.max(found["end_date_time"].cast(pa.int64())).as_py()
        return _TS.fromInternal(wm)

    def latest_per_key(self) -> DataFrame:
        """A3 generalized: latest SUCCESS watermark per (org_id, project_id).

        One grouped MAX — feeds the multi-tenant fan-out as a broadcast
        side rather than a per-tenant point query.
        """
        return (
            self.read()
            .filter(F.col("status") == STATUS_SUCCESS)
            .groupBy("org_id", "project_id")
            .agg(F.max("end_date_time").alias("watermark"))
        )
