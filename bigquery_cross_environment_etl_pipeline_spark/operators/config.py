"""Tenant configuration relation (S3/S11/S12, J1).

The reference keeps per-org settings in MySQL and point-queries them per
job (reference core/database/billing_etl_db.py:63-89), then point-UPDATEs
them during provisioning (billing_etl_db.py:122-162, :91-120). Here the
config is a small engine table:

- ``rows_by_key`` — the store read on the driver with pyarrow, as
  ``key -> [row, ...]``: the config is kilobytes, so routing a trigger
  and a point lookup read it without a Spark job (the checkpoint log's
  discipline, operators/checkpoint.py).
- ``lookup`` — S3 point lookup on that driver read.
- ``attach_config`` — J1: the multi-tenant fan-out as a real join. The
  config side is explicitly broadcast: at 100 TB of job messages the
  config relation is still KB-sized, so the join must never shuffle the
  big side.
- ``update_values`` / ``set_step_completed`` — S11/S12 as key-matched
  column rewrites (read -> conditional withColumn -> overwrite), the
  documented non-atomic upsert divergence (SURVEY.md §7.4.6); a cluster
  deployment would use Delta MERGE.
"""

from __future__ import annotations

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..localrel import has_parquet, local_store_path, overwrite_local
from ..schemas import CONFIG_SCHEMA, STEP_STATUS_SCHEMA

CONFIG_COLUMNS = (
    "projectid",
    "billingdataset",
    "tableid",
    "pulsebillingdataset",
    "customerserviceaccountid",
)

#: Columns a provisioning update may write (whitelist — reference
#: billing_etl_db.py:126-129).
UPDATABLE_COLUMNS = frozenset({"pulsebillingdataset", "pulsetableid"})


class ConfigStore:
    """Small-dimension store with overwrite-by-key upserts."""

    def __init__(self, spark: SparkSession, path: str, schema=CONFIG_SCHEMA, key_cols=("org_id",)):
        self.spark = spark
        self.path = local_store_path(path)
        self.schema = schema
        self.key_cols = tuple(key_cols)

    def read(self) -> DataFrame:
        if not has_parquet(self.path):
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(self.path)

    def write(self, df: DataFrame) -> None:
        # Config-scale data: single file, atomic-enough rename by Spark's
        # commit protocol. Stage to memory first because overwrite reads
        # from the same path.
        rows = df.collect()
        # EXPLICIT refusal on NULL keys (round 7): parquet reads treat
        # schema nullability as a hint, so a foreign writer can plant a
        # NULL-key row the read path tolerates — but a rewrite (every
        # point UPDATE rewrites this small table) must never propagate
        # it forward silently. Refuse loudly BEFORE touching storage;
        # recovery is an operator repair of the corrupt row, mirroring
        # the stale-index refusal discipline. Raised pre-write, so the
        # on-disk table is intact after the refusal.
        bad = [r for r in rows if any(r[k] is None for k in self.key_cols)]
        if bad:
            raise ValueError(
                f"corrupt {type(self).__name__}: {len(bad)} row(s) with a "
                f"NULL key column ({', '.join(self.key_cols)}); refusing to "
                "rewrite — repair the store instead"
            )
        overwrite_local(self.spark, rows, self.schema, self.path)

    def rows_by_key(self) -> dict:
        """The whole store on the driver as ``key -> [Row, ...]`` in file
        order, read with ``pyarrow.dataset`` (no Spark job). The key is
        the key column's value, or a tuple of them for a compound key.

        Parquet nullability is advisory, so a foreign writer's NULL key
        reads back as ``None``; such rows are dropped here, as an
        equi-join on the key drops them."""
        if not has_parquet(self.path):
            return {}
        table = ds.dataset(self.path, schema=to_arrow_schema(self.schema), format="parquet")
        out: dict = {}
        for rec in table.to_table().to_pylist():
            key = tuple(rec[k] for k in self.key_cols)
            if None not in key:
                out.setdefault(key if len(key) > 1 else key[0], []).append(Row(**rec))
        return out

    # -- S3 ------------------------------------------------------------
    def lookup(self, org_id: int) -> Row | None:
        """Point lookup of the 5 config columns for one org
        (reference billing_etl_db.py:64-75); the first matching row."""
        rows = self.rows_by_key().get(int(org_id))
        return Row(**{c: rows[0][c] for c in CONFIG_COLUMNS}) if rows else None

    # -- S11 -----------------------------------------------------------
    def update_values(self, org_id: int, projectid: str, updated_values: dict[str, str]) -> int:
        """Whitelisted point UPDATE (reference billing_etl_db.py:122-162).

        Returns the number of matched rows (0 means nothing updated, the
        reference's rowcount-checked path).
        """
        bad = set(updated_values) - UPDATABLE_COLUMNS
        if bad:
            raise ValueError(f"non-updatable columns: {sorted(bad)}")
        df = self.read()
        match = (F.col("org_id") == int(org_id)) & (F.col("projectid") == projectid)
        n = df.filter(match).count()
        if n == 0:
            return 0
        for col, val in updated_values.items():
            df = df.withColumn(col, F.when(match, F.lit(val)).otherwise(F.col(col)))
        self.write(df)
        return n


class StepStatusStore(ConfigStore):
    """S12: ``user_stepper_form_step_status`` equivalent
    (reference billing_etl_db.py:91-120)."""

    def __init__(self, spark: SparkSession, path: str):
        super().__init__(spark, path, schema=STEP_STATUS_SCHEMA, key_cols=("stepid", "org_id"))

    def set_step_completed(self, stepid: int, org_id: int, step_completed: bool) -> int:
        df = self.read()
        match = (F.col("stepid") == int(stepid)) & (F.col("org_id") == int(org_id))
        n = df.filter(match).count()
        if n == 0:
            return 0
        df = df.withColumn(
            "step_completed",
            F.when(match, F.lit(bool(step_completed))).otherwise(F.col("step_completed")),
        )
        self.write(df)
        return n


def attach_config(messages: DataFrame, config: DataFrame, how: str = "inner") -> DataFrame:
    """J1: job-message ⋈ config on org_id, config side broadcast.

    The reference does this procedurally per message
    (billing_etl.py:65-66); as a join the whole tenant fan-out is one
    stage with no shuffle of the message stream.
    """
    return messages.join(F.broadcast(config), "org_id", how)
