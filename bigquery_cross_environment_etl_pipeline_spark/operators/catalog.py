"""Catalog DDL + multi-tenant provisioning (D1-D7).

The reference provisions a per-org BigQuery dataset + nested-schema table,
writes the generated names back into tenant config, marks a stepper step
complete, and rolls everything back on failure
(reference core/utility/dataset_utils.py:110-227; create/verify retry loop
:12-96; nested table DDL :230-341; drop-cascade rollback
core/bigquery/client.py:48-58).

Spark mapping: databases/tables live in the session catalog
(``spark.sql("CREATE DATABASE ...")`` / ``spark.catalog``). Catalog ops
are synchronous, so the reference's create-then-verify retry loop (D2)
collapses to a plain existence assertion; the rollback protocol is kept.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import SparkSession

from ..functions.scalar import quote_ident
from ..schemas import BILLING_EXPORT_SCHEMA
from .config import ConfigStore, StepStatusStore

PROVISIONING_STEP_ID = 3  # reference dataset_utils.py:172-174


def org_dataset_name(org_id: int) -> str:
    """F7 name mangling (reference dataset_utils.py:127)."""
    return f"org_{org_id}_standard_export"


def org_table_name(org_id: int) -> str:
    """F7 name mangling (reference dataset_utils.py:141)."""
    return f"org_{org_id}_standard_export_table"


def create_database(spark: SparkSession, name: str) -> None:
    """D1: CREATE DATABASE IF NOT EXISTS (BigQuery dataset equivalent,
    reference core/bigquery/client.py:42-46)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {quote_ident(name)}")


def database_exists(spark: SparkSession, name: str) -> bool:
    """D6 (reference billing_etl.py:228)."""
    return spark.catalog.databaseExists(name)


def table_exists(spark: SparkSession, database: str, table: str) -> bool:
    """D6 (reference dataset_utils.py:236-247)."""
    return spark.catalog.tableExists(f"{quote_ident(database)}.{quote_ident(table)}")


def create_billing_table(spark: SparkSession, database: str, table: str) -> None:
    """D3: CREATE TABLE with the explicit 21-field nested schema
    (reference dataset_utils.py:250-338), exists-check first."""
    if table_exists(spark, database, table):
        return
    ddl = BILLING_EXPORT_SCHEMA.toDDL()
    spark.sql(
        f"CREATE TABLE {quote_ident(database)}.{quote_ident(table)} ({ddl}) USING parquet"
    )


def drop_database_cascade(spark: SparkSession, name: str) -> None:
    """D4: DROP DATASET delete_contents=True, not_found_ok=True
    (reference core/bigquery/client.py:48-58)."""
    spark.sql(f"DROP DATABASE IF EXISTS {quote_ident(name)} CASCADE")


@dataclasses.dataclass
class ProvisionResult:
    org_id: int
    dataset: str
    table: str
    created: bool
    message: str


def provision(
    spark: SparkSession,
    org_id: int,
    config: ConfigStore,
    steps: StepStatusStore | None = None,
) -> ProvisionResult:
    """D7: end-to-end provisioning workflow with rollback
    (reference dataset_utils.py:110-227).

    create dataset -> create nested table -> write names into config
    (S11) -> mark stepper step 3 complete (S12); on any failure, drop
    everything created by THIS call (rollback at dataset_utils.py:199-227).
    """
    cfg_row = config.lookup(org_id)
    if cfg_row is None:
        return ProvisionResult(org_id, "", "", False, f"no config row for org_id={org_id}")

    dataset = org_dataset_name(org_id)
    table = org_table_name(org_id)
    created_dataset = not database_exists(spark, dataset)
    try:
        create_database(spark, dataset)
        if not database_exists(spark, dataset):  # D2's verify, sans retry
            raise RuntimeError(f"database {dataset} not visible after create")
        create_billing_table(spark, dataset, table)
        n = config.update_values(
            org_id,
            cfg_row["projectid"],
            {"pulsebillingdataset": dataset, "pulsetableid": table},
        )
        if n == 0:
            raise RuntimeError(f"config update matched 0 rows for org_id={org_id}")
        if steps is not None:
            steps.set_step_completed(PROVISIONING_STEP_ID, org_id, True)
        return ProvisionResult(org_id, dataset, table, True, "provisioned")
    except Exception as exc:
        if created_dataset:
            drop_database_cascade(spark, dataset)
        return ProvisionResult(org_id, dataset, table, False, f"rolled back: {exc}")
