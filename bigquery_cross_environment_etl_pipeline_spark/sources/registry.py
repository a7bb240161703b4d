"""Table registry over the driver-provided parquet test data.

The reference addresses tables as ``project.dataset.table`` strings and
pushes SQL text at them (reference: core/utility/dataset_utils.py:344-348,
core/services/billing_etl.py:115-119). Here a "table" is a parquet path
bound to a name; ``register_all`` exposes them as temp views so both the
DataFrame API and ``spark.sql`` reach the same relations.

Scale notes: ``spark.read.parquet`` is the vectorized columnar reader —
predicate pushdown + column pruning reach the row-group level for free,
and a 100 TB table is just more files behind the same call. No driver-side
pagination (the reference's LIMIT/OFFSET loop at billing_etl.py:276-283
is replaced by the partitioned scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import CHECKOUT_DIR

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: tables whose timestamp column is physically TIMESTAMP(NANOS) — Spark's
#: parquet reader rejects nanos by default; we read them as raw int64 and
#: truncate to microseconds (the same truncation DuckDB applies).
_NANOS_TS_COLUMNS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one registered table."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Results must be host-timezone-independent: parquet timestamps are
    # instants, and any date_format/strftime rendering happens in session
    # time. Pin UTC so an engine session created without our factory
    # (e.g. the correctness driver's) still reproduces the oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ns_cols = _NANOS_TS_COLUMNS.get(name, ())
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    for c in ns_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view; returns name -> DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def dataset_fingerprint(sf_dir: str, table: str) -> str:
    """Cheap content fingerprint of a source table (file names + sizes,
    no Spark job) — persisted-index cache keys include it so a
    REGENERATED dataset at the same path (or a different root whose
    leaf dir shares the name) can never serve a stale index."""
    import hashlib

    p = os.path.join(sf_dir, f"{table}.parquet")
    # (name, size, mtime_ns): size alone misses a regenerated dataset
    # whose files happen to keep identical byte counts
    stats: list[tuple[str, int, int]] = []
    if os.path.isdir(p):
        for f in sorted(os.listdir(p)):
            fp = os.path.join(p, f)
            if os.path.isfile(fp):
                st = os.stat(fp)
                stats.append((f, st.st_size, st.st_mtime_ns))
    elif os.path.isfile(p):
        st = os.stat(p)
        stats.append((os.path.basename(p), st.st_size, st.st_mtime_ns))
    return hashlib.md5(repr(stats).encode()).hexdigest()[:10]


#: where persisted indexes and sidecars live unless
#: ``$SPARK_GRAFT_INDEX_DIR`` says otherwise: ``.indexes`` at the root of
#: the checkout this package runs from
_DEFAULT_INDEX_DIR = os.path.join(CHECKOUT_DIR, ".indexes")


def index_cache_path(sf_dir: str, table: str, name: str, **fields) -> str:
    """Path of a persisted index or sidecar built from ``table`` of
    ``sf_dir``. ``name`` is formatted with ``tag`` (the sf dir's leaf
    name), ``table``, ``fp`` (``dataset_fingerprint``) and ``fields``
    (the build version, index parameters), so a regenerated dataset or
    a changed build algorithm gets a new path instead of a stale
    cache."""
    base = os.environ.get("SPARK_GRAFT_INDEX_DIR", _DEFAULT_INDEX_DIR)
    tag = os.path.basename(os.path.normpath(sf_dir))
    fp = dataset_fingerprint(sf_dir, table)
    return f"{base}/" + name.format(tag=tag, table=table, fp=fp, **fields)
