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

A relation's schema comes from Spark's own inference, run once per
process and data version: every engine read of a parquet path without
an explicit schema goes through ``read_parquet``. Its first read of a
path infers the schema (a ``mergeSchemasInParallel`` job while the
query is built); later reads of the same files pass that ``StructType``
back through ``spark.read.schema(...)`` and build the relation with no
job, the way a catalog supplies a table's schema. The key is the path,
the recursive ``(relative path, size, mtime_ns)`` listing that
``dataset_fingerprint`` hashes (a driver-side walk, the same listing
Spark's file index makes) and the SQLConfs that change how parquet
types map to Spark types, so a rewritten table or store, or a changed
conversion setting, is inferred again. Nothing here spells a schema out.
"""

from __future__ import annotations

import hashlib
import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

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

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: the SQLConfs whose values change the schema Spark infers from parquet
#: files: the parquet -> Spark type conversions, footer merging and the
#: typing of partition directory values
_SCHEMA_CONFS = (
    _NANOS_AS_LONG,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

#: inferred schemas kept per process, least recently used dropped first;
#: a store rewritten on every build (a temp dir) adds one entry per build
_SCHEMA_CACHE_SIZE = 256
_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def _set_conf(spark: SparkSession, key: str, value: str) -> None:
    if spark.conf.get(key) != value:
        spark.conf.set(key, value)


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """``read_parquet`` plus the schema it read with."""
    stats = _file_stats(path)
    # nothing local to fingerprint (a URI, a missing path): no key can
    # tell a rewrite apart, so Spark infers every time (or raises)
    key = stats and (path, _fingerprint(stats), tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    if key:
        with _schemas_lock:
            schema = _schemas.get(key)
            if schema is not None:
                _schemas.move_to_end(key)
        if schema is not None:
            return spark.read.schema(schema).parquet(path), schema
    df = spark.read.parquet(path)
    schema = df.schema
    if key:
        with _schemas_lock:
            _schemas[key] = schema
            if len(_schemas) > _SCHEMA_CACHE_SIZE:
                _schemas.popitem(last=False)
    return df, schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema-inference job once
    this process has inferred the schema of the same files under the
    same conversion settings (see the module docstring)."""
    return _read_parquet(spark, path)[0]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one registered table."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Results must be host-timezone-independent: parquet timestamps are
    # instants, and any date_format/strftime rendering happens in session
    # time. Pin UTC so an engine session created without our factory
    # (e.g. the correctness driver's) still reproduces the oracle.
    _set_conf(spark, "spark.sql.session.timeZone", "UTC")
    # set for every table, not only the nanos ones: it is part of the
    # schema-cache key, so one value keeps each table's entry valid
    # whichever table a session happens to load first
    _set_conf(spark, _NANOS_AS_LONG, "true")
    df, schema = _read_parquet(spark, table_path(sf_dir, name))
    for c in _NANOS_TS_COLUMNS.get(name, ()):
        if c in schema.names and isinstance(schema[c].dataType, LongType):
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


def _file_stats(path: str) -> list[tuple[str, int, int]]:
    """``(relative path, size, mtime_ns)`` of every regular file under
    ``path``, sorted; a file path lists itself by its base name."""
    # mtime_ns: size alone misses a regenerated dataset whose files
    # happen to keep identical byte counts
    if os.path.isfile(path):
        st = os.stat(path)
        return [(os.path.basename(path), st.st_size, st.st_mtime_ns)]
    stats = []
    for d, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(d, f)
            try:
                st = os.stat(fp)
            except FileNotFoundError:  # a writer's temp file, gone mid-walk
                continue
            if stat.S_ISREG(st.st_mode):
                stats.append((os.path.relpath(fp, path), st.st_size, st.st_mtime_ns))
    return sorted(stats)


def _fingerprint(stats: list[tuple[str, int, int]]) -> str:
    return hashlib.md5(repr(stats).encode()).hexdigest()[:10]


def dataset_fingerprint(sf_dir: str, table: str) -> str:
    """Cheap content fingerprint of a source table (file names, sizes
    and mtimes of every file under it, partition directories included;
    no Spark job) — the schema cache and the persisted-index cache keys
    carry it, so a REGENERATED dataset at the same path (or a different
    root whose leaf dir shares the name) can never serve a stale schema
    or index."""
    return _fingerprint(_file_stats(table_path(sf_dir, table)))


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
