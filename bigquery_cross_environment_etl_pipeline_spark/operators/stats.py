"""Persisted per-dataset corpus statistics (round-5, VERDICT item 6).

Queries that need a scalar corpus statistic at PLAN-CONSTRUCTION time
(e.g. ``hierarchy_subtree_rollup`` sizes its ancestor-doubling depth
from ``max(user_id)``) previously ran an eager one-column aggregate
per invocation. At 100 TB that is a full-column scan before the
measured query even starts — corpus stats belong in a tiny persisted
stats table computed ONCE per dataset version, exactly like the
persisted ANN/signature indexes.

``table_stats`` returns ``{"count": n, "min": {col: v}, "max":
{col: v}}`` for the requested columns, served from a JSON sidecar
under ``$SPARK_GRAFT_INDEX_DIR`` keyed by (stats version, table,
content fingerprint) — the same staleness discipline as the index
caches (``sources/registry.dataset_fingerprint`` carries the relative paths,
sizes, and mtime_ns, so a regenerated dataset recomputes instead of
serving stale numbers). A cache miss costs one min/max/count
aggregate — column-pruned to the requested columns, so the scan reads
parquet statistics-backed pages only; every later call is a file
read, no Spark job.

Scale note: on a cluster this sidecar would live next to the table as
a stats partition (or come from the catalog's table statistics); the
JSON file is the single-node stand-in with the same contract.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.registry import index_cache_path, load_table

#: Bump on any semantic change to what/how stats are computed so old
#: sidecars can never serve new-semantics callers.
STATS_VERSION = 1


def _stats_path(sf_dir: str, table: str) -> str:
    return index_cache_path(
        sf_dir, table, "stats_v{v}_{tag}_{table}_{fp}.json", v=STATS_VERSION
    )


def table_stats(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    columns: tuple[str, ...] | list[str] = (),
) -> dict:
    """Row count plus min/max for ``columns``, persisted per dataset
    version. Missing columns are computed and MERGED into the sidecar,
    so different callers share one file per table.

    Columns must be JSON-representable scalars (long/double/string/
    boolean Spark types); timestamp or DECIMAL stats would not
    round-trip through JSON losslessly and are refused at SCHEMA time
    — before any scan is paid — rather than silently retyped."""
    from pyspark.sql import types as T

    path = _stats_path(sf_dir, table)
    default: dict = {"count": None, "min": {}, "max": {}}
    stats = default
    if os.path.isfile(path):
        try:
            with open(path) as f:
                loaded = json.load(f)
            if isinstance(loaded, dict):
                stats = loaded
        except (ValueError, OSError):
            pass  # corrupt/unreadable sidecar: recompute below
    missing = [c for c in columns if c not in stats.get("max", {})]
    if stats.get("count") is None or missing:
        df = load_table(spark, sf_dir, table)
        json_safe = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
        )
        by_name = {f.name: f.dataType for f in df.schema.fields}
        for c in missing:
            if not isinstance(by_name.get(c), json_safe):
                raise TypeError(
                    f"column {c!r} ({by_name.get(c)}): stats would not "
                    "round-trip through the JSON sidecar losslessly"
                )
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in missing:
            aggs.append(F.min(c).alias(f"_min_{c}"))
            aggs.append(F.max(c).alias(f"_max_{c}"))
        row = df.agg(*aggs).first()
        stats["count"] = row["_n"]
        stats.setdefault("min", {})
        stats.setdefault("max", {})
        for c in missing:
            stats["min"][c] = row[f"_min_{c}"]
            stats["max"][c] = row[f"_max_{c}"]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        # atomic publish: a concurrent reader sees the old sidecar or
        # the new one, never a torn write; the tmp file is removed on
        # any failure between creation and rename
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(stats, f)
            os.replace(tmp, path)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
    return stats
