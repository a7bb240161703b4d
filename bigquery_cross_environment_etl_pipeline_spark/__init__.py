"""PySpark-native analytics/ETL engine.

A from-scratch re-expression of the query and data-processing
capabilities of chirag876/BigQuery-Cross-Environment-ETL-Pipeline
(incremental time-windowed extraction, checkpoint/watermark management,
config-driven multi-tenant routing, nested-schema handling, batched
append-loading with partial-failure accounting, catalog DDL), built
Spark-first on the DataFrame/SQL/Catalyst stack and extended with
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal column plumbing).

Layout
------
- ``session``    : SparkSession factory tuned for the target cluster
- ``schemas``    : explicit StructType schemas (billing export, messages,
                   checkpoint, config)
- ``sources``    : table registry over parquet, pub/sub message decoding
- ``operators``  : extract / load / checkpoint / config / catalog /
                   dedup / similarity / text / multimodal
- ``functions``  : scalar helpers (name mangling, iso formatting, ...)
- ``plans``      : named analytic query plans (rollups, joins, windows)
- ``streaming``  : Structured Streaming variant of the incremental path
- ``pipeline``   : the end-to-end ETL job (extract -> transform -> load
                   -> checkpoint) with retry/commit protocol
"""

__version__ = "0.1.0"

import os as _os
import sys as _sys

from . import workerenv as _workerenv

#: the checkout this package runs from: the default home of the
#: persisted indexes (``.indexes``) and the SQL warehouse
#: (``.spark-warehouse``)
CHECKOUT_DIR = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))

# Applied at import — but ONLY in Spark Python worker/daemon processes
# (ADVICE r11: an unconditional package-import side effect would also
# monkeypatch the DRIVER, tests, and any embedding host, where a zip
# replaced with identical (mtime_ns, size) would never be re-read).
# Worker detection: a pyspark worker imports ``pyspark.worker`` before
# it unpickles any UDF, and the preload daemon (daemonprefork) imports
# it explicitly pre-fork; neither module is loaded in a normal driver
# or test process. A worker started without the daemon (``python -m
# pyspark.worker``: ``spark.python.use.daemon=false``, or Windows) is
# registered only as ``__main__``, so the spec name of ``__main__`` is
# checked too. daemonprefork also calls the installer directly, so
# the fix never depends on this import-order heuristic on the path
# that matters (see workerenv.py and OPTIMIZATION_r11.md for the
# measured ~0.17 s/task cost it kills).
_WORKER_MODULES = ("pyspark.worker", "pyspark.daemon")
_main_spec = getattr(_sys.modules.get("__main__"), "__spec__", None)
if (
    any(m in _sys.modules for m in _WORKER_MODULES)
    or getattr(_main_spec, "name", None) in _WORKER_MODULES
):
    _workerenv.ensure_fast_zip_invalidation()
