"""The one Spark-vs-DuckDB oracle comparator.

Tier-1 parity (tests/test_oracle_parity.py), the catalog replay CLI
(tools/arrow_replay.py) and the edge replay (tools/edge_fixture.py)
all compare through this module, so the DuckDB session policy and the
canonical form cannot drift between them.

**Canonical form.** Spark's side comes from ``df.toArrow()``, the
oracle's from ``fetch_arrow_table()``. Columns are sorted by name,
each cell is ``repr``'d from ``to_pylist()``, and rows are sorted. The
form keeps every distinction a driver hashing Arrow results can see:
NULL vs NaN (``None`` vs ``nan``), int vs float (``1`` vs ``1.0``),
int vs Decimal (a DuckDB HUGEINT arrives as ``decimal128``), each
value, the column names and the row count. (A ``fetchall()`` read
turns HUGEINT into a plain int; a pandas read turns NULL in a double
column into NaN. Each hid a class of driver failures.)

**Bounded DuckDB sessions.** DuckDB's default memory budget is 80% of
detected RAM, which ignores the Spark JVM sharing the box: over a 200+
query replay the heavy canary oracles (recursive CTEs, all-pairs truth
arms) then die with a hard malloc failure instead of spilling, and one
such OOM once cascaded into 23 consecutive one-sided 'errors'.
``BoundedOracle`` therefore:

- caps memory_limit at min(24 GB, half of detected RAM) — bounded DOWN
  on small hosts too (a hardcoded 24 GB would RAISE the budget above
  the default on a 16 GB box, inverting the intent);
- spills into a private temp directory, removed on close();
- ``run(fn)`` retries ONCE on a typed/bad_alloc OOM with a fresh
  connection, and on ANY failure drops the connection so no later
  query runs against a closed or poisoned session (a missing
  connection is rebuilt on the next call).

**Session.** ``bare_session()`` is the driver-shaped session the tools
replay on: ``SparkSession.builder.master("local[N]")`` and nothing
else — no time-zone pin, so a ``TZ=America/New_York`` run sees the
host-TZ drift it is meant to catch.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import TYPE_CHECKING, Callable, Sequence, TypeVar

import duckdb

if TYPE_CHECKING:
    import pyarrow as pa
    from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def _memory_limit() -> str:
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        total = 64 << 30
    gb = max(1, min(24, (total // 2) >> 30))
    return f"{gb}GB"


def is_oom(ex: BaseException) -> bool:
    if isinstance(ex, duckdb.OutOfMemoryException):
        return True
    s = str(ex).lower()
    # ArrowMemoryError / std::bad_alloc surface as generic exceptions
    return (
        "out of memory" in s
        or "bad_alloc" in s
        or "failed to allocate" in s
        or "malloc" in s
    )


class BoundedOracle:
    """A DuckDB session over ``{data_dir}/{table}.parquet`` views with
    the bounded-memory policy above (no views when ``tables`` is
    empty). Use ``run(fn)`` for every query; call ``close()`` (or use
    as a context manager) to drop the spill directory."""

    def __init__(self, data_dir: str | None = None, tables: Sequence[str] = ()):
        self.data_dir = data_dir
        self.tables = list(tables)
        self.spill = tempfile.mkdtemp(prefix="duck_spill_")
        self._con: duckdb.DuckDBPyConnection | None = None

    def _connect(self) -> duckdb.DuckDBPyConnection:
        c = duckdb.connect(
            config={"memory_limit": _memory_limit(), "temp_directory": self.spill}
        )
        for t in self.tables:
            c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        return c

    def _drop_con(self) -> None:
        if self._con is not None:
            try:
                self._con.close()
            except Exception:  # noqa: BLE001 — already broken, drop it
                pass
            self._con = None

    def run(self, fn: Callable[[duckdb.DuckDBPyConnection], T]) -> T:
        """Execute ``fn(con)``; one fresh-connection retry on OOM. Any
        failure (including a failed reconnect) leaves the session
        connection-less, so the NEXT call reconnects — a single bad
        query can never poison the rest of a sweep."""
        last: BaseException | None = None
        for attempt in (0, 1):
            try:
                if self._con is None:
                    self._con = self._connect()
                return fn(self._con)
            except Exception as ex:  # noqa: BLE001 — classified below
                self._drop_con()
                last = ex
                if not is_oom(ex):
                    raise
        raise last  # second OOM: report it, connection already dropped

    def close(self) -> None:
        self._drop_con()
        shutil.rmtree(self.spill, ignore_errors=True)

    def __enter__(self) -> "BoundedOracle":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


Canon = tuple[list[str], list[tuple[str, ...]]]


def _canon(tbl: "pa.Table") -> Canon:
    """(sorted column names, sorted rows of repr'd cells)."""
    cols = sorted(tbl.column_names)
    rows = zip(*(tbl.column(c).to_pylist() for c in cols))
    return cols, sorted(tuple(repr(v) for v in row) for row in rows)


def _first_difference(spark: Canon, oracle: Canon) -> str | None:
    """None when the two canonical forms are equal, else what differs
    first: the column names, a row, or the row count."""
    (sc, sr), (oc, orr) = spark, oracle
    if sc != oc:
        return f"columns spark={sc} oracle={oc}"
    for a, b in zip(sr, orr):
        if a != b:
            return f"rows {len(sr)}/{len(orr)}, first diff spark={a} oracle={b}"
    if len(sr) != len(orr):
        return f"rows spark={len(sr)} oracle={len(orr)}"
    return None


MATCH, DIFF, SPARK_ERROR, ORACLE_ERROR, BOTH_ERROR = (
    "match", "diff", "spark_error", "oracle_error", "both_error",
)


@dataclass(frozen=True)
class Outcome:
    """One replay's verdict: ``kind`` is one of MATCH, DIFF,
    SPARK_ERROR, ORACLE_ERROR, BOTH_ERROR; ``detail`` says what
    differed or what each engine raised."""

    kind: str
    detail: str = ""

    @property
    def ok(self) -> bool:
        return self.kind == MATCH

    def __str__(self) -> str:
        return f"{self.kind}: {self.detail}" if self.detail else self.kind


def _err(ex: BaseException) -> str:
    return f"{type(ex).__name__}: {str(ex)[:300]}"


def replay(build: Callable[[], "DataFrame"], sql: str, ora: BoundedOracle) -> Outcome:
    """Run one Spark builder and its oracle and compare them in the
    canonical form. Both sides always run, so an input both engines
    refuse reads BOTH_ERROR, never a one-sided error."""
    s = o = s_err = o_err = None
    try:
        s = _canon(build().toArrow())
    except Exception as ex:  # noqa: BLE001 — reported as an outcome
        s_err = _err(ex)
    try:
        o = ora.run(lambda c: _canon(c.sql(sql).fetch_arrow_table()))
    except Exception as ex:  # noqa: BLE001 — reported as an outcome
        o_err = _err(ex)
    if s_err and o_err:
        return Outcome(BOTH_ERROR, f"spark[{s_err}] oracle[{o_err}]")
    if s_err:
        return Outcome(SPARK_ERROR, s_err)
    if o_err:
        return Outcome(ORACLE_ERROR, o_err)
    diff = _first_difference(s, o)
    return Outcome(DIFF, diff[:800]) if diff else Outcome(MATCH)


def replay_catalog(
    spark: "SparkSession", sf_dir: str, ora: BoundedOracle, names: Sequence[str]
) -> dict[str, Outcome]:
    """``replay`` each named catalog query at ``sf_dir``, printing one
    line per query as it finishes."""
    import __spark_entry__ as entry

    qs, osql = entry.queries(), entry.oracle_sql()
    out: dict[str, Outcome] = {}
    for i, name in enumerate(names):
        out[name] = replay(lambda: qs[name](spark, sf_dir), osql[name], ora)
        print(f"{i + 1}/{len(names)} {name} {out[name]}", flush=True)
    return out


def bare_session() -> "SparkSession":
    """``SparkSession.builder.master("local[N]")`` with no other conf,
    N = the engine's core count (``SPARK_GRAFT_CPUS`` or the host's)."""
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    from pyspark.sql import SparkSession

    from bigquery_cross_environment_etl_pipeline_spark.session import (
        default_parallelism,
    )

    spark = SparkSession.builder.master(f"local[{default_parallelism()}]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
