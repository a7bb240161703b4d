"""The cached-schema parquet reader (``sources/registry.read_parquet``).

Spark infers a parquet path's schema once per process and data
version; later reads build the relation from the cached ``StructType``
without a Spark job. Each staleness case below fails if the cache key
omits the part it covers: the recursive file fingerprint or the
conversion SQLConfs.
"""

import hashlib
import os
import shutil
import sys
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, IntegerType, LongType, StringType, TimestampType

from bigquery_cross_environment_etl_pipeline_spark.sources import registry
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import (
    TABLES,
    dataset_fingerprint,
    load_table,
    read_parquet,
    table_path,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """(fn(), ids of the Spark jobs fn ran), counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def restore_confs(spark):
    """Put the conversion SQLConfs back as the test found them."""
    saved = {k: spark.conf.get(k) for k in registry._SCHEMA_CONFS}
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_unchanged_data_infers_once(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    shutil.copy(table_path(SF_SMOKE, "region"), path)
    first, inferred = _jobs(spark, lambda: read_parquet(spark, path).schema)
    second, cached = _jobs(spark, lambda: read_parquet(spark, path).schema)
    assert inferred, "the first read infers the schema with a Spark job"
    assert cached == []
    assert second == first and first.names == pq.read_schema(path).names


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    """(a) A table rewritten at the same path with an added column: the
    next ``load_table`` returns the new schema."""
    sf = tmp_path / "sf"
    sf.mkdir()
    path = table_path(str(sf), "region")
    shutil.copy(table_path(SF_SMOKE, "region"), path)
    before = load_table(spark, str(sf), "region")
    fp = dataset_fingerprint(str(sf), "region")
    t = pq.read_table(path)
    pq.write_table(t.append_column("r_extra", pa.array(range(t.num_rows), pa.int64())), path)
    assert dataset_fingerprint(str(sf), "region") != fp
    after = load_table(spark, str(sf), "region")
    assert after.columns == before.columns + ["r_extra"]
    assert after.agg(F.sum("r_extra")).first()[0] == sum(range(t.num_rows))


def test_append_to_a_partitioned_store_is_inferred_again(spark, tmp_path):
    """(b) Rows appended under a new partition directory of a
    ``partitionBy`` store: the next read sees the new files and types
    the partition column from the new values. The append leaves every
    top-level file alone, so only a recursive fingerprint sees it."""
    store = str(tmp_path / "postings")
    rows = spark.range(40).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2).cast("string").alias("_tb")
    )
    rows.write.partitionBy("_tb").parquet(store)
    first = read_parquet(spark, store)
    assert first.schema["_tb"].dataType == IntegerType()
    top = sorted(f for f in os.listdir(store) if os.path.isfile(os.path.join(store, f)))
    stamp = [os.stat(os.path.join(store, f)).st_mtime_ns for f in top]
    spark.range(40, 50).withColumnRenamed("id", "doc_id").write.parquet(f"{store}/_tb=x")
    assert [os.stat(os.path.join(store, f)).st_mtime_ns for f in top] == stamp
    again = read_parquet(spark, store)
    assert again.schema["_tb"].dataType == StringType()
    got = {r["_tb"]: r["n"] for r in again.groupBy("_tb").agg(F.count("*").alias("n")).collect()}
    assert got == {"0": 20, "1": 20, "x": 10}


def test_conversion_confs_are_part_of_the_key(spark, tmp_path, restore_confs):
    """(c) An entry cached under one value of a conversion SQLConf is not
    served under the other. Spark refuses TIMESTAMP(NANOS) unless
    ``nanosAsLong`` is true, so that conf can only be shown refusing; a
    binary column shows both directions for ``binaryAsString``."""
    ns = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"ts": pa.array([10**18], pa.timestamp("ns"))}), ns)
    spark.conf.set(NANOS_AS_LONG, "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        read_parquet(spark, ns)
    spark.conf.set(NANOS_AS_LONG, "true")
    assert read_parquet(spark, ns).schema["ts"].dataType == LongType()
    spark.conf.set(NANOS_AS_LONG, "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        read_parquet(spark, ns)
    spark.conf.set(NANOS_AS_LONG, "true")
    schema, jobs = _jobs(spark, lambda: read_parquet(spark, ns).schema)
    assert schema["ts"].dataType == LongType() and jobs == []

    raw = str(tmp_path / "raw.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), raw)
    want = {"false": BinaryType(), "true": StringType()}
    for value in ("false", "true", "false", "true"):
        spark.conf.set("spark.sql.parquet.binaryAsString", value)
        assert read_parquet(spark, raw).schema["b"].dataType == want[value]


def test_concurrent_reads_of_one_path_agree(spark, tmp_path):
    """(d) Eight threads reading one uncached path at once all get the
    same schema, and the map ends up with one entry for it."""
    path = str(tmp_path / "orders.parquet")
    shutil.copy(table_path(SF_SMOKE, "orders"), path)
    start = threading.Barrier(8)

    def read(_):
        start.wait()
        return read_parquet(spark, path).schema

    with ThreadPoolExecutor(8) as pool:
        schemas = list(pool.map(read, range(8)))
    assert all(s == schemas[0] for s in schemas)
    assert schemas[0].names == pq.read_schema(path).names
    assert sum(k[0] == path for k in list(registry._schemas)) == 1


def _flat_listing_fingerprint(p: str) -> str:
    """The fingerprint as it was defined before it walked partition
    directories: the top-level regular files only."""
    stats = []
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


def test_flat_table_fingerprints_keep_their_values(tmp_path):
    """A flat table's fingerprint is byte-identical to the top-level
    listing's, so no persisted index-cache path moves; a partitioned
    store's fingerprint also changes when only a nested file does."""
    for t in TABLES:
        assert dataset_fingerprint(SF_ORACLE, t) == _flat_listing_fingerprint(
            table_path(SF_ORACLE, t)
        ), t
    flat = tmp_path / "flat.parquet"
    flat.mkdir()
    for i in range(3):
        (flat / f"part-{i}.parquet").write_bytes(b"x" * (i + 1))
    (flat / "_SUCCESS").touch()
    assert dataset_fingerprint(str(tmp_path), "flat") == _flat_listing_fingerprint(str(flat))

    store = tmp_path / "pq.parquet"
    (store / "_cid=3").mkdir(parents=True)
    (store / "_SUCCESS").touch()
    part = store / "_cid=3" / "part-0.parquet"
    part.write_bytes(b"abc")
    os.utime(part, ns=(1_700_000_000_000_000_000,) * 2)
    fp = dataset_fingerprint(str(tmp_path), "pq")
    part.write_bytes(b"abd")
    os.utime(part, ns=(1_700_000_000_000_000_001,) * 2)
    assert dataset_fingerprint(str(tmp_path), "pq") != fp


@pytest.fixture(scope="module")
def nanos_sf(tmp_path_factory):
    """sf0.001 with ``events.ts`` written in nanoseconds, as perfbench's
    data generator writes it: the ``load_table`` path that reads the
    column as int64 and rewrites it to a microsecond timestamp."""
    sf = tmp_path_factory.mktemp("sf_nanos")
    for t in TABLES:
        shutil.copy(table_path(SF_SMOKE, t), table_path(str(sf), t))
    events = pq.read_table(table_path(SF_SMOKE, "events"))
    i = events.schema.get_field_index("ts")
    events = events.set_column(i, "ts", events.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(events, table_path(str(sf), "events"))
    return str(sf)


@pytest.mark.parametrize("data", ["sf0.001", "sf0.001-nanos"])
def test_query_mix_builders_fire_no_job_once_warm(spark, data, nanos_sf, monkeypatch):
    """Once a first build has warmed the cache, building each perfbench
    ``QUERY_MIX`` query again runs no Spark job, and the events readers
    still see ``ts`` as a timestamp after the ns -> us rewrite."""
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from workloads import QUERY_MIX

    import __spark_entry__ as entry
    from bigquery_cross_environment_etl_pipeline_spark.plans import etl, extended

    sf = SF_SMOKE if data == "sf0.001" else nanos_sf
    queries = entry.queries()
    for q in QUERY_MIX:
        queries[q](spark, sf)
    ts_types = {}

    def recording(builder):
        def load(spark, sf_dir, name):
            df = load_table(spark, sf_dir, name)
            if name == "events":
                ts_types[builder] = df.schema["ts"].dataType
            return df
        return load

    monkeypatch.setattr(etl, "load_table", recording("incremental_window_scan"))
    monkeypatch.setattr(extended, "load_table", recording("grouped_median_applyinpandas"))
    for q in QUERY_MIX:
        _, jobs = _jobs(spark, lambda: queries[q](spark, sf))
        assert jobs == [], f"{q} ran Spark jobs {jobs} while it was built"
    if data == "sf0.001-nanos":
        assert ts_types == {
            "incremental_window_scan": TimestampType(),
            "grouped_median_applyinpandas": TimestampType(),
        }


def _schemaless_parquet_reads(root):
    """``file:line`` of each ``<...>.read[...].parquet(...)`` call under
    ``root`` whose reader chain sets no ``.schema(...)``."""
    import ast
    from pathlib import Path

    hits = []
    for p in sorted(Path(root).rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            if node.func.attr != "parquet":
                continue
            chain, r = [], node.func.value
            while isinstance(r, (ast.Call, ast.Attribute)):
                if isinstance(r, ast.Call):
                    r = r.func
                    continue
                chain.append(r.attr)
                r = r.value
            if "read" in chain and "schema" not in chain:
                hits.append(f"{p.relative_to(root).as_posix()}:{node.lineno}")
    return hits


def test_every_schemaless_parquet_read_goes_through_read_parquet():
    """The engine infers a parquet schema in one place: the cache miss
    of ``read_parquet``. ``read_parquet_evolving`` merges file schemas
    on purpose, so it reads around the cache."""
    pkg = os.path.join(REPO, "bigquery_cross_environment_etl_pipeline_spark")
    hits = _schemaless_parquet_reads(pkg)
    assert [h.split(":")[0] for h in hits] == ["sources/formats.py", "sources/registry.py"], hits
