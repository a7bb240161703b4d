"""The bench CLI's final stdout line must ALWAYS stay under the
driver's tail-capture window (round-3 BENCH parsed=null lesson) and
parse as the documented shape, no matter how many queries exist."""

from __future__ import annotations

import json

import bench


def _mk(n_queries: int, n_errors: int = 0):
    timings = {f"some_quite_long_query_name_number_{i:04d}": 1.2345 for i in range(n_queries)}
    errors = {f"broken_query_{i}": "Boom: " + "x" * 400 for i in range(n_errors)}
    return timings, errors


def test_line_fits_budget_at_every_scale():
    for n in (0, 10, 82, 200, 1000):
        line, detail = bench.compose_output(*_mk(n), "/root/testdata/sf0.1")
        assert len(line) <= bench.LINE_BUDGET, (n, len(line))
        d = json.loads(line)
        assert d["metric"] == "headline_query_suite_total"
        assert d["unit"] == "sec"
        assert d["n_queries"] == n and d["n_errors"] == 0
        assert d["sf"] == 0.1
        assert len(detail["queries"]) == n


def test_errors_never_leak_into_the_line():
    line, detail = bench.compose_output(*_mk(82, n_errors=30), "/root/testdata/sf0.01")
    assert len(line) <= bench.LINE_BUDGET
    d = json.loads(line)
    assert d["n_errors"] == 30
    assert "Boom" not in line, "error text belongs in the sidecar only"
    assert len(detail["errors"]) == 30


def test_total_is_sum_of_timings():
    timings = {"a": 1.5, "b": 2.25}
    line, detail = bench.compose_output(timings, {}, "/root/testdata/sf0.001")
    d = json.loads(line)
    assert d["value"] == 3.75 == detail["value"]
    assert d["queries"] == {"b": 2.25, "a": 1.5}


def test_bench_list_is_registered():
    """Every BENCH_QUERIES name must exist in the registry — a rename
    that forgets bench.py should fail here, not as a silent
    'not registered' error entry in the round record."""
    from bigquery_cross_environment_etl_pipeline_spark import queries_catalog

    q = queries_catalog.spark_queries()
    missing = [n for n in bench.BENCH_QUERIES if n not in q]
    assert not missing, missing


# ---------------------------------------------------------------------------
# run facts: cores, master, host and the steal-based load flag
# ---------------------------------------------------------------------------

_FACTS = {
    "cpus": 32,
    "master": "local[32]",
    "host": {
        "nproc": 32,
        "spark_graft_cpus": "32",
        "cpu_model": "Intel(R) Xeon(R) Platinum 8375C CPU @ 2.90GHz",
        "mem_gb": 125.8,
    },
    "load": {"steal_pct": 0.12, "runq": 3.75, "loaded": False},
}


def _layers(names, cpu_s=0.9, executor_cpu_s=0.5):
    row = dict.fromkeys(bench.LAYER_KEYS, 0.1)
    return {n: dict(row, **{"cpu_s": cpu_s, "jvm.executor_cpu_s": executor_cpu_s})
            for n in names}


def test_run_facts_ride_line_and_detail_within_budget():
    """cpus/master/host/load must reach BOTH the line and the detail
    and survive the budget's map-dropping path at 1000 queries."""
    timings, errors = _mk(1000, n_errors=5)
    line, detail = bench.compose_output(
        timings, errors, "data/sf0.1", _FACTS, _layers(timings)
    )
    assert len(line) <= bench.LINE_BUDGET
    d = json.loads(line)
    for key, want in _FACTS.items():
        assert d[key] == want == detail[key], key
    for key in ("metric", "value", "unit", "queries", "sf", "n_queries",
                "n_errors", "detail"):
        assert key in d, key
    assert "calibration" not in d and "calibration" not in detail


def test_loaded_follows_steal_limit():
    limit = bench.STEAL_LIMIT_PCT
    assert bench.load_block({"steal_pct": limit, "runq": 1.0})["loaded"]
    assert bench.load_block({"steal_pct": limit + 5.0, "runq": 0.0})["loaded"]
    quiet = bench.load_block({"steal_pct": limit - 0.01, "runq": 12.345})
    # run-queue length is reported, never judged
    assert quiet == {"steal_pct": round(limit - 0.01, 2), "runq": 12.35,
                     "loaded": False}
    assert bench.load_block(None) is None  # no /proc: the field degrades


# ---------------------------------------------------------------------------
# per-query layers from perfbench's Tracer
# ---------------------------------------------------------------------------


def test_busy_s_counts_overlapping_jobs_once():
    assert bench.busy_s([]) == 0.0
    # two concurrent jobs and one after a gap: 0..3 and 5..6
    assert bench.busy_s([(1.0, 3.0), (0.0, 2.0), (5.0, 6.0)]) == 4.0
    assert bench.busy_s([(0.0, 4.0), (1.0, 2.0)]) == 4.0  # nested


def test_layers_schema_and_budget_at_1000_queries():
    """The ``layers`` row uses perfbench's per-layer metric names, and
    1000 rows ride the detail while the line stays within budget."""
    assert bench.LAYER_KEYS == (
        "plans.construct_s", "plans.construct_jobs", "jvm.exec_s",
        "jvm.executor_cpu_s", "jvm.gc_s", "jvm.shuffle_bytes",
        "jvm.spill_bytes", "worker.python_cpu_s", "cpu_s", "unattributed_s",
    )
    timings, errors = _mk(1000)
    layers = _layers(timings)
    line, detail = bench.compose_output(timings, errors, "data/sf0.1", _FACTS, layers)
    assert bench.LINE_BUDGET == 1500
    assert len(line) <= bench.LINE_BUDGET
    assert "layers" not in json.loads(line)
    assert detail["layers"] == layers
    assert all(tuple(row) == bench.LAYER_KEYS for row in detail["layers"].values())


def test_cpu_channel_rides_detail_and_line_within_budget():
    timings, errors = _mk(200)
    layers = _layers(timings)
    line, detail = bench.compose_output(
        timings, errors, "data/sf0.1", layers=layers
    )
    assert len(line) <= bench.LINE_BUDGET
    payload = json.loads(line)
    assert payload["cpu_sec"] == round(0.9 * 200, 2) == detail["cpu_sec"]
    assert payload["jvm_cpu_sec"] == round(0.5 * 200, 2) == detail["jvm_cpu_sec"]
    for old in ("cpu_queries", "jvm_cpu_queries", "py_cpu_queries",
                "cpu_regression_candidates", "cpu_ref_skipped"):
        assert old not in detail and old not in payload, old
    # no layers (the status store could not be read): no CPU totals
    line, detail = bench.compose_output(timings, errors, "data/sf0.1")
    assert "cpu_sec" not in json.loads(line) and "layers" not in detail


def test_proc_tree_cpu_monotonic_and_positive():
    tree = bench.procstat.ProcessTree()
    c0 = bench._probe(tree.cpu)
    if c0 is None:  # non-Linux degrade path
        return
    acc = 0
    for i in range(2_000_000):
        acc += i * i & 1023
    _ = acc
    c1 = bench._probe(tree.cpu)
    assert c1["total"] >= c0["total"] > 0
    assert c1["worker"] >= c0["worker"] >= 0


def test_traced_pass_attributes_jobs_to_layers(spark):
    """bench's pass function and the Tracer split a real pass into
    layers: a lazy builder fires no job while it is built and its
    execution reads executor CPU; a builder that collects while it is
    built counts that job as construction."""

    def lazy(s, _sf_dir):
        return s.range(2_000_000).selectExpr("sum(id % 97) AS s")

    def eager(s, _sf_dir):
        n = s.range(1000).selectExpr("count(*) AS n").collect()[0]["n"]
        return s.range(n).selectExpr("sum(id) AS s")

    tracer = bench.Tracer(spark)
    tracer.enabled = True
    tree = bench.procstat.ProcessTree()
    recs = {name: bench.run_pass(spark, tracer, tree, name, fn, "unused")
            for name, fn in (("lazy", lazy), ("eager", eager))}
    tracer.enabled = False
    rows = bench.layer_rows(spark, tracer, recs)
    for name, row in rows.items():
        assert tuple(row) == bench.LAYER_KEYS, name
        # the parts never exceed the wall time: no job counted twice
        assert row["unattributed_s"] >= -0.05 * recs[name]["wall"], (name, row)
    assert rows["lazy"]["plans.construct_jobs"] == 0
    assert rows["lazy"]["jvm.executor_cpu_s"] > 0
    assert rows["eager"]["plans.construct_jobs"] >= 1
