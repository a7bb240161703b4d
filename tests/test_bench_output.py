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


def test_run_facts_ride_line_and_detail_within_budget():
    """cpus/master/host/load must reach BOTH the line and the detail
    and survive the budget's map-dropping path at 1000 queries."""
    timings, errors = _mk(1000, n_errors=5)
    regress = {k: 9.99 for k in list(timings)[:50]}
    line, detail = bench.compose_output(
        timings, errors, "data/sf0.1", _FACTS,
        cpu_timings={k: 0.9 for k in timings},
        jvm_cpu_timings={k: 0.5 for k in timings},
        cpu_regression_candidates=regress,
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
# round-11 CPU-time channel
# ---------------------------------------------------------------------------


def test_cpu_channel_rides_detail_and_line_within_budget():
    timings, errors = _mk(200)
    cpu = {k: 0.9 for k in timings}
    jvm = {k: 0.5 for k in timings}
    regress = {k: 2.1 for k in list(timings)[:40]}
    line, detail = bench.compose_output(
        timings, errors, "/root/testdata/sf0.1",
        cpu_timings=cpu, jvm_cpu_timings=jvm,
        cpu_regression_candidates=regress,
    )
    assert len(line) <= bench.LINE_BUDGET
    payload = json.loads(line)
    assert payload["cpu_sec"] == round(sum(cpu.values()), 2)
    assert payload["jvm_cpu_sec"] == round(sum(jvm.values()), 2)
    assert detail["cpu_queries"] == cpu
    assert detail["jvm_cpu_queries"] == jvm
    assert detail["cpu_regression_candidates"] == regress
    # the line carries at most 5 candidates + the full count
    if "cpu_regression_candidates" in payload:
        assert len(payload["cpu_regression_candidates"]) <= 5
        assert payload["n_cpu_regression_candidates"] == 40


def test_cpu_regressions_flags_only_real_ratios():
    # one case per channel for each rule: a: 1.75x > 1.5 -> flagged;
    # b: 1.2x -> clean; tiny: below the 0.5s channel floor -> never
    # arms; gone: unmeasured -> skipped
    ref = {"a": 2.0, "b": 1.0, "tiny": 0.05, "gone": 3.0}
    got = {"a": 3.5, "b": 1.2, "tiny": 5.0}
    assert bench.cpu_regressions(got, ref, {}, {}) == {"a": 1.75}
    assert bench.cpu_regressions({}, {}, got, ref) == {"a": 1.75}


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


def _write_ref(path, sf_dir, host):
    path.write_text(json.dumps({"sf_dir": sf_dir, "host": host,
                                "jvm_cpu_queries": {"a": 2.0, "bad": "x"},
                                "py_cpu_queries": {"a": 0.5}}))


def test_cpu_reference_ignores_other_scale(tmp_path):
    p = tmp_path / "ref.json"
    host = _FACTS["host"]
    _write_ref(p, bench.SF_DIR + "7", host)
    assert bench.load_cpu_reference(host, str(p)) == ({}, {}, "other sf")
    _write_ref(p, bench.SF_DIR, host)
    assert bench.load_cpu_reference(host, str(p)) == (
        {"a": 2.0}, {"a": 0.5}, None
    )
    assert bench.load_cpu_reference(host, str(tmp_path / "missing.json")) == (
        {}, {}, "no reference"
    )


def test_cpu_reference_is_host_scoped(tmp_path):
    """CPU seconds from another machine are not comparable: a reference
    stamped for another host turns the detector off and says why; the
    same reference on its own host flags a 1.75x channel."""
    p = tmp_path / "ref.json"
    here = _FACTS["host"]
    other = dict(here, nproc=4, cpu_model="AMD EPYC 7B13")
    got = {"a": 3.5}
    _write_ref(p, bench.SF_DIR, other)
    jvm_ref, py_ref, skipped = bench.load_cpu_reference(here, str(p))
    assert (jvm_ref, py_ref, skipped) == ({}, {}, "host mismatch")
    assert bench.cpu_regressions(got, jvm_ref, {}, py_ref) == {}
    _, detail = bench.compose_output({"a": 1.0}, {}, bench.SF_DIR,
                                     cpu_ref_skipped=skipped)
    assert detail["cpu_ref_skipped"] == "host mismatch"
    # an unstamped reference (no host facts) never matches either
    assert bench.load_cpu_reference(None, str(p))[2] == "host mismatch"

    _write_ref(p, bench.SF_DIR, here)
    jvm_ref, py_ref, skipped = bench.load_cpu_reference(here, str(p))
    assert skipped is None
    assert bench.cpu_regressions(got, jvm_ref, {}, py_ref) == {"a": 1.75}


def test_cpu_regressions_two_channel_detector():
    # JVM channel: armed at >=0.5s ref; Python channel: worker CPU
    # measured directly
    jvm_ref = {"jq": 2.0, "tiny_jvm": 0.2, "both": 1.0}
    jvm_got = {"jq": 3.5, "tiny_jvm": 2.0, "both": 1.1}
    py_ref = {"pq": 4.0, "tiny_py": 0.3, "both": 3.0}
    py_got = {"pq": 7.0, "tiny_py": 3.0, "both": 5.1}
    out = bench.cpu_regressions(jvm_got, jvm_ref, py_got, py_ref)
    # jq: jvm 1.75x flags; pq: py 1.75x flags; both: py 1.7x flags;
    # tiny_*: below channel floors never arm
    assert out == {"jq": 1.75, "pq": 1.75, "both": 1.7}


def test_jvm_cpu_meter_measures_real_stages(spark):
    """The AppStatusStore probe must survive this Spark version's py4j
    surface and attribute nonzero CPU to a real job (or degrade to
    None cleanly, never raise)."""
    meter = bench.JvmCpuMeter(spark)
    meter.mark()
    spark.range(2_000_000).selectExpr("sum(id % 97) as s").collect()
    got = meter.read()
    assert got is None or got > 0
    # a mark() directly followed by read() sees (approximately) no new
    # stages — the floor logic isolates per-pass attribution
    meter.mark()
    idle = meter.read()
    assert idle is None or idle == 0.0
