"""Benchmark of the engine's tenant-window ETL job and a warm query mix.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``etl_incremental`` and ``query_mix``.
Every run works in a fresh directory under ``.perfbench/``
in the checkout (input tables generated from ``--seed``, the index cache,
the warehouse, Spark's scratch space, checkpoints, config, destinations,
and the working directory), so no run serves another. Set-up covers the
JVM, the session, the inputs and a warm-up on the same code paths; then
the closed loop is timed for ``--seconds``. Correctness is checked outside
the timed phase, against DuckDB.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs a fixed
number of operations, alternately untraced and traced, and prints the
per-layer metrics. The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
host facts, disturbance and the raw samples. A run whose outputs are wrong
prints ``"correct": false`` and exits with code 1.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

import datagen
import procstat
import workloads
from tracer import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

#: unit of every metric, in BENCHMARK.json order (selftest.py checks they agree)
END_TO_END = {"setup_s": "s", "op_p50_s": "s"}
PER_LAYER = {
    "orchestrator.route_s": "s", "orchestrator.spark_jobs": "count",
    "pipeline.self_s": "s", "pipeline.retries": "count", "pipeline.spark_jobs": "count",
    "checkpoint.read_s": "s", "checkpoint.save_s": "s", "checkpoint.calls": "count",
    "checkpoint.log_files": "count", "checkpoint.spark_jobs": "count",
    "extract.window_s": "s", "extract.watermark_s": "s", "extract.spark_jobs": "count",
    "load.append_s": "s", "load.bytes_written": "bytes", "load.files_written": "count",
    "load.spark_jobs": "count",
    "plans.construct_s": "s", "plans.construct_jobs": "count", "catalyst.plan_s": "s",
    "jvm.exec_s": "s", "jvm.executor_cpu_s": "s", "jvm.gc_s": "s",
    "jvm.shuffle_bytes": "bytes", "jvm.spill_bytes": "bytes",
    "worker.python_cpu_s": "s", "unattributed_s": "s",
    "trace.op_s": "s", "trace.cpu_s": "s", "trace.overhead_s": "s", "host.steal_pct": "%", "host.runq": "count",
}


def _isolate(root: str) -> None:
    """Point every place the engine, Spark and the JVM write at ``root``."""
    for sub in ("indexes", "warehouse", "tmp", "spark-local"):
        os.makedirs(os.path.join(root, sub))
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(root, "indexes")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(root, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.chdir(root)  # derby.log, metastore_db and spark-warehouse land here


def _stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its Python workers end."""
    from pyspark import SparkContext

    children = procstat.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # the JVM ignored EOF
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, CHECKOUT)
    if importlib.util.find_spec("bigquery_cross_environment_etl_pipeline_spark") is None:
        print("engine package not found next to perfbench/", file=sys.stderr)
        return 2

    workload = workloads.make(args.workload)
    root = os.path.join(CHECKOUT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    _isolate(root)
    spark = None
    try:
        rng = np.random.default_rng(args.seed)
        data_dir = os.path.join(root, "data")
        marks = {"start": procstat.process_start_seconds()}
        datagen.generate(data_dir, args.seed, workload.tables)
        marks["inputs"] = procstat.process_start_seconds()

        from bigquery_cross_environment_etl_pipeline_spark.session import get_spark

        # the traced run reads every job of the run back from the status store
        spark = get_spark(
            app_name="perfbench",
            extra_conf={"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"},
        )
        marks["session"] = procstat.process_start_seconds()
        return _measure(spark, workload, args, root, data_dir, rng, marks)
    finally:
        if spark is not None:
            _stop_spark(spark)
        os.chdir(CHECKOUT)
        shutil.rmtree(root, ignore_errors=True)


def _measure(spark, workload, args, root, data_dir, rng, marks) -> int:
    tracer = Tracer(spark)
    tree = procstat.ProcessTree()
    workload.setup(spark, root, data_dir, rng)
    marks["fixtures"] = procstat.process_start_seconds()
    problems: list[str] = []
    warmup_lat = []
    for _ in range(workload.warmup_ops):
        op = workload.prepare()
        t0 = time.perf_counter()
        problems += workload.run(op, tracer)
        warmup_lat.append(time.perf_counter() - t0)
    setup_s = procstat.process_start_seconds()

    # timed phase: --trace 0 runs for --seconds; --trace 1 runs a fixed
    # number of operations, alternately untraced and traced
    lat: list[float] = []
    lat_traced: list[float] = []
    traced_ops: list[int] = []
    steal_ops: list[float] = []
    op_cpu = dict.fromkeys(("driver", "jvm", "worker", "total"), 0.0)
    if args.trace:
        workload.instrument(tracer)
    sampler = procstat.DisturbanceSampler()
    sampler.start()
    cpu0 = tree.cpu()
    t_start = time.perf_counter()
    i = 0
    while True:
        if args.trace:
            if i == 2 * workload.trace_ops:
                break
            tracer.enabled = i % 2 == 1
            tracer.op = i
        elif time.perf_counter() - t_start >= args.seconds and i >= workload.min_ops:
            break
        op = workload.prepare()
        c0 = tree.cpu() if tracer.enabled else None
        s0 = procstat.cpu_line()
        t0 = time.perf_counter()
        problems += workload.run(op, tracer)
        dt_op = time.perf_counter() - t0
        s1 = procstat.cpu_line()
        if tracer.enabled:
            c1 = tree.cpu()
            for k in op_cpu:
                op_cpu[k] += c1[k] - c0[k]
            traced_ops.append(i)
            lat_traced.append(dt_op)
        else:
            lat.append(dt_op)
            steal_ops.append(procstat.steal_pct(s0, s1))
        i += 1
    wall = time.perf_counter() - t_start
    cpu1 = tree.cpu()
    tracer.enabled = False
    tracer.unpatch()
    host = procstat.host_facts()
    host.update(sampler.stop())
    n_checked, check_problems = workload.check()
    problems += check_problems

    if args.trace:
        jobs = tracer.spark_jobs()
        n = len(traced_ops)
        metrics = workload.layer_metrics(
            tracer.spans, jobs, set(traced_ops), {k: v / n for k, v in op_cpu.items()})
        metrics["trace.cpu_s"] = op_cpu["total"] / n
        metrics["trace.overhead_s"] = statistics.mean(lat_traced) - statistics.mean(lat)
        metrics["host.steal_pct"] = host["steal_pct"]
        metrics["host.runq"] = host["runq"]
        # a layer the workload never calls reads 0
        metrics = {k: metrics.get(k, 0.0) for k in PER_LAYER}
        trace_dir = os.path.join(CHECKOUT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), jobs,
                     {"traced_ops": traced_ops, "latencies": lat, "traced_latencies": lat_traced})
        units = PER_LAYER
    else:
        metrics = {"setup_s": setup_s, "op_p50_s": workload.op_latency(lat, steal_ops)}
        units = END_TO_END
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host,
        "setup_marks_s": marks, "warmup_latencies_s": warmup_lat,
        "timed_ops": i, "timed_wall_s": wall, "latencies_s": lat,
        "steal_pct_per_op": steal_ops,
        "cpu_per_op_s": {k: (cpu1[k] - cpu0[k]) / i for k in cpu0},
        "detail": workload.detail(), "problems": problems[:20],
    }))
    print(json.dumps({
        "correct": not problems,
        "attempted": workload.warmup_ops + i + n_checked,
        "failed": len(problems),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
