"""The benchmark's workloads: a closed loop with one client each.

An operation is what the client waits for:

- ``etl_incremental``: one trigger, i.e. one ``orchestrator.run_jobs_for_messages``
  call carrying one tenant's Pub/Sub envelope, which runs one tenant-window
  job (extract -> load -> checkpoint);
- ``query_mix``: one pass over a fixed list of catalog queries, each built
  with ``queries()[name](spark, data_dir)`` and run through the ``noop``
  sink, in an order shuffled by the seed.

Each workload also names the calls into the engine's layers that the
traced run wraps, and turns the spans and Spark jobs of the traced
operations into per-layer metrics.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import time

import numpy as np

import procstat
from checks import check_destination, oracle_digest, result_digest

#: an operation during which the hypervisor stole this share of the host's
#: CPU time or more is left out of the latency median (see ``quiet_median``)
STEAL_LIMIT_PCT = 2.0

ETL_LAYER_TIMES = (
    "orchestrator.route_s", "pipeline.self_s", "checkpoint.read_s",
    "checkpoint.save_s", "extract.window_s", "extract.watermark_s", "load.append_s",
)


def quiet_median(latencies: list[float], steal_pcts: list[float]) -> float:
    """Median latency over the operations the hypervisor did not disturb.

    Steal is CPU time the hypervisor gave to other guests; it slows an
    operation by far more than its share, and it comes and goes with the
    neighbours, not with the program. Operations with steal of at least
    ``STEAL_LIMIT_PCT`` are left out. When that leaves fewer than half of
    them, the half with the least steal is used, so the median always rests
    on at least half of the samples.
    """
    quiet = [lat for lat, s in zip(latencies, steal_pcts) if s < STEAL_LIMIT_PCT]
    if 2 * len(quiet) < len(latencies):
        least = sorted(range(len(latencies)), key=steal_pcts.__getitem__)
        quiet = [latencies[i] for i in least[: (len(least) + 1) // 2]]
    return float(np.median(quiet))


def _envelope_sql(org_id: int) -> str:
    data = base64.b64encode(json.dumps({"org_id": org_id}).encode()).decode()
    return "SELECT '" + json.dumps({"message": {"data": data}}) + "' AS body"


def _jvm_totals(jobs: list[dict]) -> dict[str, float]:
    return {
        "exec_s": sum(j["wall_s"] for j in jobs),
        "executor_cpu_s": sum(j["cpu_s"] for j in jobs),
        "gc_s": sum(j["gc_s"] for j in jobs),
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
    }


class EtlWorkload:
    """Tenant-window ETL triggers over ``events``.

    Four tenants split the table by ``user_id % 4``. ``now`` walks January
    2024 one daily window at a time (at a seeded minute); each window is
    triggered once per tenant, in an order the seed shuffles. When the
    windows run out, a new generation of tenants (new org ids, new
    destinations) starts again from the first window.
    """

    table = "events"
    tables = (table,)
    ts_col = "ts"
    key_cols = ("event_id",)
    part_col = "user_id"
    n_parts = 4
    warmup_ops = 6
    trace_ops = 3
    min_ops = 3

    def __init__(self):
        self.results: dict[int, list] = {}

    # -- setup -----------------------------------------------------------
    def setup(self, spark, root: str, data_dir: str, rng: np.random.Generator) -> None:
        from pyspark.sql import functions as F

        from bigquery_cross_environment_etl_pipeline_spark import orchestrator
        from bigquery_cross_environment_etl_pipeline_spark.operators.checkpoint import CheckpointLog
        from bigquery_cross_environment_etl_pipeline_spark.operators.config import ConfigStore
        from bigquery_cross_environment_etl_pipeline_spark.schemas import CONFIG_SCHEMA
        from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table

        self.spark = spark
        self.orchestrator = orchestrator
        self.source_path = os.path.join(data_dir, f"{self.table}.parquet")
        self.dest_root = os.path.join(root, "dest")
        self.checkpoint_path = os.path.join(root, "checkpoints")
        self.checkpoints = CheckpointLog(spark, self.checkpoint_path)
        self.config = ConfigStore(spark, os.path.join(root, "config"))
        source = load_table(spark, data_dir, self.table)
        self.sources = [
            source.filter(F.col(self.part_col) % self.n_parts == p) for p in range(self.n_parts)
        ]
        self.triggers = self._trigger_sequence(rng)
        orgs = range(1, 65 * self.n_parts)
        rows = [(o, f"proj-{o}", "billing", "export", None, None, None) for o in orgs]
        self.config.write(spark.createDataFrame(rows, CONFIG_SCHEMA))
        self._envelopes: dict[int, object] = {}

    def _trigger_sequence(self, rng):
        generation = 0
        while True:
            for now in _windows(rng):
                for p in rng.permutation(self.n_parts):
                    yield generation * self.n_parts + int(p) + 1, int(p), now
            generation += 1

    # -- one operation ---------------------------------------------------
    def prepare(self):
        org, part, now = next(self.triggers)
        if org not in self._envelopes:
            self._envelopes[org] = self.spark.sql(_envelope_sql(org))
        return org, part, now, self._envelopes[org]

    def run(self, op, tracer) -> list[str]:
        """Run one trigger; returns the problems found."""
        org, part, now, envelope = op
        with tracer.span("trigger", op=tracer.op):
            out = self.orchestrator.run_jobs_for_messages(
                self.spark, envelope, self.config, self.sources[part], self.ts_col,
                self.dest_root, self.checkpoints, now=now,
            )
        if len(out.jobs) != 1:
            return [f"org {org}: {len(out.jobs)} jobs for one envelope"]
        job = out.jobs[0]
        self.results.setdefault(org, []).append(job)
        problems = []
        if job.status != "SUCCESS":
            problems.append(f"org {org} {now}: status {job.status}")
        if job.rows_loaded != job.rows_extracted:
            problems.append(f"org {org} {now}: loaded {job.rows_loaded} of {job.rows_extracted}")
        return problems

    def op_latency(self, latencies: list[float], steal_pcts: list[float]) -> float:
        """Median trigger latency over the undisturbed triggers."""
        return quiet_median(latencies, steal_pcts)

    def detail(self) -> dict:
        return {"rows_loaded": [j.rows_loaded for v in self.results.values() for j in v]}

    # -- correctness -----------------------------------------------------
    def check(self) -> tuple[int, list[str]]:
        """(tenant destinations checked, problems found)."""
        import duckdb

        problems = []
        with duckdb.connect() as con:
            for org, jobs in sorted(self.results.items()):
                part = (org - 1) % self.n_parts
                problems += check_destination(
                    con, self.source_path, f"{self.part_col} % {self.n_parts} = {part}",
                    os.path.join(self.dest_root, f"org_{org}"), self.ts_col,
                    self.key_cols, jobs[-1].new_watermark,
                )
        return len(self.results), problems

    # -- tracing ---------------------------------------------------------
    def instrument(self, tracer) -> None:
        from bigquery_cross_environment_etl_pipeline_spark import orchestrator, pipeline
        from bigquery_cross_environment_etl_pipeline_spark.operators.checkpoint import CheckpointLog

        # pipeline imports its operators by name, so patch them there
        tracer.patch(orchestrator, "process_etl_job", "pipeline")
        tracer.patch(pipeline, "extract_incremental", "extract.window")
        tracer.patch(pipeline, "batch_watermark", "extract.watermark")
        tracer.patch(pipeline, "load_append", "load.append")
        tracer.patch(CheckpointLog, "last_success_watermark", "checkpoint.read")
        tracer.patch(CheckpointLog, "save", "checkpoint.save")

    def layer_metrics(self, spans, jobs, traced_ops, op_cpu) -> dict[str, float]:
        n = len(traced_ops)
        kids: dict[int, list[dict]] = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)
        dur = lambda s: s["end"] - s["start"]
        roots = [s for s in spans if s["name"] == "trigger" and s["op"] in traced_ops]
        name_of = {s["id"]: s["name"] for s in spans}
        op_of = {s["id"]: s["op"] for s in spans}
        timed_jobs = [j for j in jobs if op_of[j["span"]] in traced_ops]
        t = dict.fromkeys(ETL_LAYER_TIMES, 0.0)
        layer_jobs = {k: 0 for k in ("orchestrator", "checkpoint", "extract", "load", "pipeline")}
        calls = 0
        files = bytes_written = 0
        # a span's self time: its duration minus its direct children's
        self_time = lambda s: dur(s) - sum(dur(k) for k in kids.get(s["id"], []))
        for root in roots:
            t["orchestrator.route_s"] += self_time(root)
            for pipe in kids.get(root["id"], []):
                t["pipeline.self_s"] += self_time(pipe)
                for s in kids.get(pipe["id"], []):
                    t[s["name"] + "_s"] += dur(s)
                    calls += s["name"].startswith("checkpoint.")
        for j in timed_jobs:
            name = name_of[j["span"]]
            layer = "orchestrator" if name == "trigger" else name.split(".")[0]
            layer_jobs[layer] += 1
        for org in self.results:
            dest = os.path.join(self.dest_root, f"org_{org}")
            for d, _, fs in os.walk(dest):
                pq = [f for f in fs if f.endswith(".parquet")]
                files += len(pq)
                bytes_written += sum(os.path.getsize(os.path.join(d, f)) for f in pq)
        n_loads = sum(len(v) for v in self.results.values())
        retries = sum(j.attempts - 1 for v in self.results.values() for j in v)
        jvm = _jvm_totals(timed_jobs)
        op_s = sum(dur(r) for r in roots) / n
        m = {k: v / n for k, v in t.items()}
        m.update({
            "orchestrator.spark_jobs": layer_jobs["orchestrator"] / n,
            "pipeline.retries": retries,
            "checkpoint.calls": calls / n,
            "checkpoint.log_files": sum(
                f.endswith(".parquet") for f in os.listdir(self.checkpoint_path)),
            "checkpoint.spark_jobs": layer_jobs["checkpoint"] / n,
            "extract.spark_jobs": layer_jobs["extract"] / n,
            "load.bytes_written": bytes_written / n_loads,
            "load.files_written": files / n_loads,
            "load.spark_jobs": layer_jobs["load"] / n,
            "pipeline.spark_jobs": layer_jobs["pipeline"] / n,
            "trace.op_s": op_s,
        })
        m.update({f"jvm.{k}": v / n for k, v in jvm.items()})
        m["unattributed_s"] = op_s - m["jvm.exec_s"]
        m["worker.python_cpu_s"] = op_cpu["worker"]
        return m


def _windows(rng):
    """``now`` for each daily window of January 2024, at a seeded minute."""
    for day in range(2, 31):
        yield dt.datetime(2024, 1, day) + dt.timedelta(minutes=int(rng.integers(0, 60)))


#: the query mix: an LLM expression, a Python-worker query and two ETL
#: reads (a pushed-down window scan, a shuffled window function). Every
#: one fires a Spark job while it is built.
QUERY_MIX = (
    "embedding_cosine_topk",
    "grouped_median_applyinpandas",
    "incremental_window_scan",
    "checkpoint_latest_success",
)


class QueryMixWorkload:
    tables = ("events", "orders", "embeddings")
    warmup_ops = 8
    trace_ops = 2
    min_ops = 3

    def __init__(self):
        self.latencies: dict[str, list[float]] = {q: [] for q in QUERY_MIX}
        self.steal_pcts: dict[str, list[float]] = {q: [] for q in QUERY_MIX}
        self.check_pass_s: dict[str, tuple[float, float]] = {}

    def setup(self, spark, root: str, data_dir: str, rng: np.random.Generator) -> None:
        """Build every query once, collect it and compare it with DuckDB
        running the catalog's oracle SQL: this is the correctness check and
        the first warm-up pass."""
        import duckdb

        import __spark_entry__ as entry

        self.spark = spark
        self.data_dir = data_dir
        self.rng = rng
        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        self.problems = []
        with duckdb.connect() as con:
            for t in self.tables:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
            for q in QUERY_MIX:
                t0 = time.perf_counter()
                got = result_digest(self.queries[q](spark, data_dir))
                t1 = time.perf_counter()
                want = oracle_digest(con, oracles[q])
                self.check_pass_s[q] = (t1 - t0, time.perf_counter() - t1)
                if got != want:
                    self.problems.append(f"{q}: engine {got} != oracle {want}")

    def prepare(self):
        return [QUERY_MIX[i] for i in self.rng.permutation(len(QUERY_MIX))]

    def run(self, order, tracer) -> list[str]:
        for q in order:
            s0 = procstat.cpu_line()
            t0 = time.perf_counter()
            if tracer.enabled:
                self._run_traced(q, tracer)
            else:
                self.queries[q](self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
            self.latencies[q].append(time.perf_counter() - t0)
            self.steal_pcts[q].append(procstat.steal_pct(s0, procstat.cpu_line()))
        return []

    def _run_traced(self, q, tracer) -> None:
        with tracer.span("query", op=tracer.op, query=q):
            with tracer.span("plans.construct"):
                df = self.queries[q](self.spark, self.data_dir)
            with tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()

    def op_latency(self, latencies: list[float], steal_pcts: list[float]) -> float:
        """Sum over the mix of each query's median latency in the timed
        passes, each median over the query's undisturbed runs."""
        n = len(latencies)
        return sum(quiet_median(self.latencies[q][-n:], self.steal_pcts[q][-n:])
                   for q in QUERY_MIX)

    def detail(self) -> dict:
        return {"check_pass_s": self.check_pass_s, "query_latencies_s": self.latencies,
                "query_steal_pct": self.steal_pcts}

    def check(self) -> tuple[int, list[str]]:
        """(queries checked, problems found); the check ran during setup."""
        return len(QUERY_MIX), self.problems

    def instrument(self, tracer) -> None:
        """Query passes open their spans directly (see ``_run_traced``)."""

    def layer_metrics(self, spans, jobs, traced_ops, op_cpu) -> dict[str, float]:
        n = len(traced_ops)
        dur = lambda s: s["end"] - s["start"]
        by_id = {s["id"]: s for s in spans}
        op_of = {s["id"]: s["op"] for s in spans}
        timed = [s for s in spans if s["op"] in traced_ops]
        total = lambda name: sum(dur(s) for s in timed if s["name"] == name)
        timed_jobs = [j for j in jobs if op_of[j["span"]] in traced_ops]
        in_construct = [j for j in timed_jobs if by_id[j["span"]]["name"] == "plans.construct"]
        jvm = _jvm_totals(timed_jobs)
        op_s = total("query") / n
        m = {
            "plans.construct_s": total("plans.construct") / n,
            "plans.construct_jobs": len(in_construct) / n,
            "catalyst.plan_s": total("catalyst.plan") / n,
            "trace.op_s": op_s,
        }
        m.update({f"jvm.{k}": v / n for k, v in jvm.items()})
        # jobs fired while building are construction time, not execution
        m["jvm.exec_s"] -= sum(j["wall_s"] for j in in_construct) / n
        m["unattributed_s"] = op_s - m["plans.construct_s"] - m["catalyst.plan_s"] - m["jvm.exec_s"]
        m["worker.python_cpu_s"] = op_cpu["worker"]
        return m


WORKLOADS = {"etl_incremental": EtlWorkload, "query_mix": QueryMixWorkload}


def make(name: str):
    if name not in WORKLOADS:
        raise SystemExit(f"unknown workload {name!r}; known: {sorted(WORKLOADS)}")
    return WORKLOADS[name]()
