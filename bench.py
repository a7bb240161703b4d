#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}
which also carries the run's ``cpus``, ``master``, ``host`` and ``load``.

Each query executes to completion through the noop sink (full plan runs,
no driver-side result transfer skewing the numbers), twice; its time is
the faster pass, since the first pays one-time codegen compilation.

Measurement is perfbench's (perfbench/procstat.py, perfbench/tracer.py):

- Load: a ``DisturbanceSampler`` runs across the whole query loop and
  reports hypervisor steal and the mean run-queue length. The run is
  ``loaded`` when steal reached perfbench's ``STEAL_LIMIT_PCT``.
- Layers: every pass runs under a ``Tracer`` span ``query`` with two
  children, ``plans.construct`` (the builder call) and ``exec`` (the
  noop write). Each span sets its own Spark job group, so once the loop
  ends every Spark job is attributed to the span that fired it and its
  stage metrics are read from the AppStatusStore. BENCH_DETAIL.json
  gets one ``layers`` row per query, for its reported pass, in
  perfbench's metric names (``LAYER_KEYS``); ``cpu_s`` is the pass's
  process-tree CPU (``ProcessTree``) and ``unattributed_s`` is the
  wall time outside construction and Spark jobs (Catalyst planning and
  driver work).
"""

from __future__ import annotations

import json
import os
import re
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "perfbench"))

import procstat  # noqa: E402
from tracer import Tracer  # noqa: E402
from workloads import STEAL_LIMIT_PCT, _jvm_totals  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline set: ETL semantics + heavy analytics + LLM ops
BENCH_QUERIES = [
    "incremental_window_scan",
    "window_count_scan",
    "checkpoint_latest_success",
    "broadcast_lookup_join",
    "grouped_cost_rollup",
    "revenue_by_nation",
    "top10_orders_by_value",
    "window_running_total",
    "sessionization_gap30m",
    "pivot_event_counts",
    "dedup_exact_stats",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_fingerprints",
    # dedup_ngram_jaccard_pairs dropped in round 3: demoted to an
    # exact-verify utility (fixed-cardinality blocking is quadratic at
    # scale); dedup_lsh_jaccard_verified is the headline composition
    "dedup_lsh_jaccard_verified",
    "dedup_incremental_new_batch",
    "dedup_levenshtein_verified",
    "embedding_cosine_topk",
    "embedding_cosine_neardup",
    "ann_topk_ivf_probe",
    "ann_batch_topk_ivf",
    "embedding_batch_topk",
    "embedding_cosine_clusters",
    "resampled_hourly_forward_fill",
    "deterministic_mixture_sample",
    "text_quality_scores",
    "text_safety_flags",
    "text_langid",
    "multimodal_features",
    "asof_join_latest_order",
    "range_join_events_5min",
    "cdc_apply_changes_snapshot",
    "funnel_signup_click_purchase",
    "snapshot_diff_accounting",
    "attribution_last_touch",
    "histogram_quantile_sketch",
    "hierarchy_subtree_rollup",
    "retention_cohorts",
    "quality_weighted_sample",
    "embedding_label_centroids",
    "embedding_quantize_int8",
    "embedding_pq_codes",
    "ann_topk_pq_adc",
    "ann_topk_ivfpq",
    "json_props_extract",
    "token_topk",
    "bm25_topk_retrieval",
    "bm25_topk_from_index",
    "bm25_incremental_index_topk",
    "hybrid_rrf_fusion",
    "grouped_median_applyinpandas",
    "shipping_priority_top10",
    "returned_item_customers",
    "corpus_token_budget_curation",
    "discounted_revenue_window",
    "promo_revenue_ratio",
    "large_volume_customers",
    "order_value_distribution_ranks",
    "text_repetition_quality",
    "text_pii_redaction",
    "grouped_median_builtin",
    "nation_trade_pagerank",
    "nation_trade_shortest_paths",
    "nation_trade_triangles",
    "bilateral_trade_volume",
    "slow_suppliers_multi_anti",
    "small_order_revenue_q17",
    "top_supplier_revenue_q15",
    "cheapest_line_supplier_q2",
    "nation_year_profit_q9",
    "customer_order_distribution_q13",
    "part_supplier_variety_q16",
    "excess_shippers_q20",
    "regional_market_share",
    "bigram_topk",
    # round-4 additions: TPC-H completion + corpus repetition scoring
    "pricing_summary_q1",
    "forecast_revenue_change_q6",
    "important_part_revenue_q11",
    "disjunctive_revenue_q19",
    "corpus_dup_ngram_fraction",
    "vocab_oov_rate",
    "embedding_knn_graph",
    "deterministic_split_assignment",
    "corpus_source_report",
    "corpus_span_dedup",
    "contrastive_negative_samples",
    "incremental_agg_maintenance",
    "backfill_window_accounting",
    "verdict_sink_roundtrip",
    "multimodal_payload_dedup",
    "daily_count_anomaly_zscore",
    "keyset_pagination_page",
    # round-5 addition: within-doc chunking with overlap
    "doc_chunk_overlap",
    # round-6 additions: driver-visible data-layout queries
    "bucketed_join_rollup",
    "zorder_locality_accounting",
    # round-6 batch 4: ANN serving quality, production hybrid fusion,
    # compaction maintenance accounting
    "ann_recall_at_k",
    "hybrid_rrf_fusion_ivfpq",
    "compaction_file_accounting",
    # round-7 additions: measured LSH banding quality (recall/precision
    # vs the inverted-index exact-Jaccard ground truth) and the real
    # JDBC connector round-trip (embedded Derby, partitioned read)
    "dedup_recall_precision",
    "jdbc_roundtrip_rollup",
    "multimodal_image_decode",
    # round-8 additions: GPT-style sequence packing (two-phase
    # distributed prefix sum — the round-8 root-caused fix made it
    # externally verifiable), measured simhash blocking quality, and
    # the IVF recall-vs-nprobe tuning curve
    "corpus_sequence_packing",
    "simhash_recall_precision",
    "ann_recall_nprobe_sweep",
    # round-8 additions, second batch: the LSH banding tuning curve,
    # the Count-Min frequency sketch with measured overestimate, and
    # the cluster-aware (leakage-safe) split
    "dedup_band_sweep",
    "heavy_hitters_countmin",
    "leakage_safe_split_assignment",
    # round-8 additions, third batch: temperature mixture targets,
    # exact-k stratified sampling, JL projection distortion
    "mixture_temperature_targets",
    "bottomk_sample_per_type",
    "embedding_projection_distortion",
    # round-8 additions, fourth batch: ORC sink/source round-trip
    # (streaming_full_outer_join_nulls stays unbenched like the other
    # multi-batch streaming replays — their wall time is dominated by
    # micro-batch scheduling, not data-path work)
    "orc_roundtrip_rollup",
    # round-9 additions: real PNG decode (stdlib zlib + numpy
    # unfiltering, all five scanline filters, every 8-bit color type,
    # both progressive modes) and benchmark decontamination (n-gram
    # overlap vs a held-out slice, broadcast-semi-join shape)
    "multimodal_png_decode",
    "benchmark_decontamination",
    # round-9 additions, second batch: GIF decode (pure-Python LZW +
    # 4-pass row interlace + palette) and WAV PCM audio decode (RIFF
    # chunk walker) — the audio modality's first real decoder
    "multimodal_gif_decode",
    "multimodal_wav_decode",
    # round-9 additions, third batch: real end-to-end image resize
    # (decode -> nearest-neighbor -> PNG re-encode -> re-decode)
    "multimodal_resize_decode",
    # round-9 additions, fourth batch: distributed BPE tokenizer
    # training (vocab-sized merge rounds, one argmax row per round)
    # and corpus-scale application (chained column-level replaces)
    "bpe_train_merges",
    "bpe_token_counts",
    # round-9 additions, fifth batch: Unicode NFC normalization (the
    # pre-hash hygiene step; one of the few legitimately-UDF ops —
    # Spark has no JVM builtin for Unicode normalization)
    "text_nfc_normalization",
    # round-10 additions: baseline JPEG — the pixel path (Huffman +
    # dequant + einsum IDCT + JFIF color over gray/4:4:4/4:2:0 with
    # restart markers) and the AC entropy-layer path (zigzag-weighted
    # coefficient checksum)
    "multimodal_jpeg_decode",
    "multimodal_jpeg_coefficients",
    # round-10, second wave: progressive (SOF2) JPEG — the Annex G
    # scan-script state machine end to end
    "multimodal_jpeg_progressive",
    # round-10, third wave: 12-bit extended precision (uint16 output,
    # extended Huffman categories, both entropy layouts)
    "multimodal_jpeg12_decode",
    # round-10, fourth wave: lossless (SOF3) prediction process —
    # all seven Annex H predictors across the corpus
    "multimodal_jpeg_lossless_decode",
    # round-11 additions: ARITHMETIC-coded JPEG (SOF9 + SOF10) — the
    # Annex D QM coder with the Annex F statistical models, pixel
    # path and AC coefficient-checksum path
    "multimodal_jpeg_arithmetic",
    "multimodal_jpeg_arithmetic_coefficients",
]


#: one ``layers`` row per query, in perfbench's per-layer metric names
LAYER_KEYS = (
    "plans.construct_s",
    "plans.construct_jobs",
    "jvm.exec_s",
    "jvm.executor_cpu_s",
    "jvm.gc_s",
    "jvm.shuffle_bytes",
    "jvm.spill_bytes",
    "worker.python_cpu_s",
    "cpu_s",
    "unattributed_s",
)


def _probe(fn):
    """``fn()``, or None when /proc cannot be read (non-Linux): a
    missing meter degrades its channel to absent — the bench must never
    die on a probe."""
    try:
        return fn()
    except (OSError, ValueError, IndexError, AttributeError):
        return None


def load_block(sample: dict[str, float] | None) -> dict | None:
    """The run's ``load`` field from a ``DisturbanceSampler`` reading.
    ``loaded`` uses perfbench's rule: steal of ``STEAL_LIMIT_PCT`` or
    more marks a disturbed run."""
    if sample is None:
        return None
    return {
        "steal_pct": round(sample["steal_pct"], 2),
        "runq": round(sample["runq"], 2),
        "loaded": sample["steal_pct"] >= STEAL_LIMIT_PCT,
    }


def run_pass(spark, tracer: Tracer, tree, name: str, fn, sf_dir: str) -> dict:
    """One traced pass of one query: its ``query`` span record, with
    its wall time (``wall``) and the process-tree CPU it spent
    (``cpu``, when /proc can be read) attached."""
    c0 = _probe(tree.cpu)
    with tracer.span("query", query=name) as rec:
        with tracer.span("plans.construct"):
            df = fn(spark, sf_dir)
        with tracer.span("exec"):
            df.write.format("noop").mode("overwrite").save()
    c1 = _probe(tree.cpu)
    rec["wall"] = rec["end"] - rec["start"]
    if c0 is not None and c1 is not None:
        # clamp at 0: process churn between snapshots can produce a
        # slightly negative delta
        rec["cpu"] = {k: max(0.0, c1[k] - c0[k]) for k in ("total", "worker")}
    return rec


def busy_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds during which at least one interval was open. AQE runs
    independent shuffle and broadcast stages as concurrent jobs, so a
    plain sum of job walls would count the overlap twice."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


def layer_rows(spark, tracer: Tracer, passes: dict[str, dict]) -> dict[str, dict]:
    """The ``layers`` row of each query's reported pass (``passes``:
    query -> its ``query`` span record from ``run_pass``). Jobs a
    builder fires while it is built count as construction; ``jvm.exec_s``
    is the wall time the ``exec`` span's jobs were running. Executor
    CPU, GC, shuffle and spill cover every job of the pass."""
    jobs = tracer.spark_jobs()
    store = spark.sparkContext._jsc.sc().statusStore()

    def interval(job_id: int) -> tuple[float, float]:
        j = store.job(job_id)
        return j.submissionTime().get().getTime() / 1e3, j.completionTime().get().getTime() / 1e3

    rows = {}
    for name, rec in passes.items():
        kids = {s["name"]: s for s in tracer.spans if s["parent"] == rec["id"]}
        construct, exec_ = kids["plans.construct"], kids["exec"]
        mine = [j for j in jobs if j["span"] in (construct["id"], exec_["id"])]
        row = {f"jvm.{k}": v for k, v in _jvm_totals(mine).items()}
        row["plans.construct_s"] = construct["end"] - construct["start"]
        row["plans.construct_jobs"] = sum(j["span"] == construct["id"] for j in mine)
        row["jvm.exec_s"] = busy_s([interval(j["job"]) for j in mine if j["span"] == exec_["id"]])
        cpu = rec.get("cpu", {})
        row["worker.python_cpu_s"] = cpu.get("worker")
        row["cpu_s"] = cpu.get("total")
        row["unattributed_s"] = rec["wall"] - row["plans.construct_s"] - row["jvm.exec_s"]
        rows[name] = {
            k: round(row[k], 4) if isinstance(row[k], float) else row[k] for k in LAYER_KEYS
        }
    return rows


def main() -> None:
    from py4j.protocol import Py4JError

    from bigquery_cross_environment_etl_pipeline_spark import queries_catalog
    from bigquery_cross_environment_etl_pipeline_spark.session import get_spark

    # every job of the run is read back from the status store after the
    # loop (perfbench/run.py builds its session the same way)
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"},
    )
    sc = spark.sparkContext
    queries = queries_catalog.spark_queries()

    # JVM/codegen warmup on a tiny table
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()

    tracer = Tracer(spark)
    tracer.enabled = True
    tree = procstat.ProcessTree()
    best: dict[str, dict] = {}
    errors: dict[str, str] = {}
    # two passes per query, report the faster: the first pass pays
    # one-time whole-stage-codegen compilation that a long-running
    # cluster amortizes away. Fault-isolated: one broken query must
    # never zero the whole bench signal — record its error and go on.
    sampler = procstat.DisturbanceSampler()
    _probe(sampler.start)
    for name in BENCH_QUERIES:
        fn = queries.get(name)
        if fn is None:
            errors[name] = "not registered"
            continue
        try:
            passes = [run_pass(spark, tracer, tree, name, fn, SF_DIR) for _ in range(2)]
            best[name] = min(passes, key=lambda rec: rec["wall"])
        except Exception as exc:  # noqa: BLE001 — isolate per query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
    load = load_block(_probe(sampler.stop))

    timings = {name: round(rec["wall"], 4) for name, rec in best.items()}
    try:
        layers = layer_rows(spark, tracer, best)
    except Py4JError:  # the status store could not be read: no layers
        traceback.print_exc()
        layers = None
    run_facts = {
        "cpus": sc.defaultParallelism,
        "master": sc.master,
        "host": _probe(procstat.host_facts),
        "load": load,
    }
    line, detail = compose_output(timings, errors, SF_DIR, run_facts, layers)
    try:
        with open(os.path.join(HERE, "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    print(json.dumps(detail), file=sys.stderr)
    print(line)
    spark.stop()


#: hard budget for the final stdout line — the driver's tail capture is
#: ~2000 chars; round 3 shipped parsed=null because a 68-query inline
#: map overflowed it. Enforced in compose_output AND unit-tested
#: (tests/test_bench_output.py) so the regression class stays dead.
LINE_BUDGET = 1500


def compose_output(
    timings: dict,
    errors: dict,
    sf_dir: str,
    run_facts: dict | None = None,
    layers: dict[str, dict] | None = None,
) -> tuple[str, dict]:
    """(compact stdout line, full detail dict). The line carries
    totals + the 10 slowest queries (2 dp); the full per-query map and
    the per-query ``layers`` rows go to the detail sidecar/stderr.
    ``run_facts`` (cpus, master, host, load) rides both, and so do the
    CPU totals summed over ``layers`` (``cpu_sec`` from ``cpu_s``,
    ``jvm_cpu_sec`` from ``jvm.executor_cpu_s``). If the line would
    exceed LINE_BUDGET the query map is dropped entirely rather than
    ever overflowing the driver's capture window."""
    total = round(sum(t for t in timings.values() if isinstance(t, (int, float))), 4)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    totals = {}
    for out_key, layer_key in (("cpu_sec", "cpu_s"), ("jvm_cpu_sec", "jvm.executor_cpu_s")):
        vals = [row[layer_key] for row in (layers or {}).values() if row[layer_key] is not None]
        if vals:
            totals[out_key] = round(sum(vals), 2)
    detail = {
        "metric": "headline_query_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        **(run_facts or {}),
        **totals,
    }
    if errors:
        detail["errors"] = errors
    if layers:
        detail["layers"] = layers
    slowest = dict(
        sorted(
            ((k, round(v, 2)) for k, v in timings.items() if isinstance(v, (int, float))),
            key=lambda kv: -kv[1],
        )[:10]
    )
    payload = {
        "metric": "headline_query_suite_total",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "detail": "BENCH_DETAIL.json",
        **(run_facts or {}),
        **totals,
    }
    line = json.dumps(payload)
    if len(line) > LINE_BUDGET:  # drop the map rather than overflow
        payload["queries"] = {}
        line = json.dumps(payload)
    return line, detail


if __name__ == "__main__":
    try:
        main()
    except Exception as exc:  # noqa: BLE001 — always emit the JSON line
        print(
            json.dumps(
                {
                    "metric": "headline_query_suite_total",
                    "value": None,
                    "unit": "sec",
                    "queries": {},
                    "error": f"{type(exc).__name__}: {exc}"[:500],
                }
            )
        )
        sys.exit(1)
