#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}
which also carries the run's ``cpus``, ``master``, ``host`` and ``load``.

Each query executes to completion through the noop sink (full plan runs,
no driver-side result transfer skewing the numbers), twice; its time is
the faster pass, since the first pays one-time codegen compilation.

Measurement uses perfbench's /proc meters (perfbench/procstat.py):

- Load: a ``DisturbanceSampler`` runs across the whole query loop and
  reports hypervisor steal and the mean run-queue length. The run is
  ``loaded`` when steal reached perfbench's ``STEAL_LIMIT_PCT``; no spin
  loop and no per-host constant is involved.
- CPU: every pass records the process-tree CPU (``ProcessTree``: total
  and worker-python) and per-stage executorCpuTime. Co-tenant load
  inflates wall clock but barely moves CPU, so these channels are the
  regression signal, judged against BENCH_CPU_REF.json. That reference
  is per host: ``--write-cpu-ref`` mints it stamped with
  ``procstat.host_facts()``. A reference that is absent or stamped for
  another host turns the detector off, and BENCH_DETAIL.json records
  why as ``cpu_ref_skipped``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "perfbench"))

import procstat  # noqa: E402
from workloads import STEAL_LIMIT_PCT  # noqa: E402

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


# ---------------------------------------------------------------------------
# CPU-time channel (VERDICT r10 item 1): co-tenant load inflates wall
# clock but barely moves CPU, so CPU is the channel the round-over-round
# regression comparison trusts. Two meters:
#   - cpu_sec / py_cpu_sec: ``procstat.ProcessTree`` — CPU of the WHOLE
#     PROCESS TREE rooted at this driver (JVM + pyspark daemon/workers +
#     driver python) and its worker-python share, read from /proc —
#     covers the Python codec stages executorCpuTime cannot see.
#     Linux-only; degrades to absent elsewhere.
#   - jvm_cpu_sec: per-stage executorCpuTime from the AppStatusStore,
#     summed over the stages each pass submitted (stage-id floor per
#     pass, so retained-stage eviction of OLD stages can never make a
#     delta negative). JVM task CPU only — the whole-stage-codegen
#     view of the same pass.
# ---------------------------------------------------------------------------

#: CPU ratio above which a query is flagged against the CPU reference.
#: CPU needs no load headroom — 1.5x the reference CPU is a real
#: plan/code change, not a busy box (frequency scaling + SMT contention
#: stay well under it).
CPU_REGRESSION_RATIO = 1.5
CPU_REF_PATH = os.path.join(HERE, "BENCH_CPU_REF.json")


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


class JvmCpuMeter:
    """Per-pass executor CPU from Spark's AppStatusStore, read over
    py4j (local mode: same JVM). ``mark()`` records the current max
    stage id; ``read()`` sums executorCpuTime over stages submitted
    since the mark, draining the listener bus first so asynchronous
    metric aggregation cannot undercount a just-finished pass. Any
    py4j surface change degrades the meter to None results — the
    bench must never die on a metrics probe."""

    def __init__(self, spark) -> None:
        try:
            sc = spark.sparkContext
            self._store = sc._jsc.sc().statusStore()
            self._bus = sc._jsc.sc().listenerBus()
            self._jvm = sc._jvm
            self._gw = sc._gateway
            self._stages()  # probe the 5-arg stageList signature now
            self._ok = True
        except Exception:  # noqa: BLE001 — probe, not control flow
            self._ok = False
        self._floor = -1

    def _stages(self):
        empty = self._jvm.java.util.ArrayList()
        quantiles = self._gw.new_array(self._jvm.double, 0)
        return self._store.stageList(
            empty, False, False, quantiles, self._jvm.java.util.ArrayList()
        )

    def mark(self) -> None:
        if not self._ok:
            return
        try:
            self._bus.waitUntilEmpty()
            stages = self._stages()
            self._floor = max(
                [stages.apply(i).stageId() for i in range(stages.size())],
                default=-1,
            )
        except Exception:  # noqa: BLE001
            self._ok = False

    def read(self) -> float | None:
        """CPU seconds of all stages with id > the last mark()."""
        if not self._ok:
            return None
        try:
            self._bus.waitUntilEmpty()
            stages = self._stages()
            ns = sum(
                stages.apply(i).executorCpuTime()
                for i in range(stages.size())
                if stages.apply(i).stageId() > self._floor
            )
            return ns / 1e9
        except Exception:  # noqa: BLE001
            self._ok = False
            return None


#: per-channel floors for arming the regression detector. Below them a
#: channel is scheduler/GC-noise-dominated — measured round 11: between
#: two back-to-back clean passes, sub-0.5s executorCpuTime references
#: moved ~1.5x and the WHOLE-TREE CPU of sub-2s pure-JVM queries moved
#: +/-1.5s (non-task GC/JIT attribution depends on what ran before),
#: while worker-python CPU and >=0.5s executor CPU stayed flat.
CPU_JVM_REF_FLOOR = 0.5
CPU_WORKER_REF_FLOOR = 0.5


def load_cpu_reference(
    host: dict | None, path: str = CPU_REF_PATH
) -> tuple[dict[str, float], dict[str, float], str | None]:
    """Per-query (JVM executor CPU, worker-python CPU) from the
    reference ``--write-cpu-ref`` minted, and why it was skipped (None
    when it applies). A reference judges only the sf dir and the host
    it was minted on — CPU seconds from another machine are not
    comparable — so one whose ``host`` stamp differs from ``host`` is
    ignored. It CAN be minted on a loaded box: load-robustness is the
    whole point of the channel."""
    try:
        with open(path) as fh:
            d = json.load(fh)
    except OSError:
        return {}, {}, "no reference"
    except ValueError:
        return {}, {}, "unreadable"
    if d.get("sf_dir") != SF_DIR:
        return {}, {}, "other sf"
    if host is None or d.get("host") != host:
        return {}, {}, "host mismatch"

    def clean(key: str) -> dict[str, float]:
        return {
            k: float(v)
            for k, v in d.get(key, {}).items()
            if isinstance(v, (int, float)) and v > 0
        }

    return clean("jvm_cpu_queries"), clean("py_cpu_queries"), None


def cpu_regressions(
    jvm_cpu_timings: dict[str, float],
    jvm_cpu_ref: dict[str, float],
    py_cpu_timings: dict[str, float],
    py_cpu_ref: dict[str, float],
) -> dict[str, float]:
    """Queries whose measured CPU exceeds CPU_REGRESSION_RATIO x the
    reference on a channel that is STABLE for that query — never
    relabeled as load (task/worker CPU barely moves with load), so
    these are regression candidates unconditionally.

    Two direct channels (round-11 refinement — a single process-tree
    ratio false-flagged small queries whose non-task GC/JIT share
    wobbled between clean passes):
      - JVM channel: per-stage executorCpuTime (task work only);
      - Python channel: worker-python CPU measured directly from the
        process tree (pyspark daemons/workers) — actual Python work,
        never the JVM's own remainder.
    Each arms above its noise floor."""
    out = {}
    for name in set(jvm_cpu_ref) | set(py_cpu_ref):
        ratios = []
        jvm_got, jvm_ref = jvm_cpu_timings.get(name), jvm_cpu_ref.get(name)
        if (
            isinstance(jvm_got, (int, float))
            and isinstance(jvm_ref, (int, float))
            and jvm_ref >= CPU_JVM_REF_FLOOR
            and jvm_got > CPU_REGRESSION_RATIO * jvm_ref
        ):
            ratios.append(jvm_got / jvm_ref)
        py_got, py_ref = py_cpu_timings.get(name), py_cpu_ref.get(name)
        if (
            isinstance(py_got, (int, float))
            and isinstance(py_ref, (int, float))
            and py_ref >= CPU_WORKER_REF_FLOOR
            and py_got > CPU_REGRESSION_RATIO * py_ref
        ):
            ratios.append(py_got / py_ref)
        if ratios:
            out[name] = round(max(ratios), 2)
    return out


def main() -> None:
    from bigquery_cross_environment_etl_pipeline_spark import queries_catalog
    from bigquery_cross_environment_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="bench")
    sc = spark.sparkContext
    queries = queries_catalog.spark_queries()

    # JVM/codegen warmup on a tiny table
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()

    host = _probe(procstat.host_facts)
    jvm_cpu_ref, py_cpu_ref, cpu_ref_skipped = load_cpu_reference(host)
    tree = procstat.ProcessTree()
    jvm_meter = JvmCpuMeter(spark)
    timings: dict[str, object] = {}
    cpu_timings: dict[str, float] = {}
    jvm_cpu_timings: dict[str, float] = {}
    py_cpu_timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # two passes per query, report the min: the first pass pays one-time
    # whole-stage-codegen compilation that a long-running cluster
    # amortizes away; the min reflects steady-state throughput.
    # fault-isolated: one broken query must never zero the whole round's
    # bench signal — record its error and keep timing the rest.
    sampler = procstat.DisturbanceSampler()
    _probe(sampler.start)
    for name in BENCH_QUERIES:
        fn = queries.get(name)
        if fn is None:
            errors[name] = "not registered"
            continue

        cpu_passes: list[float] = []
        jvm_cpu_passes: list[float] = []
        py_cpu_passes: list[float] = []

        def run_once(
            fn=fn, cpu=cpu_passes, jvm_cpu=jvm_cpu_passes, py_cpu=py_cpu_passes
        ) -> float:
            jvm_meter.mark()
            c0 = _probe(tree.cpu)
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            c1 = _probe(tree.cpu)
            if c0 is not None and c1 is not None:
                # clamp at 0: process churn between snapshots can
                # still produce a slightly negative delta (ADVICE
                # r11), and a negative "min of passes" would poison
                # the reference
                cpu.append(max(0.0, c1["total"] - c0["total"]))
                py_cpu.append(max(0.0, c1["worker"] - c0["worker"]))
            j = jvm_meter.read()
            if j is not None:
                jvm_cpu.append(j)
            return wall

        try:
            timings[name] = round(min(run_once(), run_once()), 4)
            # min across passes, like wall: the first pass carries
            # one-time codegen-compile CPU a cluster amortizes away
            if cpu_passes:
                cpu_timings[name] = round(min(cpu_passes), 4)
            if jvm_cpu_passes:
                jvm_cpu_timings[name] = round(min(jvm_cpu_passes), 4)
            if py_cpu_passes:
                py_cpu_timings[name] = round(min(py_cpu_passes), 4)
        except Exception as exc:  # noqa: BLE001 — isolate per query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    run_facts = {
        "cpus": sc.defaultParallelism,
        "master": sc.master,
        "host": host,
        "load": load_block(_probe(sampler.stop)),
    }
    line, detail = compose_output(
        timings,
        errors,
        SF_DIR,
        run_facts,
        cpu_timings=cpu_timings,
        jvm_cpu_timings=jvm_cpu_timings,
        py_cpu_timings=py_cpu_timings,
        cpu_regression_candidates=cpu_regressions(
            jvm_cpu_timings, jvm_cpu_ref, py_cpu_timings, py_cpu_ref
        ),
        cpu_ref_skipped=cpu_ref_skipped,
    )
    try:
        with open(os.path.join(HERE, "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    if "--write-cpu-ref" in sys.argv:
        # the CPU reference may be minted on a LOADED box — that is
        # the channel's point — but never from a pass with errors,
        # so a broken query can't freeze a hole into the baseline
        if errors:
            print(
                f"refusing --write-cpu-ref: {len(errors)} queries errored",
                file=sys.stderr,
            )
        else:
            with open(CPU_REF_PATH, "w") as fh:
                json.dump(
                    {
                        "sf_dir": SF_DIR,
                        "host": host,
                        "jvm_cpu_queries": jvm_cpu_timings,
                        "py_cpu_queries": py_cpu_timings,
                    },
                    fh,
                    indent=1,
                )
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
    cpu_timings: dict | None = None,
    jvm_cpu_timings: dict | None = None,
    py_cpu_timings: dict | None = None,
    cpu_regression_candidates: dict | None = None,
    cpu_ref_skipped: str | None = None,
) -> tuple[str, dict]:
    """(compact stdout line, full detail dict). The line carries
    totals + the 10 slowest queries (2 dp); the full per-query map
    goes to the detail sidecar/stderr. ``run_facts`` (cpus, master,
    host, load) rides both. If the line would exceed LINE_BUDGET the
    query maps are dropped entirely rather than ever overflowing the
    driver's capture window."""
    total = round(sum(t for t in timings.values() if isinstance(t, (int, float))), 4)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    detail = {
        "metric": "headline_query_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        **(run_facts or {}),
    }
    if errors:
        detail["errors"] = errors
    if cpu_timings:
        # the load-robust channel the round-over-round comparison
        # trusts: whole-process-tree CPU (covers Python codec stages)
        # and its JVM-only executorCpuTime companion
        detail["cpu_queries"] = cpu_timings
        detail["cpu_sec"] = round(sum(cpu_timings.values()), 2)
    if jvm_cpu_timings:
        detail["jvm_cpu_queries"] = jvm_cpu_timings
        detail["jvm_cpu_sec"] = round(sum(jvm_cpu_timings.values()), 2)
    if py_cpu_timings:
        # worker-python CPU measured per process class — the detector's
        # Python channel (actual Python work, never JVM GC/JIT noise)
        detail["py_cpu_queries"] = py_cpu_timings
        detail["py_cpu_sec"] = round(sum(py_cpu_timings.values()), 2)
    if cpu_ref_skipped:
        detail["cpu_ref_skipped"] = cpu_ref_skipped
    if cpu_regression_candidates:
        detail["cpu_regression_candidates"] = cpu_regression_candidates
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
    }
    if cpu_timings:
        payload["cpu_sec"] = round(sum(cpu_timings.values()), 2)
    if jvm_cpu_timings:
        payload["jvm_cpu_sec"] = round(sum(jvm_cpu_timings.values()), 2)
    if cpu_regression_candidates:
        payload["cpu_regression_candidates"] = dict(
            sorted(cpu_regression_candidates.items(), key=lambda kv: -kv[1])[:5]
        )
        payload["n_cpu_regression_candidates"] = len(cpu_regression_candidates)
    line = json.dumps(payload)
    if len(line) > LINE_BUDGET:  # drop the maps rather than overflow
        payload["queries"] = {}
        payload.pop("cpu_regression_candidates", None)
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
