"""Named query catalog: the SURVEY.md §2 operator inventory materialized
as (spark_query, oracle_sql) pairs over the driver test tables.

Conventions that keep the driver's hash-compare honest:
- every computed column is aliased identically in Spark and SQL;
- timestamp outputs are rendered as strings with explicit 6-digit
  fractional seconds on BOTH sides (dodges tz/precision drift);
- money aggregates are computed in DECIMAL (exact in both engines,
  independent of summation order), then rounded and cast to double.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.registry import load_table

# Incremental window used by the flagship / extract queries (events span
# 2024-01-01 .. 2024-01-31 at every sf — TESTDATA.md).
WINDOW_START = "2024-01-10 00:00:00"
WINDOW_END = "2024-01-20 00:00:00"

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def _fmt_ts(col: str, alias: str) -> F.Column:
    return F.date_format(col, TS_FMT_SPARK).alias(alias)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental extract: events in [watermark, now) — S1/P4."""
    from .operators.extract import window_scan

    events = load_table(spark, sf_dir, "events")
    return window_scan(events, "ts", WINDOW_START, WINDOW_END)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

_SPARK: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLE: dict[str, str] = {}

#: Driver-checked-set rotation (round-5 redesign, per round-4 VERDICT
#: item 2): the correctness driver hash-checks the FIRST ~50 entries
#: of queries() (dict insertion order), so the window is now COMPUTED
#: from rotation_ledger.json (regenerated each round by
#: tools/update_ledger.py from the CORRECTNESS_r*.json records)
#: instead of a hand-edited list.  Ordering policy (_window_order):
#:   1. _FORCE_WINDOW — queries added or semantically modified THIS
#:      round, whose prior green rows (if any) no longer attest the
#:      current code; hand-curated, reset each round.
#:   2. oracle-bearing queries with NO green hash row in any round,
#:      in _STABLE_ORDER position (never-green first).
#:   3. oracle-bearing greens, least-recently-green round first —
#:      so old evidence is refreshed once the backlog clears.
#:   4. declared rows-only queries (sketches / engine-seeded samples)
#:      last: their driver check is weaker, so window slots go to
#:      hash-checkable queries first.
#: tests/test_rotation_policy.py asserts the liveness bound: every
#: oracle-bearing query enters the 50-slot window within
#: ceil(catalog/50) simulated rounds from any ledger state.
#:
#: _STABLE_ORDER is ONLY a deterministic tiebreak (it fixes docs /
#: listing order and keeps the round-4 extension block at the head of
#: the never-green section); membership is optional — unlisted
#: queries follow in registration order.
_FORCE_WINDOW: list[str] = [
    # round 12 — VERDICT r11 item 4: the three queries round 11
    # touched semantically but externally attested only through the
    # sf0.001 pytest parity replay, now rotated into the driver's
    # sf0.01 hash window:
    "excess_shippers_q20",  # r11 aggregation-order rewrite (phase 5)
    "dedup_recall_precision",  # r11 repartition composition
    "simhash_recall_precision",  # r11 checkpoint+repartition composition
    # touched THIS round (VERDICT r11 item 5): the symbol-spacing
    # expression moved from a per-char capture regex to split/join
    # (value-identical; tests pin it) — the driver hash re-attests
    # training AND application on the new expression
    "bpe_token_counts",
    # the checkpoint log is now written and read on the driver (pyarrow
    # files committed by rename) and the job's watermark comes from the
    # load's observe() pass: the protocol queries re-attest the new
    # path on a vanilla session (INT96 default writer)
    "etl_checkpoint_roundtrip",
    "etl_protocol_edge_cases",
    "etl_retry_envelope",
]

_STABLE_ORDER = [
    # §2 ETL surface: scans, watermark, checkpoint, config, joins,
    # pubsub decode, load accounting, pagination, SQL passthrough,
    # upsert, transform hook, protocol round-trip, retry, status
    "incremental_window_scan",
    "window_count_scan",
    "watermark_max_ts",
    "checkpoint_latest_success",
    "config_point_lookup",
    "broadcast_lookup_join",
    "existence_semi_join",
    "pubsub_decode_roundtrip",
    "load_verdict_accounting",
    "iso_json_boundary",
    "sql_passthrough_rollup",
    "merge_upsert_config",
    "pandas_udf_transform_hook",
    "etl_checkpoint_roundtrip",
    "etl_retry_envelope",
    "config_update_values",
    "step_status_progression",
    "load_observed_metrics",
    "load_time_travel_counts",
    "retention_purge_accounting",
    "schema_evolution_union",
    # analytics extensions
    "sessionization_gap30m",
    "range_join_events_5min",
    "asof_join_latest_order",
    "pricing_summary_q1",
    "etl_provision_rollback",
    "streaming_windowed_counts",
    "streaming_cdc_upsert_snapshot",
    "cdc_apply_changes_snapshot",
    "hierarchy_subtree_rollup",
    "udtf_ngram_explode",
    "pandas_udaf_grouped_cents",
    # LLM-data-pipeline ops: dedup, similarity/ANN, text, multimodal
    "dedup_exact_stats",
    "dedup_minhash_lsh_pairs",
    "dedup_minhash_clusters",
    "dedup_lsh_jaccard_verified",
    "dedup_incremental_new_batch",
    "dedup_levenshtein_verified",
    "corpus_dup_ngram_fraction",
    "embedding_cosine_topk",
    "embedding_cosine_neardup",
    "embedding_cosine_clusters",
    "embedding_pq_codes",
    "ann_topk_ivf",
    "ann_topk_lsh",
    "tfidf_style_weights",
    "text_quality_scores",
    "text_repetition_quality",
    "multimodal_features_arrow",
    "corpus_token_budget_curation",
    # round-4 extension block (never driver-checked before round 5)
    "forecast_revenue_change_q6",
    "important_part_revenue_q11",
    "disjunctive_revenue_q19",
    "vocab_oov_rate",
    "embedding_knn_graph",
    "deterministic_split_assignment",
    "corpus_source_report",
    "corpus_span_dedup",
    "streaming_topk_trending",
    "contrastive_negative_samples",
    "incremental_agg_maintenance",
    "backfill_window_accounting",
    "multimodal_payload_dedup",
    "daily_count_anomaly_zscore",
    "keyset_pagination_page",
    "ann_topk_pq_adc",
    "streaming_stateful_user_totals",
    "embedding_label_centroids",
    "embedding_quantize_int8",
    "funnel_signup_click_purchase",
    "attribution_last_touch",
    "snapshot_diff_accounting",
    "histogram_quantile_sketch",
    "text_pii_redaction",
    "multimodal_resize_plumbing",
    "multimodal_frame_sample",
    "nation_trade_triangles",
    "retention_cohorts",
    "quality_weighted_sample",
    "small_order_revenue_q17",
    "top_supplier_revenue_q15",
    "cheapest_line_supplier_q2",
    "nation_year_profit_q9",
    "customer_order_distribution_q13",
    "part_supplier_variety_q16",
    "excess_shippers_q20",
    # round-4 VERDICT item 4: the IVF serving forms rank ahead of the
    # remaining never-green overflow so the complete IVF-PQ serving
    # stack earns external evidence in round 5
    "ann_topk_ivf_probe",
    "ann_batch_topk_ivf",
    "ann_topk_ivf_kmeans",
    # pre-round-4 evictions (hash-green r1-r3; the ledger, not this
    # list, decides when they re-enter the window)
    "watermark_epoch_default",
    "existence_anti_join",
    "scalar_name_mangling",
    "json_serialize_records",
    "paginated_scan_page3",
    "dedup_cluster_keep_best",
    "dedup_simhash_near_pairs",
    "embedding_batch_topk",
    "text_token_counts",
    "text_langid_ngram",
    "text_safety_flags",
    "doc_fingerprints",
    "doc_rolling_hash",
    "token_topk",
    "deterministic_mixture_sample",
    "moving_1h_value_sum",
    "array_functions_user_types",
]


def _load_ledger() -> dict:
    """Driver-green history written by tools/update_ledger.py."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "rotation_ledger.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {"green": {}, "rows_only": {}, "rounds_scanned": []}


def _stable_rank(names: list[str]) -> dict[str, tuple[int, int]]:
    """Deterministic tiebreak: _STABLE_ORDER position, then
    registration order for unlisted names."""
    listed = {n: i for i, n in enumerate(_STABLE_ORDER)}
    return {
        n: ((0, listed[n]) if n in listed else (1, i))
        for i, n in enumerate(names)
    }


def _window_order(
    names: list[str],
    oracle_names: set[str],
    ledger: dict | None = None,
    force: list[str] | None = None,
) -> list[str]:
    """Order the catalog so the driver's ~50-entry check window earns
    the most external evidence: force-recheck first, then never-green
    oracle-bearing queries, then greens least-recently-green first,
    then declared rows-only queries last.

    ``force`` defaults to _FORCE_WINDOW; the rotation-liveness
    simulation passes its own (first-round-only) list because the
    real force list is reset every round, so a multi-round simulation
    that froze it would overstate the slots force entries consume."""
    ledger = ledger if ledger is not None else _load_ledger()
    force = _FORCE_WINDOW if force is None else force
    green: dict[str, list] = ledger.get("green", {})
    rows_only: dict[str, list] = ledger.get("rows_only", {})
    rank = _stable_rank(names)

    def key(n: str):
        if n in force:
            return (0, force.index(n), (0, 0))
        if n not in oracle_names:
            # rows-only queries last, but never-checked ones first
            # within the section so each earns its (weaker) driver
            # rows-count row at least once
            checked = rows_only.get(n)
            return (3, max(checked) if checked else 0, rank[n])
        rounds = green.get(n)
        if not rounds:
            return (1, 0, rank[n])
        return (2, max(rounds), rank[n])

    return sorted(names, key=key)


def _ordered(d: dict) -> dict:
    _load_all()
    order = _window_order(list(_SPARK), set(_ORACLE))
    head = {k: d[k] for k in order if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def register(name: str, oracle: str | None = None):
    """Register a (spark, oracle) pair under a catalog-unique name.

    Duplicate names raise at import time (round-11 guard): a second
    registration used to silently overwrite the first in the dict,
    leaving ~27 lines of dead-but-plausible code behind (the r10
    ``benchmark_decontamination`` shadowing) — structurally
    impossible now."""

    def deco(fn):
        if name in _SPARK:
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(first: {_SPARK[name].__module__}.{_SPARK[name].__qualname__}, "
                f"second: {fn.__module__}.{fn.__qualname__})"
            )
        _SPARK[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        return fn

    return deco


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return _ordered(_SPARK)


def oracle_queries() -> dict[str, str]:
    _load_all()
    return _ordered(_ORACLE)


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from .plans import (  # noqa: F401
        analytics,
        decision_support,
        etl,
        extended,
        graph,
        llm,
        nested,
    )

    _LOADED = True
