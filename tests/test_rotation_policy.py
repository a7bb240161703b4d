"""Liveness of the ledger-driven driver-window rotation.

The external driver hash-checks only the first WINDOW entries of
queries().  queries_catalog._window_order must therefore guarantee
that every oracle-bearing query reaches the window within a bounded
number of rounds, from ANY ledger state — never-green first, then
least-recently-green.  These tests simulate the driver loop (each
round, every windowed oracle-bearing query turns green) and assert
the bound, plus the structural properties of the ordering.
"""

from __future__ import annotations

import copy
import math

from bigquery_cross_environment_etl_pipeline_spark import queries_catalog as qc

WINDOW = 50


def _catalog():
    spark = qc.spark_queries()
    oracles = qc.oracle_queries()
    return list(spark), set(oracles)


def _simulate(names, oracle_names, ledger, rounds, start_round):
    """Run the driver loop: each round the first WINDOW entries of the
    computed order gain a green hash row (oracle-bearing only).
    _FORCE_WINDOW applies only to the FIRST simulated round — in the
    real loop it is reset to that round's new/modified queries, so
    later simulated rounds model it as empty rather than freezing the
    current list and overcounting the slots it consumes."""
    ledger = copy.deepcopy(ledger)
    for i, r in enumerate(range(start_round, start_round + rounds)):
        force = None if i == 0 else []
        order = qc._window_order(names, oracle_names, ledger, force=force)
        for n in order[:WINDOW]:
            if n in oracle_names:
                ledger.setdefault("green", {}).setdefault(n, []).append(r)
    return ledger


def test_window_structure_never_green_first():
    names, oracle_names = _catalog()
    ledger = qc._load_ledger()
    order = qc._window_order(names, oracle_names, ledger)
    green = set(ledger["green"])
    seen_green = False
    for n in order:
        if n in qc._FORCE_WINDOW:
            continue
        if n not in oracle_names:
            continue  # rows-only placement covered by test_rows_only_sort_last
        if n in green:
            seen_green = True
        else:
            assert not seen_green, f"never-green {n} sorted after a green query"


def test_rows_only_sort_last():
    names, oracle_names = _catalog()
    order = qc._window_order(names, oracle_names, qc._load_ledger())
    rows_only_positions = [i for i, n in enumerate(order) if n not in oracle_names]
    n_oracle = len([n for n in order if n in oracle_names])
    assert all(p >= n_oracle for p in rows_only_positions)


def test_force_window_entries_lead():
    """Every _FORCE_WINDOW entry names a registered query (a stale or
    misspelt entry would otherwise be dropped without a word) and the
    entries lead the order, in list order."""
    names, oracle_names = _catalog()
    unknown = [n for n in qc._FORCE_WINDOW if n not in names]
    assert not unknown, f"_FORCE_WINDOW entries not registered: {unknown}"
    order = qc._window_order(names, oracle_names, qc._load_ledger())
    assert order[: len(qc._FORCE_WINDOW)] == qc._FORCE_WINDOW


def test_liveness_from_empty_ledger():
    """From a cold start, every oracle-bearing query greens within
    ceil(n_oracle / WINDOW) rounds."""
    names, oracle_names = _catalog()
    bound = math.ceil(len(oracle_names) / WINDOW)
    ledger = _simulate(names, oracle_names, {"green": {}}, bound, 1)
    missing = oracle_names - set(ledger["green"])
    assert not missing, f"{len(missing)} queries never windowed: {sorted(missing)[:5]}"


def test_liveness_from_current_ledger():
    """From the committed ledger, the never-green backlog clears in at
    most 2 further rounds (the round-4 VERDICT bound)."""
    names, oracle_names = _catalog()
    ledger = qc._load_ledger()
    start = (max(ledger.get("rounds_scanned") or [0])) + 1
    ledger = _simulate(names, oracle_names, ledger, 2, start)
    missing = oracle_names - set(ledger["green"])
    assert not missing, f"never-green after 2 rounds: {sorted(missing)}"


def test_steady_state_staleness_bound():
    """Once the backlog clears, no oracle-bearing query goes more than
    ceil(n_oracle / WINDOW) rounds without a re-check."""
    names, oracle_names = _catalog()
    period = math.ceil(len(oracle_names) / WINDOW)
    ledger = _simulate(names, oracle_names, {"green": {}}, 3 * period, 1)
    last_round = 3 * period
    for n in oracle_names:
        rounds = ledger["green"][n]
        gaps = [b - a for a, b in zip(rounds, rounds[1:])]
        gaps.append(last_round + 1 - rounds[-1])
        assert max(gaps) <= period + 1, (n, rounds)


def test_ledger_keys_are_live_catalog_names():
    """VERDICT r7 item 3: a query renamed or removed after earning
    driver evidence must not keep a dead ledger key — rotation slots
    and coverage accounting must track live names only (update_ledger
    purges via build_ledger(live_names=...))."""
    names, _ = _catalog()
    ledger = qc._load_ledger()
    dead = (set(ledger.get("green", {})) | set(ledger.get("rows_only", {}))) - set(
        names
    )
    assert not dead, f"ledger keys absent from the catalog: {sorted(dead)}"


def test_register_rejects_duplicate_names():
    """VERDICT r10 item 2: a second @register under an existing name
    used to silently overwrite the first, leaving dead-but-plausible
    code behind (the r10 benchmark_decontamination shadowing).  The
    registry must refuse outright."""
    import pytest

    qc._load_all()
    existing = next(iter(qc._SPARK))
    with pytest.raises(ValueError, match="duplicate query registration"):

        @qc.register(existing)
        def shadow(spark, sf_dir):  # pragma: no cover - never called
            raise AssertionError

    # and the original registration is untouched
    assert qc._SPARK[existing].__name__ != "shadow"


def test_catalog_names_unique_and_oracle_subset():
    """225 unique names (r11: the shadowed mod-97 decontamination
    variant re-registered as contamination_overlap_counts), every
    oracle name backed by a spark callable."""
    qc._load_all()
    assert "contamination_overlap_counts" in qc._SPARK
    assert "benchmark_decontamination" in qc._SPARK
    assert set(qc._ORACLE) <= set(qc._SPARK)
