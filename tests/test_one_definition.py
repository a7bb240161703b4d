"""One definition per shared mechanism: no two engine functions carry the
same body, and the persisted-index cache keys keep their exact strings
(a changed key silently orphans every warm index and stats sidecar)."""

from __future__ import annotations

import ast
import os
from collections import defaultdict
from pathlib import Path

import pytest

from bigquery_cross_environment_etl_pipeline_spark.operators import stats
from bigquery_cross_environment_etl_pipeline_spark.plans import extended, llm

REPO = Path(__file__).resolve().parents[1]
ENGINE = REPO / "bigquery_cross_environment_etl_pipeline_spark"

#: bodies below this many AST nodes (one-line delegations, trivial
#: accessors) may repeat; anything larger is logic that must live once
MIN_NODES = 25


def _body_without_docstring(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> list[ast.stmt]:
    body = fn.body
    first = body[0] if body else None
    if (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Constant)
        and isinstance(first.value.value, str)
    ):
        body = body[1:]
    return body


def duplicate_bodies(root: Path) -> list[list[str]]:
    """Groups of ``file:line name`` whose function bodies (docstrings
    dropped) dump to the same AST, for bodies of ``MIN_NODES`` or more."""
    groups: dict[str, list[str]] = defaultdict(list)
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = _body_without_docstring(node)
            size = sum(1 for stmt in body for _ in ast.walk(stmt))
            if size < MIN_NODES:
                continue
            key = "\n".join(ast.dump(stmt) for stmt in body)
            groups[key].append(f"{path.relative_to(root)}:{node.lineno} {node.name}")
    return sorted(g for g in groups.values() if len(g) > 1)


def test_no_two_engine_functions_share_a_body():
    dupes = duplicate_bodies(ENGINE)
    assert not dupes, "identical function bodies, merge them:\n" + "\n".join(
        " = ".join(g) for g in dupes
    )


@pytest.fixture
def dataset(tmp_path):
    """A dataset dir whose fingerprints are fixed: dataset_fingerprint
    reads file names, sizes and mtimes only."""
    sf = tmp_path / "sf_pin"
    sf.mkdir()
    for i, table in enumerate(("documents", "embeddings", "events")):
        p = sf / f"{table}.parquet"
        p.write_bytes(b"x" * (10 + i))
        os.utime(p, ns=(1_700_000_000_000_000_000,) * 2)
    return str(sf)


def test_index_cache_keys_are_pinned(dataset, tmp_path, monkeypatch):
    base = tmp_path / "idx"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(base))
    want = {
        "ivf": f"{base}/ivf_v4_sf_pin_3e61cecba0_c8_r0",
        "ivf_kmeans": f"{base}/ivf_v4_sf_pin_3e61cecba0_c8_r2",
        "bm25": f"{base}/bm25_v1_sf_pin_2970d0fcff",
        "bm25incr": f"{base}/bm25incr_v1_sf_pin_2970d0fcff",
        "sigs": f"{base}/sigs_v1_sf_pin_2970d0fcff",
    }
    # plant each index's completion marker at the pinned key: the
    # index functions then return the key without building (and without Spark,
    # so a drifted key fails fast on the missing session)
    for name, marker in (
        ("ivf", "centroids/_SUCCESS"),
        ("ivf_kmeans", "centroids/_SUCCESS"),
        ("bm25", "stats/_SUCCESS"),
        ("bm25incr", None),  # the renamed-into-place directory itself
        ("sigs", "_SUCCESS"),
    ):
        index = Path(want[name])
        index.mkdir(parents=True)
        if marker:
            (index / marker).parent.mkdir(exist_ok=True)
            (index / marker).touch()
    assert extended._ivf_index(None, dataset) == want["ivf"]
    assert extended._ivf_index(None, dataset, refine_iters=2) == want["ivf_kmeans"]
    assert llm._bm25_index(None, dataset) == want["bm25"]
    assert llm._bm25_incr_index(None, dataset) == want["bm25incr"]
    assert llm._sig_index(None, dataset) == want["sigs"]
    assert stats._stats_path(dataset, "events") == (
        f"{base}/stats_v1_sf_pin_events_ccc9d1b0fe.json"
    )

    # unset, the caches live in .indexes at the root of the checkout
    monkeypatch.delenv("SPARK_GRAFT_INDEX_DIR")
    assert stats._stats_path(dataset, "events") == (
        f"{REPO}/.indexes/stats_v1_sf_pin_events_ccc9d1b0fe.json"
    )
