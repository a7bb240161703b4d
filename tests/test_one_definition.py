"""One definition per shared mechanism: no two engine functions carry the
same body, every engine def is reached from a query, the ETL job or a
tool, and the persisted-index cache keys keep their exact strings (a
changed key silently orphans every warm index and stats sidecar)."""

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


#: where the engine is used from, besides its own ``@register`` builders
ENTRY_POINTS = ("bench.py", "__spark_entry__.py", "perfbench", "tools")

#: defs kept although no entry point reaches them, each with its reason
REACHABLE_BY_DESIGN = {
    "pq_encode_expr": "the reference that pq_encode is equality-tested against",
    "_rice_cost": "the reference that _best_rice is tested against",
    "stream_incremental_append": (
        "the T4/T5 foreachBatch append, the one form of the Structured "
        "Streaming incremental path"
    ),
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _flatten(stmts: list[ast.stmt]) -> list[ast.stmt]:
    """Module-level statements with top-level ``try``/``if`` blocks
    opened: a def inside them is still a module-level def."""
    out: list[ast.stmt] = []
    for stmt in stmts:
        if isinstance(stmt, ast.Try):
            handlers = [s for h in stmt.handlers for s in h.body]
            out += _flatten(stmt.body + handlers + stmt.orelse + stmt.finalbody)
        elif isinstance(stmt, ast.If):
            out.append(ast.Expr(stmt.test))
            out += _flatten(stmt.body + stmt.orelse)
        else:
            out.append(stmt)
    return out


def _names_used(nodes: list[ast.AST]) -> set[str]:
    """Every ``Name``, ``Attribute`` and string constant under ``nodes``.
    Imports bind names without using them, so they add nothing."""
    used: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                used.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                used.add(sub.attr)
            elif isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                used.add(sub.value)
    return used


def _is_builder(node: ast.stmt) -> bool:
    for dec in getattr(node, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(fn, "id", getattr(fn, "attr", None)) == "register":
            return True
    return False


def unreachable_defs(repo: Path, package: Path) -> list[str]:
    """``file:line name`` of every module-level def in ``package`` that
    nothing reaches. The roots are the ``@register`` builders, the code a
    module runs when imported, and everything ``ENTRY_POINTS`` under
    ``repo`` use; a def is live once a root or a live def uses its name.
    Computed to a fixed point, so a def reached only from dead defs is
    dead too."""
    defs: dict[str, tuple[str, set[str]]] = {}
    live: set[str] = set()
    used: set[str] = set()
    for path in sorted(package.rglob("*.py")):
        stmts = _flatten(ast.parse(path.read_text(), filename=str(path)).body)
        used |= _names_used([s for s in stmts if not isinstance(s, _DEF)])
        for node in stmts:
            if isinstance(node, _DEF):
                key = f"{path.relative_to(package)}:{node.lineno} {node.name}"
                defs[key] = (node.name, _names_used([node]))
                if _is_builder(node):
                    live.add(key)
    for entry in ENTRY_POINTS:
        top = repo / entry
        for path in [top] if top.is_file() else sorted(top.rglob("*.py")):
            used |= _names_used([ast.parse(path.read_text(), filename=str(path))])
    while True:
        for key in live:
            used |= defs[key][1]
        reached = {k for k, (name, _) in defs.items() if name in used} - live
        if not reached:
            return sorted(set(defs) - live)
        live |= reached


def test_every_engine_def_is_reachable():
    unreachable = unreachable_defs(REPO, ENGINE)
    names = {entry.split()[-1] for entry in unreachable}
    dead = [e for e in unreachable if e.split()[-1] not in REACHABLE_BY_DESIGN]
    assert not dead, "no query, trigger or tool reaches these, delete them:\n" + (
        "\n".join(dead)
    )
    kept = set(REACHABLE_BY_DESIGN) - names
    assert not kept, f"now reached, drop from REACHABLE_BY_DESIGN: {sorted(kept)}"


@pytest.mark.parametrize(
    "init",
    ["", "from .mod import planted  # noqa: F401\n"],
    ids=["unused", "reexported"],
)
def test_reachability_census_reports_planted_defs(tmp_path, init):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text(init)
    (pkg / "mod.py").write_text(
        "TABLE = _at_import()\n"
        "def _at_import(): return 1\n"
        "@register('q')\n"
        "def builder(): return used()\n"
        "def used(): return 2\n"
        "def tool_helper(): return 3\n"
        "def planted(): return _only_from_planted()\n"
        "def _only_from_planted(): return 4\n"
    )
    (tmp_path / "tools").mkdir()
    (tmp_path / "tools" / "t.py").write_text("from pkg import mod\nmod.tool_helper()\n")
    assert unreachable_defs(tmp_path, pkg) == [
        "mod.py:7 planted",
        "mod.py:8 _only_from_planted",
    ]


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
