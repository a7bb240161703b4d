"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

1. The ETL destination check must fail on a destination where one tenant
   window was loaded twice under two batch ids: the duplicate a crash
   between the load and the SUCCESS checkpoint leaves behind when the
   re-run picks a new ``now``. It must also fail on a missing window, and
   pass on a correct destination.
2. The metric names and units in ``BENCHMARK.json`` match ``run.py``.
3. Without the engine next to ``perfbench/``, ``run.py`` exits non-zero
   and prints no result.
4. A benchmark run leaves the checkout as it found it: ``git status``,
   ignored files included, is unchanged (only in a git checkout), and no
   run directory is left under ``.perfbench/``.

Exits 0 when every test passes.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _write_window(dest: str, batch_id: str, table) -> None:
    import pyarrow.parquet as pq

    part = os.path.join(dest, f"_batch_id={batch_id}")
    os.makedirs(part)
    pq.write_table(table, os.path.join(part, "part-00000.parquet"))


def test_duplicate_window_is_caught(tmp: str) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from checks import check_destination

    start = dt.datetime(2024, 1, 1)
    ts = [start + dt.timedelta(hours=h) for h in range(48)]
    source = pa.table({"event_id": list(range(48)), "ts": pa.array(ts, pa.timestamp("ns")),
                       "user_id": [i % 2 for i in range(48)]})
    src_path = os.path.join(tmp, "events.parquet")
    pq.write_table(source, src_path)
    mine = source.filter(pa.compute.equal(source["user_id"], 0))
    first, second = mine.slice(0, 12), mine.slice(12, 12)
    wm = ts[-2] + dt.timedelta(microseconds=1)  # last row of tenant 0
    args = (src_path, "user_id % 2 = 0")

    cases = {"correct": [("a", first), ("b", second)],
             "window loaded twice": [("a", first), ("b", second), ("b-rerun", second)],
             "window missing": [("a", first)]}
    with duckdb.connect() as con:
        for label, windows in cases.items():
            dest = os.path.join(tmp, label.replace(" ", "_"))
            for batch_id, table in windows:
                _write_window(dest, batch_id, table)
            problems = check_destination(con, *args, dest, "ts", ("event_id",), wm)
            if label == "correct" and problems:
                raise AssertionError(f"correct destination flagged: {problems}")
            if label != "correct" and not problems:
                raise AssertionError(f"{label}: not caught")
            print(f"ok  destination check, {label}: {problems or 'passes'}")


def test_benchmark_json_matches_run() -> None:
    import run

    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for section, code in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[section]}
        if declared != code:
            raise AssertionError(f"{section}: BENCHMARK.json {declared} != run.py {code}")
    print("ok  BENCHMARK.json metrics match run.py")


def _run_bench(cwd: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONDONTWRITEBYTECODE"] = "1"  # bytecode caches are not the run's output
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_incremental",
         "--seed", "1", "--seconds", "2", "--trace", "0"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )


def test_fails_without_engine(tmp: str) -> None:
    bare = os.path.join(tmp, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), bare)
    res = _run_bench(bare)
    if res.returncode == 0 or '"correct"' in res.stdout:
        raise AssertionError(f"bare directory: exit {res.returncode}, stdout {res.stdout!r}")
    print(f"ok  without the engine: exit {res.returncode}, no result")


def test_run_leaves_tree_clean() -> None:
    git = shutil.which("git")
    if git is None or not os.path.isdir(os.path.join(CHECKOUT, ".git")):
        print("skip  clean-tree test: not a git checkout")
        return
    # --ignored: the index cache, warehouse, metastore, derby.log and
    # .perfbench/ are all in .gitignore, and a leak would land there
    status = lambda: subprocess.run(
        [git, "status", "--porcelain", "--ignored", "--untracked-files=all"],
        cwd=CHECKOUT, capture_output=True, text=True, check=True,
    ).stdout
    before = status()
    res = _run_bench(CHECKOUT)
    if res.returncode != 0:
        raise AssertionError(f"benchmark run failed: {res.stdout[-2000:]}{res.stderr[-2000:]}")
    after = status()
    if after != before:
        raise AssertionError(f"git status changed:\n{before}---\n{after}")
    left = glob.glob(os.path.join(CHECKOUT, ".perfbench", "run-*"))
    if left:
        raise AssertionError(f"run directories left behind: {left}")
    print("ok  a benchmark run leaves git status, ignored files included, unchanged")


def main() -> int:
    tmp = os.path.join(CHECKOUT, ".perfbench", f"selftest-{os.getpid()}")
    os.makedirs(tmp)
    try:
        test_duplicate_window_is_caught(tmp)
        test_benchmark_json_matches_run()
        test_fails_without_engine(tmp)
        test_run_leaves_tree_clean()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
