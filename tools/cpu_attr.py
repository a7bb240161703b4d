#!/usr/bin/env python
"""Per-query CPU attribution: split the process-tree CPU of each pass
into driver / JVM / worker classes so optimization effort lands where
the cycles actually are.

The meter is ``perfbench/procstat.py``'s ``ProcessTree``, the one
bench.py uses. It classes each process by its own name: ``java`` is
jvm, ``python*`` is worker, and any other process (a shell helper the
JVM forks, say) counts under its parent's class. A worker that exits
between two snapshots has its CPU reappear in its parent's reaped-child
counters, so during worker churn the jvm/worker split is approximate
(totals stay correct); compare steady-state passes.

Usage: python tools/cpu_attr.py <query> [<query> ...] [--sf DIR] [--passes N]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"

sys.path.insert(0, os.path.join(sys.path[0], "perfbench"))

import procstat  # noqa: E402


def main() -> None:
    sf = SF_DIR
    passes = 2
    args: list[str] = []
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--sf":
            sf = next(it)
        elif a == "--passes":
            passes = int(next(it))
        elif not a.startswith("--"):
            args.append(a)

    from bigquery_cross_environment_etl_pipeline_spark import queries_catalog
    from bigquery_cross_environment_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="cpu_attr")
    queries = queries_catalog.spark_queries()
    spark.read.parquet(os.path.join(sf, "region.parquet")).count()

    tree = procstat.ProcessTree()
    for name in args:
        fn = queries[name]
        for p in range(passes):
            spark.sparkContext.setJobDescription(f"cpu_attr:{name}:{p}")
            c0 = tree.cpu()
            t0 = time.perf_counter()
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            c1 = tree.cpu()
            d = {k: c1[k] - c0[k] for k in c1}
            print(
                f"{name} pass{p}: wall={wall:6.2f}s "
                f"driver={d['driver']:6.2f} jvm={d['jvm']:7.2f} "
                f"worker={d['worker']:7.2f} total={d['total']:7.2f}",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
