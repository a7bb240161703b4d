"""Recursive-hierarchy closure — the RECURSIVE CTE surface Spark lacks.

BigQuery/DuckDB express ancestor walks with ``WITH RECURSIVE``; Spark
has no recursive operator, so the engine provides the standard
DataFrame equivalent: ancestor-link DOUBLING. Round k joins the closure
to itself, extending every known (node, ancestor) link through the
ancestor's own links — path lengths 1..2^k after k rounds, so a
hierarchy of depth d closes in ceil(log2(d)) + 1 joins.

Scale notes: materializing a closure is O(nodes × depth) rows — the
right tool for BOUNDED-depth hierarchies (org charts, category trees,
folder structures: depth ≲ 20 even at billions of nodes), where each
doubling round is one self-join shuffle on the link key and the row
count stays ~depth × nodes. For unbounded general graphs use the
label-propagation machinery (operators/components.py) instead of a
closure. Each round ``localCheckpoint``s to keep plan depth constant
(same iterative-lineage discipline as components/pagerank/kmeans).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterative import iter_checkpoint

#: Bound on the MATERIALIZED CLOSURE size (links × horizon pairs, the
#: worst case the driver walk can produce) under which the closure is
#: walked on the driver (same hybrid design as
#: components.DRIVER_UF_MAX_EDGES). Gating on link count alone was
#: wrong: 1M links × a 32-hop horizon is up to 32M Python tuples —
#: several GB — so the gate must bound what gets BUILT, not what gets
#: collected. 10M pairs ≈ 160 MB of tuples: comfortably driver-sized.
DRIVER_CLOSURE_MAX_PAIRS = 10_000_000


def ancestor_closure(
    links: DataFrame, max_depth: int, driver_threshold: int | None = None
) -> DataFrame:
    """All (node, ancestor) pairs reachable through ``links`` (columns
    ``node``, ``parent``; proper ancestors only — no self-pairs).

    ``max_depth`` bounds the hierarchy depth; the distributed path
    converges in ``ceil(log2(max_depth)) + 1`` doubling rounds
    regardless of node count. When ``links × horizon`` — the worst-case
    materialized closure — fits under ``driver_threshold`` pairs, the
    closure is walked on the driver instead (bounded collect, bounded
    build) and returned as one DataFrame; both paths produce the
    identical pair set, including on multi-parent (DAG) link tables,
    where the driver walk is a BFS over ALL parents per node.
    """
    if driver_threshold is None:
        driver_threshold = DRIVER_CLOSURE_MAX_PAIRS
    base = iter_checkpoint(
        links.select(F.col("node"), F.col("parent").alias("anc"))
    )
    rounds = max(1, math.ceil(math.log2(max(2, max_depth))))
    # both paths close paths up to the SAME horizon (2^rounds), so an
    # underestimated max_depth truncates identically instead of the
    # result silently depending on which path the data size selects
    horizon = 2 ** rounds
    n_links = base.count()
    if n_links * horizon <= driver_threshold:
        from collections import defaultdict

        parents: dict[object, list[object]] = defaultdict(list)
        for r in base.collect():
            parents[r["node"]].append(r["anc"])
        pairs = set()
        for n in parents:
            # BFS up the DAG: frontier k holds ancestors at distance k;
            # `seen` dedups shared ancestors so reconvergent paths cost
            # one visit each (closure is reachability, not path count)
            seen: set[object] = set()
            frontier = set(parents[n])
            hops = 1
            while frontier and hops <= horizon:
                new = frontier - seen
                seen |= new
                frontier = {a for x in new for a in parents.get(x, ())}
                hops += 1
            pairs.update((n, a) for a in seen)
        spark = base.sparkSession
        from pyspark.sql.types import StructField, StructType

        t = base.schema["node"].dataType
        schema = StructType(
            [StructField("node", t, False), StructField("anc", t, False)]
        )
        from ..localrel import local_df

        return local_df(spark, sorted(pairs), schema)
    cl = base
    for _ in range(rounds):
        extended = (
            cl.alias("x")
            .join(cl.alias("y"), F.col("x.anc") == F.col("y.node"))
            .select(F.col("x.node").alias("node"), F.col("y.anc").alias("anc"))
        )
        cl = iter_checkpoint(cl.union(extended).distinct())
    return cl
