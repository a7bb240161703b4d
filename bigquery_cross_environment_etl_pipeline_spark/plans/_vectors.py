"""Embedding access shared by the vector and index plan families
(plans/llm.py, plans/extended.py): the eligible-corpus load and the two
driver-side fetches of stored vectors that queries bake into their
plans as literals. One definition each, so the families cannot drift
on eligibility, and a change to how vectors reach the plan has one
place to go. Registers no query, so importing it never moves the
catalog order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity
from ..sources.registry import load_table


def _load_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings corpus under the vector-eligibility contract
    (similarity.embedding_eligible): NULL / non-finite / zero-norm
    vectors are excluded at the LOAD of every vector-math query, so
    candidate, verify, and serve stages all see the same corpus and no
    undefined cosine can enter any plan. Queries that only touch ids
    or row counts (e.g. contrastive_negative_samples) load unfiltered
    on purpose."""
    return similarity.eligible_embeddings(
        load_table(spark, sf_dir, "embeddings")
    )


def _query_vector(emb: DataFrame, vec_id: int) -> list[float]:
    """The stored vector ``vec_id`` of ``emb`` (one Spark job)."""
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").first()
    return [float(x) for x in row[0]]


def _first_vectors(emb: DataFrame, n: int) -> list[tuple[int, list[float]]]:
    """``(vec_id, vector)`` for every row of ``emb`` with ``vec_id < n``,
    in id order (one Spark job) — the seed codebooks and query batches
    of the IVF and PQ queries."""
    rows = emb.filter(F.col("vec_id") < n).select("vec_id", "embedding").collect()
    return sorted((int(r[0]), [float(x) for x in r[1]]) for r in rows)
