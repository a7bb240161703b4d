"""Persisted MinHash signature index (operators/dedup.py): build once,
probe each ingest batch against it."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.operators import dedup
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table

from .conftest import SF_SMOKE


def test_signature_index_probe_and_append(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    idx = str(tmp_path / "sigs")
    dedup.signature_index_persist(corpus, idx)

    # batch 1 contains an exact copy of corpus doc 4 -> must collide
    batch1 = docs.filter(F.col("doc_id") == 4).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    pairs = dedup.incremental_lsh_pairs_from_index(
        spark, idx, dedup.minhash_signatures(batch1)
    ).collect()
    hits = {(r["new_doc"], r["corpus_doc"]): r["est_similarity"] for r in pairs}
    assert hits.get((100004, 4)) == 1.0
