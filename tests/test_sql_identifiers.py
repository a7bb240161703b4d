"""Caller-supplied column names are quoted before they are written into
generated SQL (``selectExpr`` / ``F.expr`` text): a name with a space
or a dash must select that column and give the same result as an
ordinary name."""

from __future__ import annotations

import numpy as np

from bigquery_cross_environment_etl_pipeline_spark.functions.scalar import quote_ident
from bigquery_cross_environment_etl_pipeline_spark.operators import dedup, similarity


def test_quote_ident_doubles_embedded_backticks():
    assert quote_ident("doc_id") == "`doc_id`"
    assert quote_ident("doc id") == "`doc id`"
    assert quote_ident("a`b") == "`a``b`"


def test_minhash_signatures_takes_any_id_column_name(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, "too short")],
        "doc_id long, text string",
    )
    want = [tuple(r) for r in dedup.minhash_signatures(docs).orderBy("doc_id").collect()]
    got = dedup.minhash_signatures(docs.withColumnRenamed("doc_id", "doc id"), id_col="doc id")
    assert got.columns[0] == "doc id"
    assert [tuple(r) for r in got.orderBy("doc id").collect()] == want


def test_vector_expressions_take_any_vector_column_name(spark):
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.uniform(-1, 1, similarity.DIM)]) for i in range(4)]
    plain = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def project(df, col):
        return [
            tuple(r)
            for r in df.select(
                "vec_id",
                similarity.jl_project(col).alias("p"),
                similarity.lsh_bucket_expr(col, n_planes=4).alias("b"),
            ).orderBy("vec_id").collect()
        ]

    want = project(plain, "embedding")
    assert project(plain.withColumnRenamed("embedding", "emb-v"), "emb-v") == want
