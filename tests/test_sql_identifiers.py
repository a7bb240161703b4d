"""Caller-supplied column, database and table names are quoted before
they are written into generated SQL (``selectExpr`` / ``F.expr`` /
``spark.sql`` text): a name with a space, a dash or a backtick must
select that object and give the same result as an ordinary name."""

from __future__ import annotations

import contextlib

import numpy as np
from pyspark.errors import AnalysisException

from bigquery_cross_environment_etl_pipeline_spark.functions.scalar import quote_ident
from bigquery_cross_environment_etl_pipeline_spark.operators import catalog, dedup, similarity


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
    for name in ("doc id", "doc`id"):
        got = dedup.minhash_signatures(docs.withColumnRenamed("doc_id", name), id_col=name)
        assert got.columns[0] == name
        assert [tuple(r) for r in got.orderBy(quote_ident(name)).collect()] == want


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


def test_catalog_ddl_keeps_a_backtick_inside_the_name(spark):
    """A backtick in a database name must not end the quoting: dropping
    the database named ``quoting_db` CASCADE --`` must leave
    ``quoting_db`` alone. (Spark's session catalog admits only letters,
    digits and ``_`` in database names, so such a name can only be
    refused, never created.)"""
    db = "quoting_db"
    catalog.create_database(spark, db)
    try:
        with contextlib.suppress(AnalysisException):
            catalog.drop_database_cascade(spark, db + "` CASCADE --")
        assert catalog.database_exists(spark, db)
        catalog.create_billing_table(spark, db, "billing")
        assert catalog.table_exists(spark, db, "billing")
    finally:
        catalog.drop_database_cascade(spark, db)
    assert not catalog.database_exists(spark, db)
