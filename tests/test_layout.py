"""Data layout: the Z-order key on degenerate input, compaction that
keeps range clustering, and bucketed tables that join without a
shuffle."""

from __future__ import annotations


def test_zorder_key_tolerates_empty_and_all_null_input(spark):
    """Empty or all-null inputs produce None min/max bounds; the key
    must degrade to rank 0 instead of raising TypeError."""
    from bigquery_cross_environment_etl_pipeline_spark.operators.layout import zorder_key

    empty = spark.createDataFrame([], "a double, b double")
    assert empty.withColumn("_z", zorder_key(empty, ["a", "b"])).count() == 0

    nulls = spark.createDataFrame([(None, None)] * 5, "a double, b double")
    keyed = nulls.withColumn("_z", zorder_key(nulls, ["a", "b"])).collect()
    assert [r["_z"] for r in keyed] == [0] * 5


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    from bigquery_cross_environment_etl_pipeline_spark.operators.layout import (
        compact,
    )
    from bigquery_cross_environment_etl_pipeline_spark.sources.registry import (
        load_table,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    frag = str(tmp_path / "frag")
    events.repartition(40).write.parquet(frag)  # simulate per-trigger files
    dest = str(tmp_path / "compact")
    before, after = compact(spark, frag, dest, target_files=4, sort_cols=["ts"])
    assert before >= 40 and after == 4
    assert spark.read.parquet(dest).count() == events.count()
    # range clustering preserved: per-file ts ranges must not all overlap
    import pyarrow.parquet as pq

    bounds = []
    for f in spark.read.parquet(dest).inputFiles():
        md = pq.ParquetFile(f.replace("file:", "")).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        stats = md.row_group(0).column(cols["ts"]).statistics
        bounds.append((stats.min, stats.max))
    bounds.sort()
    overlaps = sum(
        1 for (a, b), (c, d) in zip(bounds, bounds[1:]) if c < b
    )
    assert overlaps == 0, f"range clustering lost: {bounds}"


def test_bucketed_join_plans_zero_exchange(spark):
    """Two tables bucketed on the same key/count must sort-merge join
    with ZERO exchanges — the co-located join that makes repeated
    fact-fact joins shuffle-free at scale."""
    from bigquery_cross_environment_etl_pipeline_spark.operators.layout import (
        write_bucketed,
    )
    from bigquery_cross_environment_etl_pipeline_spark.sources.registry import (
        load_table,
    )
    from .conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], 4)
    write_bucketed(li, "t_lineitem_b", ["l_orderkey"], 4)
    try:
        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, a.o_orderkey == b.l_orderkey)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            # results identical to the unbucketed join
            assert joined.count() == (
                orders.join(li, orders.o_orderkey == li.l_orderkey).count()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_bucketed_append_keeps_colocation(spark):
    """mode='append' ingest into a bucketed table must preserve the
    zero-exchange join property — the bucket function is stable, so
    appended files land in the right buckets."""
    from bigquery_cross_environment_etl_pipeline_spark.operators.layout import (
        write_bucketed,
    )
    from bigquery_cross_environment_etl_pipeline_spark.sources.registry import (
        load_table,
    )
    from .conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    half_a = orders.filter(orders.o_orderkey % 2 == 0)
    half_b = orders.filter(orders.o_orderkey % 2 == 1)
    write_bucketed(half_a, "t_orders_app", ["o_orderkey"], 4)
    write_bucketed(half_b, "t_orders_app", ["o_orderkey"], 4, mode="append")
    write_bucketed(li, "t_li_app", ["l_orderkey"], 4)
    try:
        a = spark.table("t_orders_app")
        b = spark.table("t_li_app")
        assert a.count() == orders.count()
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, a.o_orderkey == b.l_orderkey)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == orders.join(
                li, orders.o_orderkey == li.l_orderkey
            ).count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_app")
        spark.sql("DROP TABLE IF EXISTS t_li_app")
