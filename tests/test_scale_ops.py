"""Scale-path operators: IVF ANN recall, salted join equivalence,
merge upsert, approximate aggregates vs exact."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.operators import similarity
from bigquery_cross_environment_etl_pipeline_spark.operators.skew import salted_join
from bigquery_cross_environment_etl_pipeline_spark.operators.upsert import merge_upsert
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table

from .conftest import SF_SMOKE


def test_ivf_ann_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = [
        r["vec_id"]
        for r in similarity.cosine_topk(emb, query_id=7, k=10).collect()
    ]
    approx = similarity.ann_topk_ivf(
        emb, query_id=7, k=10, n_centroids=8, nprobe=4
    ).collect()
    got = [r["vec_id"] for r in approx]
    assert len(got) == 10
    # nprobe=4 of 8 centroids scans ~half the corpus -> decent recall
    recall = len(set(exact) & set(got)) / 10
    assert recall >= 0.3, f"IVF recall too low: {recall} ({set(exact) & set(got)})"
    # returned cosines must be exact for the vectors returned
    brute = {
        r["vec_id"]: r["cosine"]
        for r in similarity.cosine_topk(emb, query_id=7, k=10**6).collect()
    }
    for r in approx:
        assert abs(brute[r["vec_id"]] - r["cosine"]) < 1e-12


def test_kmeans_refined_ivf_recall_and_exact_cosines(spark):
    """Lloyd-refined centroids must keep the index complete (every
    vector assigned, centroid count preserved) and produce recall at
    least as usable as the seeded index, with exact cosines for
    whatever it returns."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    assigned, centroids = similarity.ivf_assign(emb, n_centroids=8, refine_iters=2)
    assert centroids.count() == 8
    assert assigned.count() == emb.count()
    # refined centroids moved off the seed vectors (means, not members)
    seed_ids = {r["vec_id"] for r in emb.orderBy("vec_id").limit(8).collect()}
    seed_vecs = {
        tuple(r["embedding"])
        for r in emb.filter(F.col("vec_id").isin(seed_ids)).collect()
    }
    moved = [
        tuple(r["_cvec"]) not in seed_vecs for r in centroids.collect()
    ]
    assert any(moved), "Lloyd iterations changed no centroid"

    exact = [
        r["vec_id"] for r in similarity.cosine_topk(emb, query_id=7, k=10).collect()
    ]
    approx = similarity.ann_topk_ivf(
        emb, query_id=7, k=10, n_centroids=8, nprobe=4, refine_iters=2
    ).collect()
    got = [r["vec_id"] for r in approx]
    assert len(got) == 10
    recall = len(set(exact) & set(got)) / 10
    assert recall >= 0.3, f"refined-IVF recall too low: {recall}"
    brute = {
        r["vec_id"]: r["cosine"]
        for r in similarity.cosine_topk(emb, query_id=7, k=10**6).collect()
    }
    for r in approx:
        assert abs(brute[r["vec_id"]] - r["cosine"]) < 1e-12


def test_salted_join_equals_plain_join(spark):
    orders = load_table(spark, SF_SMOKE, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    customer = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_mktsegment")
    plain = (
        orders.join(customer, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(orders, customer, "c_custkey", n_salts=4)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_merge_upsert_last_write_wins(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, v double"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "k long, name string, v double"
    )
    merged = {r["k"]: (r["name"], r["v"]) for r in merge_upsert(target, updates, ["k"]).collect()}
    assert merged == {1: ("a", 10.0), 2: ("b2", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_approx_aggregates_close_to_exact(spark):
    events = load_table(spark, SF_SMOKE, "events")
    exact = events.agg(
        F.countDistinct("user_id").alias("d"),
        F.percentile("value", 0.9).alias("p90"),
    ).first()
    approx = events.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("d"),
        F.percentile_approx("value", 0.9, 10000).alias("p90"),
    ).first()
    assert abs(approx["d"] - exact["d"]) / exact["d"] < 0.1
    assert abs(approx["p90"] - exact["p90"]) / exact["p90"] < 0.05


def test_sketch_invariants_hold_on_tiny_strata(spark, tmp_path, monkeypatch):
    """The approx_distinct_and_quantiles rank-window invariant must be
    TRUE for a CORRECT sketch at every stratum size — including 1-, 2-
    and 3-row groups, where interpolated-percentile bounds (the round-6
    pre-review form) contain no actual element and falsely failed
    (e.g. a {0,100} group's interpolated p50 band [49.5, 50.5] vs
    percentile_approx's element answer 0.0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigquery_cross_environment_etl_pipeline_spark.plans.extended import (
        approx_distinct_and_quantiles,
    )

    rows_t, rows_u, rows_v = [], [], []
    gid = 0
    for size in (1, 2, 3, 4, 5, 17):
        for spread in ((0.0, 100.0), (1.0, 2.0)):
            gid += 1
            for i in range(size):
                rows_t.append(f"g{gid}_{size}")
                rows_u.append(i % max(1, size - 1) + 1)
                rows_v.append(spread[0] + (spread[1] - spread[0]) * i / max(1, size - 1))
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows_t)), pa.int64()),
            "ts": pa.array([None] * len(rows_t), pa.timestamp("us")),
            "user_id": pa.array(rows_u, pa.int64()),
            "event_type": pa.array(rows_t),
            "value": pa.array(rows_v, pa.float64()),
            "props": pa.array(["{}"] * len(rows_t)),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = approx_distinct_and_quantiles(spark, str(tmp_path)).collect()
    assert len(out) == gid
    for r in out:
        assert r["users_within_eps"], r
        assert r["p50_within_rank_eps"], r
        assert r["p99_within_rank_eps"], r


def test_ivf_index_persists_partitioned_and_prunes(spark, tmp_path):
    """The IVF scale story end-to-end: persist assignments partitioned
    by centroid id, then a probe query filtered to nprobe centroids
    must (a) prune partitions in the scan and (b) return exactly the
    persisted members of those centroids."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    assigned, _ = similarity.ivf_assign(emb, n_centroids=8, refine_iters=1)
    path = str(tmp_path / "ivf_index")
    assigned.write.partitionBy("_cid").parquet(path)

    index = spark.read.parquet(path)
    probe = index.filter(F.col("_cid").isin([0, 3]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert (
        "PartitionFilters: [" in plan
        and "_cid" in plan.split("PartitionFilters")[-1]
    ), "centroid filter must prune partitions, not scan the corpus"

    expect = {
        r["vec_id"]
        for r in assigned.filter(F.col("_cid").isin([0, 3])).collect()
    }
    got = {r["vec_id"] for r in probe.collect()}
    assert got == expect and got, "pruned read must return the probed cells exactly"


def test_exact_sum_stats_agree_with_builtins(spark):
    """The decimal-sum variance/correlation must agree with Spark's
    built-in stddev_samp/corr to float tolerance (the exact form exists
    for cross-engine bitwise parity, not different math)."""
    from bigquery_cross_environment_etl_pipeline_spark.plans.analytics import (
        value_stats_exact,
    )

    ours = {
        r["event_type"]: (r["stddev_value"], r["corr_value_user"])
        for r in value_stats_exact(spark, SF_SMOKE).collect()
    }
    events = load_table(spark, SF_SMOKE, "events")
    builtin = {
        r["event_type"]: (r["sd"], r["c"])
        for r in events.groupBy("event_type")
        .agg(
            F.stddev_samp("value").alias("sd"),
            F.corr("value", F.col("user_id").cast("double")).alias("c"),
        )
        .collect()
    }
    assert set(ours) == set(builtin)
    for et, (sd, c) in builtin.items():
        assert abs(ours[et][0] - sd) < 1e-6 * max(1.0, abs(sd))
        assert abs(ours[et][1] - c) < 1e-6


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join: a hot key whose partition dwarfs the median gets
    split at runtime (skew=true in the executed plan) — the built-in
    complement to the manual salted_join for pathological keys."""
    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        # thresholds low enough that the hot key's partition counts as
        # skewed at test scale; broadcast off so the join shuffles
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        # 200k rows on one hot key + a sprinkle of uniform keys
        hot = spark.range(200_000).select(
            F.lit(7).alias("k"), F.col("id").alias("payload")
        )
        cold = spark.range(1_000).select(
            (F.col("id") % 50).alias("k"), F.col("id").alias("payload")
        )
        left = hot.unionAll(cold)
        right = spark.range(50).select(
            F.col("id").alias("k"), F.col("id").alias("dim_val")
        )

        joined = left.join(right, "k")
        # collect the SAME DataFrame whose execution we inspect: AQE
        # finalizes the plan per QueryExecution, and count() would spawn
        # a different one
        assert len(joined.collect()) == 201_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"no skew split in plan:\n{plan[:2000]}"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prefilters_fact_side(spark):
    """Runtime bloom-filter join pruning: with a selective dim filter,
    Catalyst injects might_contain(bloom_filter_agg(dim keys)) on the
    fact side, discarding non-matching rows BEFORE the join shuffle.
    The application-side threshold defaults to 10GB — met trivially by
    any real fact table; lowered here to demonstrate at test scale."""
    keys = (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set(keys[0], "0")
        spark.conf.set(keys[1], "-1")
        li = load_table(spark, SF_SMOKE, "lineitem")
        orders = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan, plan[:1500]
        # and the result is unaffected by the filter's presence
        n_with = j.count()
        spark.conf.unset(keys[0])
        n_without = (
            li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        )
        assert n_with == n_without
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_probe_matches_inline_ivf(spark, tmp_path):
    """The persisted-index probe must return the same neighbors as the
    inline (build-per-query) IVF with identical parameters — persistence
    changes where the assignment lives, never the answer."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    similarity.ivf_index_persist(spark, emb, path, n_centroids=8)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).select("embedding").first()[0]
    ]
    probed = similarity.ann_topk_ivf_probe(
        spark, path, qvec, k=10, nprobe=4, exclude_id=7
    ).collect()
    inline = similarity.ann_topk_ivf(
        emb, query_id=7, k=10, n_centroids=8, nprobe=4
    ).collect()
    assert [r["vec_id"] for r in probed] == [r["vec_id"] for r in inline]
    for p, i in zip(probed, inline):
        assert abs(p["cosine"] - i["cosine"]) < 1e-12


def test_batch_topk_agrees_with_single_query_topk(spark):
    """Each query's slice of the batched similarity join must equal the
    single-query brute-force top-k (same ordering, same cosines)."""
    from bigquery_cross_environment_etl_pipeline_spark.plans.llm import (
        embedding_batch_topk,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    batch = embedding_batch_topk(spark, SF_SMOKE).collect()
    by_qid: dict[int, list] = {}
    for r in sorted(batch, key=lambda r: (r["qid"], r["rn"])):
        by_qid.setdefault(r["qid"], []).append(r)
    assert sorted(by_qid) == [0, 1, 2, 3, 4]
    for qid, rows in by_qid.items():
        single = similarity.cosine_topk(emb, query_id=qid, k=3).collect()
        assert [r["vec_id"] for r in rows] == [s["vec_id"] for s in single]
        for r, s in zip(rows, single):
            assert abs(r["cosine"] - s["cosine"]) < 1e-12


def test_embedding_clusters_are_consistent_with_pairs(spark):
    """Cluster labels must (a) cover every vector, (b) put both ends of
    every near-dup pair in the same cluster, and (c) label every cluster
    by its minimum member."""
    from bigquery_cross_environment_etl_pipeline_spark.plans.llm import (
        embedding_cosine_clusters,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    labels = {
        r["vec_id"]: r["cluster_id"]
        for r in embedding_cosine_clusters(spark, SF_SMOKE).collect()
    }
    assert len(labels) == emb.count()
    # the query builds its edges from the banded-LSH verified pairs —
    # consistency must hold against that same generator
    pairs = similarity.cosine_neardup_pairs_lsh(emb, threshold=0.3).collect()
    assert pairs, "fixture must contain at least one near-dup pair"
    for p in pairs:
        assert labels[p["vec_a"]] == labels[p["vec_b"]]
    members: dict[int, list[int]] = {}
    for vec, comp in labels.items():
        members.setdefault(comp, []).append(vec)
    for comp, vecs in members.items():
        assert comp == min(vecs)


def test_batch_ivf_probe_matches_single_probes(spark, tmp_path):
    """The batched probe must return, per query, exactly what the
    single-query probe returns against the same index/parameters."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    similarity.ivf_index_persist(spark, emb, path, n_centroids=8)
    qvecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 3).collect()
    }
    batch = similarity.ann_batch_topk_ivf_probe(
        spark, path, qvecs, k=5, nprobe=4
    ).collect()
    by_qid: dict[int, list] = {}
    for r in sorted(batch, key=lambda r: (r["qid"], r["rn"])):
        by_qid.setdefault(r["qid"], []).append(r)
    assert sorted(by_qid) == [0, 1, 2]
    for qid, rows in by_qid.items():
        single = similarity.ann_topk_ivf_probe(
            spark, path, qvecs[qid], k=5, nprobe=4, exclude_id=qid
        ).collect()
        assert [r["vec_id"] for r in rows] == [s["vec_id"] for s in single]
        for r, s in zip(rows, single):
            assert abs(r["cosine"] - s["cosine"]) < 1e-12


def test_dynamic_partition_pruning_on_date_layout(spark, tmp_path):
    """With the destination laid out by date (load_append's
    time-partition option), a join against a filtered dim triggers
    DYNAMIC partition pruning: the fact scan's PartitionFilters carry a
    dynamicpruningexpression fed by the dim's values at runtime, so
    only the joined dates' directories are read — the mechanism that
    turns a 100 TB fact scan into a few-partition scan for
    dim-filtered joins, with no static predicate available."""
    import datetime as dt

    from pyspark.sql import functions as F

    from bigquery_cross_environment_etl_pipeline_spark.sources.registry import (
        load_table,
    )

    events = load_table(spark, SF_SMOKE, "events").withColumn(
        "_dt", F.to_date("ts")
    )
    dest = str(tmp_path / "fact")
    events.write.partitionBy("_dt").parquet(dest)
    fact = spark.read.parquet(dest)
    dim = spark.createDataFrame(
        [
            (dt.date(2024, 1, 5), "a"),
            (dt.date(2024, 1, 6), "a"),
            (dt.date(2024, 1, 7), "b"),
        ],
        "d date, seg string",
    )
    joined = fact.join(dim, fact._dt == dim.d).filter(F.col("seg") == "a")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()
    expected = events.filter(
        F.col("_dt").isin(dt.date(2024, 1, 5), dt.date(2024, 1, 6))
    ).count()
    assert joined.count() == expected


def test_kmeans_refine_is_partitioning_invariant(spark):
    """Lloyd means must be bit-identical regardless of partitioning —
    the idempotent-rebuild property. Fixed-point sums guarantee it;
    a float avg() would fail this on reassociation."""
    from bigquery_cross_environment_etl_pipeline_spark.operators import similarity
    from bigquery_cross_environment_etl_pipeline_spark.sources.registry import (
        load_table,
    )
    from .conftest import SF_SMOKE
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings")
    seed = (
        emb.orderBy("vec_id").limit(4)
        .select(
            F.col("vec_id").alias("_cid"),
            F.col("embedding").alias("_cvec"),
            similarity.norm_expr("embedding").alias("_cnrm"),
        )
    )
    a = similarity.kmeans_refine(emb.repartition(1), seed, n_iters=2)
    b = similarity.kmeans_refine(emb.repartition(13, "vec_id"), seed, n_iters=2)
    ra = {r["_cid"]: list(r["_cvec"]) for r in a.collect()}
    rb = {r["_cid"]: list(r["_cvec"]) for r in b.collect()}
    assert ra == rb


def test_kmeans_refine_keeps_position_when_cell_empties(spark):
    """A centroid whose cell loses every member must keep its previous
    position, not become an all-null vector (round-4 fix: an array of
    nulls is itself non-null, so the old coalesce fallback never
    fired). Two identical seed centroids force every vector — the
    higher-id twin included — into the lower cell by the
    lowest-cid tie-break, emptying cell 1."""
    from pyspark.sql import functions as F

    from bigquery_cross_environment_etl_pipeline_spark.operators import similarity

    dim = similarity.DIM
    v = [1.0] + [0.0] * (dim - 1)
    u = [0.0, 1.0] + [0.0] * (dim - 2)
    rows = [(0, v), (1, v), (2, u)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seed = (
        emb.orderBy("vec_id").limit(2)
        .select(
            F.col("vec_id").alias("_cid"),
            F.col("embedding").alias("_cvec"),
            similarity.norm_expr("embedding").alias("_cnrm"),
        )
    )
    # vec 2 is orthogonal to both centroids: sim 0 with each, tie-break
    # -> cid 0 as well, so cell 1 is guaranteed empty
    refined = {r["_cid"]: r["_cvec"] for r in
               similarity.kmeans_refine(emb, seed, n_iters=1, dim=dim).collect()}
    assert refined[1] == v, "emptied cell must keep its old position"
    assert all(x is not None for x in refined[0])


def test_ivfpq_sidecar_prunes_and_recall(spark, tmp_path):
    """The composed IVF-PQ serving path: the PQ-codes sidecar is
    partitioned by centroid id (probe scans prune to nprobe cells and
    read 8-byte codes, never raw vectors), its ADC ranking agrees with
    the PQ-only ADC ranking on the shared candidate set, and recall vs
    the exact cosine top-k stays useful."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivfpq")
    similarity.ivf_index_persist(spark, emb, path, n_centroids=8)
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < similarity.PQ_K).collect()
    ]
    pq_path = similarity.ivfpq_codes_persist(spark, path, cents)

    # sidecar is _cid-partitioned and a probe's filter prunes the scan
    codes = spark.read.parquet(pq_path)
    probe = codes.filter(F.col("_cid").isin([0, 3]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert (
        "PartitionFilters: [" in plan
        and "_cid" in plan.split("PartitionFilters")[-1]
    ), "sidecar scan must prune to the probed cells"
    # sidecar holds a code for every indexed vector
    assert codes.count() == emb.count()

    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).select("embedding").first()[0]
    ]
    got = similarity.ann_topk_ivfpq_probe(
        spark, path, qvec, cents, k=10, nprobe=4, exclude_id=7
    ).collect()
    assert len(got) == 10

    # ADC distances must equal the PQ-only ADC values for the same ids
    # (the IVF layer prunes candidates; it must not change the math)
    from bigquery_cross_environment_etl_pipeline_spark.plans.llm import (
        ann_topk_pq_adc,
    )

    full_adc = {
        r["vec_id"]: r["adc_dist"]
        for r in ann_topk_pq_adc(spark, SF_SMOKE).limit(10**6).collect()
    }
    for r in got:
        if r["vec_id"] in full_adc:
            assert r["adc_dist"] == full_adc[r["vec_id"]]

    # recall vs exact cosine: half the cells x 8-id codes still finds
    # a useful share of the true neighbors
    exact = {
        r["vec_id"]
        for r in similarity.cosine_topk(emb, query_id=7, k=10).collect()
    }
    recall = len(exact & {r["vec_id"] for r in got}) / 10
    assert recall >= 0.2, f"IVF-PQ recall too low: {recall}"


def test_pq_encode_custom_id_col(spark, tmp_path):
    """id_col threads through the whole PQ chain (pq_encode hard-coded
    "vec_id" before round 5, so any non-default id column raised)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < similarity.PQ_K).collect()
    ]
    renamed = emb.withColumnRenamed("vec_id", "doc_id")
    path = str(tmp_path / "ivf_docid")
    similarity.ivf_index_persist(spark, renamed, path, id_col="doc_id")
    pq_path = similarity.ivfpq_codes_persist(spark, path, cents, id_col="doc_id")
    codes = spark.read.parquet(pq_path)
    assert set(codes.columns) == {"doc_id", "pq_code", "_cid"}
    assert codes.count() == emb.count()
    # codes are identical to the default-id encoding, row for row
    default = {
        r["vec_id"]: r["pq_code"]
        for r in similarity.pq_encode(emb, cents).collect()
    }
    for r in codes.collect():
        assert default[r["doc_id"]] == r["pq_code"]
