"""Curation composite: the two-phase distributed prefix sum must equal
the naive single-partition window at any parallelism, and the budget cut
must be tight (admits a prefix; the next doc would exceed)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from _duck import BoundedOracle, replay  # tools/, on the path via conftest

from bigquery_cross_environment_etl_pipeline_spark.operators.curation import (
    curate_corpus,
    global_running_sum,
)
from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table

from .conftest import SF_SMOKE

BUDGET = 5000


def test_global_running_sum_matches_naive_window(spark):
    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id", F.col("user_id").alias("w")
    )
    naive = {
        r["event_id"]: r["cum"]
        for r in events.withColumn(
            "cum", F.sum(F.col("w").cast("bigint")).over(W.orderBy("event_id"))
        ).collect()
    }
    for n_parts in (1, 3, 8):
        got = {
            r["event_id"]: r["running_total"]
            for r in global_running_sum(
                events, "event_id", "w", num_partitions=n_parts
            ).collect()
        }
        assert got == naive, f"two-phase prefix sum diverged at {n_parts} partitions"


def test_curation_budget_is_tight_prefix(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    out = curate_corpus(docs, token_budget=BUDGET).collect()
    assert out, "curation admitted nothing"
    # inclusive running total stays within budget and is a true prefix:
    # monotone doc_id order, cum_tokens = running sum of n_tokens
    cum = 0
    last_id = -1
    for r in out:
        assert r["doc_id"] > last_id
        last_id = r["doc_id"]
        cum += r["n_tokens"]
        assert cum == r["cum_tokens"]
        assert cum <= BUDGET
    # tightness: re-running with a budget one token below the last
    # admitted total must drop the last doc
    smaller = curate_corpus(docs, token_budget=out[-1]["cum_tokens"] - 1).collect()
    assert [r["doc_id"] for r in smaller] == [r["doc_id"] for r in out[:-1]]
    # every admitted doc passes the filters it was admitted under
    for r in out:
        assert r["lang"] == "en"
        assert r["n_tokens"] >= 5
        assert r["stopword_ratio"] >= 0.05


# --- property: prefix sum == sorted cumulative sum on arbitrary frames ------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

rows_strategy = st.lists(
    st.tuples(st.integers(0, 10_000), st.integers(0, 1_000)),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[0],  # order key must be unique
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=rows_strategy)
def test_global_running_sum_property(spark, rows):
    df = spark.createDataFrame(rows, "k long, w long")
    expect = {}
    acc = 0
    for k, w in sorted(rows):
        acc += w
        expect[k] = acc
    for n_parts in (1, 4):
        got = {
            r["k"]: r["running_total"]
            for r in global_running_sum(df, "k", "w", num_partitions=n_parts).collect()
        }
        assert got == expect


def test_sequence_packing_invariants(spark):
    """Concat-and-chunk packing: offsets tile the token stream exactly
    (no gap, no overlap), offsets stay inside the pack, and
    spans_boundary marks precisely the docs crossing a 128-token cut."""
    from bigquery_cross_environment_etl_pipeline_spark.operators.curation import (
        sequence_packing,
    )
    from bigquery_cross_environment_etl_pipeline_spark.operators.text import token_count
    from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    counted = docs.select("doc_id", token_count("text").alias("n_tokens"))
    packed = sorted(
        sequence_packing(counted, seq_len=128).collect(),
        key=lambda r: r["doc_id"],
    )
    assert packed
    expect_start = 0
    for r in packed:
        assert r["start_offset"] == expect_start, "offsets must tile exactly"
        assert 0 <= r["offset_in_pack"] < 128
        assert r["pack_id"] == r["start_offset"] // 128
        last_tok = r["start_offset"] + r["n_tokens"] - 1
        assert r["spans_boundary"] == (last_tok // 128 > r["pack_id"])
        expect_start += r["n_tokens"]


def test_chunk_with_overlap_null_text_parity(spark):
    """NULL/empty text must chunk identically in Spark and the DuckDB
    oracle (latent round-5 divergence: the oracle's one-sided
    COALESCE('') vs Spark's NULL chunk_text — no generated corpus has
    NULL text, so only this planted-row replay guards it)."""
    from bigquery_cross_environment_etl_pipeline_spark import queries_catalog
    from bigquery_cross_environment_etl_pipeline_spark.operators.curation import (
        chunk_with_overlap,
    )
    from bigquery_cross_environment_etl_pipeline_spark.plans import llm

    rows = [(1, None), (2, ""), (3, "   "), (4, "a b c")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    values = ", ".join(
        "({}, {})".format(i, "NULL" if t is None else repr(t)) for i, t in rows
    )
    # the registered oracle, re-parameterized to chunk_len=4 / stride=3,
    # over the planted rows
    oracle = queries_catalog._ORACLE["doc_chunk_overlap"]
    oracle = oracle.replace(str(llm._CHUNK_LEN), "4").replace(
        str(llm._CHUNK_STRIDE), "3"
    )
    sql = (
        f"WITH documents AS (SELECT * FROM (VALUES {values}) t(doc_id, text))"
        f" SELECT * FROM ({oracle})"
    )
    with BoundedOracle() as ora:
        out = replay(
            lambda: chunk_with_overlap(docs, chunk_len=4, stride=3), sql, ora
        )
    assert out.ok, out


def test_chunk_with_overlap_invariants(spark):
    """Within-doc chunking: every token position is covered by at least
    one chunk, consecutive chunks overlap by exactly chunk_len - stride
    (except a short final chunk), chunk text matches the token slice,
    and a doc shorter than one chunk yields exactly one chunk."""
    from bigquery_cross_environment_etl_pipeline_spark.operators.curation import (
        chunk_with_overlap,
    )
    from bigquery_cross_environment_etl_pipeline_spark.sources.registry import load_table

    from .conftest import SF_SMOKE

    CHUNK, STRIDE = 16, 12
    docs = load_table(spark, SF_SMOKE, "documents").limit(100)
    toks = {
        r["doc_id"]: r["text"].strip().split()
        for r in docs.collect()
    }
    out = chunk_with_overlap(docs, chunk_len=CHUNK, stride=STRIDE).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(toks), "every doc must emit chunks"
    for doc_id, rows in by_doc.items():
        words = toks[doc_id]
        rows.sort(key=lambda r: r["chunk_id"])
        covered = set()
        for r in rows:
            s = r["start_token"]
            assert s == r["chunk_id"] * STRIDE
            expect = words[s : s + CHUNK]
            assert r["n_chunk_tokens"] == len(expect)
            assert r["chunk_text"] == " ".join(expect)
            covered.update(range(s, s + len(expect)))
        assert covered == set(range(len(words))), "chunks must cover every token"
        if len(words) <= CHUNK:
            assert len(rows) == 1, "short doc must yield exactly one chunk"
        # no start beyond the text, and the chunk count is minimal
        assert rows[-1]["start_token"] < max(len(words), 1)
        if len(rows) > 1:
            penult = rows[-2]
            assert penult["start_token"] + CHUNK < len(words) + STRIDE
