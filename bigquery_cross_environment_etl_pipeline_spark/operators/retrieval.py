"""Persisted inverted index for sparse (BM25) retrieval.

The dense-ANN family persists its index (IVF cells, PQ codes) so
serving pays only a pruned probe; this module is the SPARSE analog:
tokenize the corpus ONCE into postings + doc-length + corpus-stats
relations on disk, then serve any term query from a partition-pruned
scan of the postings — never re-tokenizing the corpus.

Layout under ``<index_path>/``:

- ``postings``  (token, doc_id, n)  partitioned by ``_tb =
  pmod(hash(token), N_TOKEN_BUCKETS)`` — a HASH-bucket partition
  column, not token itself: a real vocabulary is 100k+ terms (one
  directory per term would drown the filesystem), while 64 hash
  buckets keep per-probe IO at ~|terms|/64 of the postings with plain
  static partition pruning.
- ``doclen``    (doc_id, len) — the per-document normalizer.
- ``stats``     1 row (n_docs double, avglen double) — computed at
  build time with the same expression tree the inline scorer uses.

Staleness discipline: callers key ``index_path`` by dataset
fingerprint + ``BM25_INDEX_VERSION`` exactly like the IVF/PQ caches
(plans/extended.py::_ivf_index).

The reference's closest surface is its staged-table reuse
(core/services/billing_etl.py writes intermediate tables once and
reads them per run); this generalizes that to a query-serving index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.registry import read_parquet
from .text import tokens

#: bump on any semantic change to tokenization or index layout — the
#: version is part of the on-disk path, so old indexes are never
#: served to new-semantics queries.
BM25_INDEX_VERSION = 1

N_TOKEN_BUCKETS = 64


def _token_bucket(col):
    return F.pmod(F.hash(col), F.lit(N_TOKEN_BUCKETS))


def _tokenize_postings(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """One tokenize pass -> (postings, doclen): both map-side partial
    aggregates of the same exploded token stream."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("token"),
    )
    postings = tok.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    doclen = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    return postings, doclen


def _write_stats(doclen: DataFrame, index_path: str) -> None:
    """Fold the doclen relation to the 1-row (n_docs, avglen) stats
    relation — the SAME expression tree the scorer divides by, so
    build-time and serve-time arithmetic agree bitwise."""
    (
        doclen.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            (
                F.sum("len").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avglen"),
        ).write.mode("overwrite").parquet(index_path + "/stats")
    )


def bm25_index_persist(
    spark,
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One tokenize pass over the corpus -> three persisted relations.
    Postings and doclen are both map-side partial aggregates of the
    same exploded token stream; stats folds doclen to one row."""
    postings, doclen = _tokenize_postings(docs, id_col, text_col)
    (
        postings.withColumn("_tb", _token_bucket(F.col("token")))
        .write.mode("overwrite")
        .partitionBy("_tb")
        .parquet(index_path + "/postings")
    )
    doclen.write.mode("overwrite").parquet(index_path + "/doclen")
    _write_stats(doclen, index_path)


def bm25_index_append(
    spark,
    new_docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental inverted-index maintenance: tokenize ONLY the
    delta, append its postings (same ``_tb`` hash-bucket partitioning,
    so pruning is unchanged) and its doclen rows, then refold the stats
    relation from the merged doclen. Cost is one pass over the delta
    plus a single-column fold — the existing corpus is never
    re-tokenized.

    Contract: delta ``doc_id``s must be NEW — re-ingesting an existing
    id would double its postings.
    Postings for one (token, doc_id) stay unique across files because
    the id sets are disjoint, so the serving path's ``df = COUNT(*)``
    stays exact. Nightly ingest therefore adds O(delta) work
    regardless of index size; rebuild on a cadence only if tokenizer
    semantics change (BM25_INDEX_VERSION).

    Crash-safety (invalidate-first): the three on-disk steps (postings
    append, doclen append, stats refold) are not atomic, so the
    staleness marker callers check (``stats/_SUCCESS`` —
    plans/llm.py::_bm25_index) is
    REMOVED before the first write and only reappears when the final
    ``_write_stats`` overwrite commits. A crash mid-append therefore
    leaves the index marked stale (next reader rebuilds) instead of
    serving postings inconsistent with doclen/stats. For the same
    reason an append REFUSES a stale/torn index (marker already
    absent): appending on top of torn postings would restore the
    marker without restoring the lost rows — rebuild with
    ``bm25_index_persist`` first."""
    import os as _os

    marker = index_path + "/stats/_SUCCESS"
    if not _os.path.exists(marker):
        raise ValueError(
            f"BM25 index at {index_path} is stale or torn "
            "(stats/_SUCCESS missing) — rebuild with bm25_index_persist "
            "before appending"
        )
    _os.remove(marker)
    postings, doclen = _tokenize_postings(new_docs, id_col, text_col)
    (
        postings.withColumn("_tb", _token_bucket(F.col("token")))
        .write.mode("append")
        .partitionBy("_tb")
        .parquet(index_path + "/postings")
    )
    doclen.write.mode("append").parquet(index_path + "/doclen")
    merged = read_parquet(spark, index_path + "/doclen")
    _write_stats(merged, index_path)


def bm25_score_topk(
    tf: DataFrame,
    df_counts: DataFrame,
    doclen: DataFrame,
    stats: DataFrame,
    terms: tuple[str, ...],
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """THE BM25 scoring expression tree — the single definition both
    the inline scorer (plans/llm.py::bm25_topk_retrieval) and the
    index-serving path (``bm25_topk_from_index``) build on, so the
    bitwise-identity guarantee between them cannot drift.

    Inputs are the four standard relations however they were obtained
    (raw tokenize pass or persisted index): ``tf`` (doc_id, token, n),
    ``df_counts`` (token, df), ``doclen`` (doc_id, len), ``stats``
    (1 row: n_docs double, avglen double).

    Exactness discipline: ratio idf ((N - df + 0.5) / (df + 0.5), no
    ln — JVM and libm log() drift in the last ulp), every float op a
    single IEEE mul/div/add, and the per-doc fold an explicit
    term-ordered chain, not a SUM whose order the engine picks. The
    |terms|-row df relation and the 1-row stats relation broadcast;
    top-k is TakeOrderedAndProject heaps, no global sort."""
    dfd = F.col("df").cast("double")
    nd = F.col("n").cast("double")
    idf = ((F.col("n_docs") - dfd) + F.lit(0.5)) / (dfd + F.lit(0.5))
    tf_sat = (nd * F.lit(k1 + 1.0)) / (
        nd
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * (F.col("len").cast("double") / F.col("avglen"))
        )
    )
    scored = (
        tf.join(F.broadcast(df_counts), "token")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "token", (idf * tf_sat).alias("s"))
    )
    fold = F.lit(0.0)
    for t in terms:
        fold = fold + F.coalesce(
            F.max(F.when(F.col("token") == t, F.col("s"))), F.lit(0.0)
        )
    return (
        scored.groupBy("doc_id")
        .agg(fold.alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_from_index(
    spark,
    index_path: str,
    terms: tuple[str, ...],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Serve a BM25 top-k from the persisted index: the postings scan
    is pruned to the query terms' hash buckets (static partition
    pruning — the probe reads ~|terms|/N_TOKEN_BUCKETS of the
    postings), df comes from a |terms|-row aggregate of those pruned
    postings, and the corpus stats ride in as the persisted 1-row
    relation. Scoring goes through the SHARED ``bm25_score_topk``
    tree (the same one the inline ``bm25_topk_retrieval`` builds on),
    so the served result is hash-identical to scoring from raw text
    by construction."""
    from ..localrel import local_df

    bucket_rows = (
        local_df(spark, [(t,) for t in terms], "token string")
        .select(_token_bucket(F.col("token")).alias("_tb"))
        .distinct()
        .collect()
    )
    probe_buckets = [int(r["_tb"]) for r in bucket_rows]
    postings = (
        read_parquet(spark, index_path + "/postings")
        .filter(F.col("_tb").isin(probe_buckets))
        .filter(F.col("token").isin(*terms))
    )
    doclen = read_parquet(spark, index_path + "/doclen")
    stats = read_parquet(spark, index_path + "/stats")
    # postings are distinct per (token, doc_id), so df = COUNT(*)
    df_counts = postings.groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    return bm25_score_topk(
        postings.select("doc_id", "token", "n"),
        df_counts, doclen, stats, terms, k, k1, b,
    )
