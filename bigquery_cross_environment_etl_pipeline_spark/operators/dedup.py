"""Deduplication operators (north-star: exact, MinHash+LSH, SimHash,
n-gram Jaccard).

Scale design
------------
- **Exact**: hash-groupBy on a content digest — one shuffle on a short
  key (never on the raw text). At 100 TB the digest (16 bytes) is the
  only thing that moves.
- **MinHash signatures** are computed WITHOUT exploding shingles:
  ``array_min(transform(shingles, hash_i))`` evaluates per row inside
  the scan stage — zero shuffles until the candidate join.
- **LSH banding**: signatures are split into bands; docs sharing a band
  key become candidates via a self-equi-join on (band_idx, band_key).
  The join key is a small int pair, so the shuffle volume is
  O(docs * n_bands * 16 bytes) regardless of document size — this is
  the property that makes MinHash+LSH viable at 100 TB where the naive
  O(n^2) pair comparison is not.
- **SimHash**: token explode -> 16 conditional sums -> bit-pack; one
  shuffle on doc_id (already the natural partitioning).
- **n-gram Jaccard**: exact verification on *blocked* candidate pairs
  (same source + similar length), never all-pairs.

``pyspark.ml.feature.MinHashLSH`` offers the same banding on sparse
vectors; this implementation keeps the hash family cross-engine
reproducible (hash48) so the DuckDB oracle can verify it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import quote_ident
from ..sources.registry import read_parquet
from .iterative import iter_checkpoint
from .text import hash48, tokens

N_MINHASH = 8
N_BANDS = 4  # bands of 2 hashes each
SHINGLE_N = 3

#: Bump on ANY semantic change to signature construction (shingle n,
#: hash family, band layout): persisted signature-index cache keys
#: carry this so old indexes are never served to new-semantics probes.
SIG_INDEX_VERSION = 1

#: one md5 per shingle, then per-seed AFFINE rehash over exact int64:
#: h_j = (a_j * hash48(s) + b_j) mod 2^48. a_j is odd and < 2^13 so the
#: product stays < 2^61 (no int64 overflow in either engine); b_j < 2^48.
#: 8x fewer md5 evaluations than hashing (shingle || seed) per seed, and
#: the integer form is reproducible bitwise by the SQL oracle.
MINHASH_MOD = 1 << 48


def _minhash_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for j in range(n_hashes):
        a = (int(hashlib.md5(f"minhash-a-{j}".encode()).hexdigest()[:3], 16) << 1) | 1
        b = int(hashlib.md5(f"minhash-b-{j}".encode()).hexdigest()[:12], 16)
        out.append((a, b))
    return out


MINHASH_COEFFS = _minhash_coeffs(N_MINHASH)


def exact_dedup_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content digest, keep min id as the keeper."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles(text_col: str | Column, n: int = SHINGLE_N) -> Column:
    """Word n-gram shingles as an array column (no explode).

    Built by zipping the word array with its shifted slices and
    concatenating per struct — every outer expression (the split, the
    slices) is evaluated once per ROW. The naive alternative
    (``transform(sequence(...), i -> element_at(words, i+k))``) re-runs
    the split per element, making shingling O(words^2) per document.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = tokens(c)
    n_sh = F.greatest(F.size(words) - (n - 1), F.lit(0))
    shifted = [
        F.slice(
            words, k + 1, F.greatest(F.size(words) - k, F.lit(0))
        ).alias(f"w{k}")
        for k in range(n)
    ]
    zipped = F.slice(F.arrays_zip(*shifted), 1, n_sh)
    return F.transform(
        zipped, lambda x: F.concat_ws(" ", *[x[f"w{k}"] for k in range(n)])
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_hashes: int = N_MINHASH
) -> DataFrame:
    """(id, h0..h{k-1}) via explode -> per-shingle hashes -> grouped MIN.

    The explode materializes each shingle string exactly once (outer
    expressions inside higher-order-function lambdas are re-evaluated
    per element, which made the pure-array form O(shingles * text_len)
    per seed); the grouped MIN is map-side partial, so the shuffle
    carries only (id, k mins) per partition — scale-safe.

    Docs with no shingles (< n words) get the sentinel signature.
    """
    # expression construction note (round 12): the per-seed affine
    # columns, grouped mins, and sentinel coalesces are built as SQL
    # strings through ONE selectExpr/expr parse each instead of
    # dozens of nested Column calls — every Column operator is a py4j
    # round trip (~0.15 ms), and this builder was a measurable slice
    # of the dedup family's ~0.5-1.0 s per-query construction time.
    # The parsed expressions resolve to the same analyzed plan; the
    # md5-exact oracles pin value equality.
    id_sql = quote_ident(id_col)
    sh = df.select(F.col(id_sql), F.explode(shingles(text_col)).alias("_s"))
    hashed = sh.selectExpr(
        id_sql,
        "CAST(conv(substring(md5(_s), 1, 12), 16, 10) AS BIGINT) AS _h0",
    ).selectExpr(
        id_sql,
        *[
            f"(({a}L * _h0) + {b}L) % {MINHASH_MOD}L AS h{j}"
            for j, (a, b) in enumerate(MINHASH_COEFFS[:n_hashes])
        ],
    )
    sig = hashed.groupBy(F.col(id_sql)).agg(
        *[F.expr(f"min(h{j}) AS h{j}") for j in range(n_hashes)]
    )
    # re-attach empty-shingle docs with the sentinel signature
    return df.select(F.col(id_sql)).join(sig, id_col, "left").selectExpr(
        id_sql,
        *[
            f"coalesce(h{j}, {MINHASH_MOD}L) AS h{j}"
            for j in range(n_hashes)
        ],
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become a
    candidate pair; est_similarity = fraction of matching hashes.

    Returns (doc_a, doc_b, est_similarity), doc_a < doc_b, distinct.

    Eligibility contract (round-5 edge-replay finding): docs with NO
    shingles (< SHINGLE_N words — empty/NULL/whitespace text) carry
    the sentinel signature, and two sentinels band-match as a perfect
    1.0 pair even though the docs share no content. Sentinel rows are
    therefore excluded from banding — contentless docs are not
    MinHash-eligible and surface as singletons downstream.
    """
    signatures = signatures.filter(F.col("h0") < MINHASH_MOD)
    rows_per_band = n_hashes // n_bands
    # single-parse SQL forms of the band array and the match counter
    # (round 12): the struct-per-band array and the 16-term when-chain
    # were ~100 py4j round trips per construction
    bands = F.expr(
        "array("
        + ", ".join(
            "struct("
            + ", ".join(
                [f"{b} AS band_idx"]
                + [
                    f"h{b * rows_per_band + r} AS k{r}"
                    for r in range(rows_per_band)
                ]
            )
            + ")"
            for b in range(n_bands)
        )
        + ")"
    )
    sig_cols = [f"h{j}" for j in range(n_hashes)]
    exploded = signatures.select(
        F.col(id_col), *sig_cols, F.explode(bands).alias("band")
    ).select(id_col, *sig_cols, "band.*")

    a = exploded.alias("a")
    b = exploded.alias("b")
    band_keys = ["band_idx"] + [f"k{r}" for r in range(rows_per_band)]
    join_cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in band_keys] + [
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    ]
    matches = F.expr(
        " + ".join(
            f"(CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END)"
            for j in range(n_hashes)
        )
    )
    return (
        a.join(b, join_cond)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            (matches.cast("double") / F.lit(float(n_hashes))).alias("est_similarity"),
        )
        .distinct()
    )


def hashed_shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
) -> DataFrame:
    """(id, sh, _nsh): distinct 48-bit-hashed shingle set per document
    plus its size — the per-doc representation every exact-verify stage
    joins against (8 bytes/element shuffled, never the text)."""
    hashed = F.transform(
        shingles(text_col, n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("bigint"),
    )
    return df.select(
        F.col(id_col), F.array_distinct(hashed).alias("sh")
    ).withColumn("_nsh", F.size("sh"))


def verified_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
) -> DataFrame:
    """Exact-Jaccard VERIFY stage over an arbitrary candidate pair list
    (doc_a, doc_b) — the second half of the canonical LSH -> verify
    dedup pipeline. Cost is O(|candidates|) set intersections; with LSH
    candidates in front, the all-pairs quadratic blowup never happens
    and the shuffle carries only (pair ids + two hashed-shingle
    arrays). Contentless docs (empty shingle set) are excluded — their
    Jaccard is 0/0, which ANSI Spark raises on and no sane dedup
    contract defines (edge-replay finding)."""
    sh = hashed_shingle_sets(docs, text_col, id_col, n).filter(
        F.col("_nsh") > 0
    )
    a = sh.select(
        F.col(id_col).alias("doc_a"), F.col("sh").alias("_sha"), F.col("_nsh").alias("_na")
    )
    b = sh.select(
        F.col(id_col).alias("doc_b"), F.col("sh").alias("_shb"), F.col("_nsh").alias("_nb")
    )
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    jac = inter.cast("double") / (F.col("_na") + F.col("_nb") - inter).cast("double")
    return (
        candidates.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") > threshold)
    )


def exact_jaccard_pairs_inverted(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
    min_jaccard: float | None = None,
) -> DataFrame:
    """EXACT hashed-shingle Jaccard for every document pair sharing at
    least one shingle, via the inverted index — the complete ground
    truth for measuring LSH banding quality (any pair with Jaccard > 0
    shares a shingle, so nothing above any positive threshold can be
    missed; pairs sharing nothing have Jaccard 0 by definition).

    Dataflow: distinct (doc, shingle-hash) postings self-join on the
    8-byte hash (the only thing shuffled), pair-count the matches
    (= |intersection|, since per-doc hashes are distinct), then join
    the two set cardinalities back for |union| = na + nb - i. No array
    intersection, no text movement.

    ``min_jaccard`` enables SIZE-COMPATIBILITY pruning without losing
    exactness above the bound: J(a,b) <= min(na,nb)/max(na,nb), so a
    pair whose set sizes differ by more than the bound's ratio cannot
    reach it and is dropped INSIDE the self-join, before the pair-count
    shuffle (the standard set-similarity-join length filter). The
    bound is applied as exact integer cross-multiplication
    (q*min >= p*max for min_jaccard = p/q via Fraction), so both
    engines prune the identical pair set. Returned pairs below
    min_jaccard (size-compatible but low-overlap) are NOT filtered —
    callers thresholding at >= min_jaccard see exactly the unpruned
    result.

    Scale contract: cost is sum over shingles of C(doc_freq, 2) over
    size-compatible pairs — the quality CANARY price, not a production
    path (boilerplate shingles with huge doc-freq make it quadratic in
    the worst case). At 100 TB this runs over a sampled stratum,
    exactly like ann_recall_at_k's |Q|-bounded exact arm; the
    production dedup path stays lsh_candidate_pairs ->
    verified_jaccard_pairs. Contentless docs (no shingles) have no
    postings and appear in no pair, matching the banding eligibility
    contract."""
    sh = hashed_shingle_sets(docs, text_col, id_col, n).filter(F.col("_nsh") > 0)
    posting = sh.select(
        F.col(id_col).alias("_id"), F.col("_nsh"), F.explode("sh").alias("_h")
    )
    a = posting.select(
        F.col("_id").alias("doc_a"), F.col("_nsh").alias("_na"), "_h"
    )
    b = posting.select(
        F.col("_id").alias("doc_b"), F.col("_nsh").alias("_nb"), "_h"
    )
    cond = (F.col("a._h") == F.col("b._h")) & (F.col("doc_a") < F.col("doc_b"))
    if min_jaccard is not None:
        from fractions import Fraction

        frac = Fraction(str(min_jaccard))
        if frac.denominator > 10**6:
            # q*small / p*large multiply bigint shingle counts; a
            # non-terminating decimal threshold (e.g. 1/3 ->
            # q = 10^16) overflows int64 for docs beyond ~900
            # shingles, silently breaking the "both engines prune the
            # identical pair set" contract (ADVICE r7). Refuse loudly
            # rather than limit_denominator: oracles derive their own
            # Fraction from the same literal, so a silent engine-side
            # rounding would itself diverge from the oracle's prune.
            raise ValueError(
                f"exact_jaccard_pairs_inverted: min_jaccard={min_jaccard!r}"
                f" is not a short decimal (denominator {frac.denominator});"
                " the exact integer size-compatibility prune multiplies"
                " shingle counts by the denominator and would overflow"
                " int64. Pass a terminating decimal like 0.3 or"
                " round(x, 6)."
            )
        p, q = frac.numerator, frac.denominator
        small = F.least(F.col("_na"), F.col("_nb"))
        large = F.greatest(F.col("_na"), F.col("_nb"))
        cond = cond & (q * small >= p * large)
    inter = (
        a.alias("a")
        .join(b.alias("b"), cond)
        .groupBy("doc_a", "doc_b", "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    jac = F.col("_i").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_i")
    ).cast("double")
    return inter.select("doc_a", "doc_b", jac.alias("jaccard"))


def ngram_jaccard_verify_blocked(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    len_col: str = "n_chars",
    max_len_delta: int = 50,
    threshold: float = 0.0,
    n: int = SHINGLE_N,
) -> DataFrame:
    """Exact n-gram Jaccard over blocked candidate pairs — a VERIFY
    UTILITY, not a candidate generator (renamed in round 4 to make
    that contract unmissable).

    Blocking (same ``block_col``, |len delta| <= ``max_len_delta``)
    bounds pairs only when blocks stay small; block cardinality is
    FIXED, so within-block pair counts grow quadratically with data
    (measured 5x wall-time at 10x rows). Use it to spot-verify a
    bounded slice or as ground truth in tests; the scale path is
    minhash_lsh_candidates -> verified_jaccard_pairs, where banding
    makes the candidate count data-independent per band. The Jaccard
    itself is |A ∩ B| / |A ∪ B| over distinct shingle sets —
    array_intersect / sizes are engine-side.
    """
    # Shingles are hashed to 48-bit ints BEFORE the pair join: the
    # intersect/union then compares fixed-width integers instead of
    # ~20-byte strings (3-4x cheaper), and the shuffled arrays are 8
    # bytes/element. Same Jaccard value modulo 2^-48 collisions — and the
    # oracle applies the identical hash, so parity is exact either way.
    # The repartition on the block key is the exchange barrier that
    # materializes the arrays once and co-partitions the self-join.
    hashed = F.transform(
        shingles(text_col, n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("bigint"),
    )
    # Candidate generation joins on (block, length-bucket) instead of
    # block alone: any pair with |len delta| <= max_len_delta lies in the
    # same or an adjacent bucket of width max_len_delta, so the probe
    # side explodes {b-1, b, b+1} and the join key becomes equi on both
    # columns — each surviving pair matches exactly one probe. This cuts
    # the pre-filter candidate count ~3x; the |delta| predicate still
    # applies afterwards, so the RESULT set is unchanged (and the oracle
    # keeps the plain semantic form).
    bucket = F.floor(F.col(len_col) / F.lit(max_len_delta)).cast("long")
    sh = (
        df.select(
            F.col(id_col),
            F.col(block_col),
            F.col(len_col),
            bucket.alias("_bkt"),
            F.array_distinct(hashed).alias("sh"),
        )
        .withColumn("_nsh", F.size("sh"))
        # contentless docs are not verify-eligible: their Jaccard is
        # 0/0 (edge-replay finding; same contract as
        # verified_jaccard_pairs / LSH banding)
        .filter(F.col("_nsh") > 0)
        .repartition(F.col(block_col))
    )
    a = sh.withColumn(
        "_probe", F.explode(F.array(F.col("_bkt") - 1, F.col("_bkt"), F.col("_bkt") + 1))
    ).alias("a")
    b = sh.alias("b")
    # |A ∪ B| = |A| + |B| - |A ∩ B|: one per-pair array op (intersect)
    # instead of two — union would allocate a merged array per pair just
    # to take its size. Set sizes are precomputed per DOC (not per
    # pair); integer operands are identical, so the double division is
    # bitwise-unchanged and the oracle's list_union form still matches.
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    jac = inter.cast("double") / (
        F.col("a._nsh") + F.col("b._nsh") - inter
    ).cast("double")
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a._probe") == F.col("b._bkt"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (
                F.abs(F.col(f"a.{len_col}") - F.col(f"b.{len_col}"))
                <= max_len_delta
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") > threshold)
    )


def dup_ngram_doc_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-n-gram fraction: the share of a doc's
    distinct word n-grams that also appear in >= ``min_docs`` corpus
    documents — the cross-document repetition signal
    (Gopher/RefinedWeb-style "duplicate n-gram fraction") used to score
    boilerplate/templated text before span-level dedup.

    Dataflow (all engine-side, no Python): distinct 48-bit-hashed
    shingles per doc -> global document frequency (one groupBy on the
    shingle hash, map-side partial counts) -> join back co-partitioned
    on the same hash -> per-doc ratio. Shuffle volume is
    O(total distinct shingles x 8 B), linear in corpus size; no pair
    join anywhere, so the op is scale-safe where pairwise dedup is
    not. Docs shorter than ``n`` words have no shingles and drop out
    (mirrored by the oracle). The fraction is ONE IEEE division of two
    exact bigints — hash-stable across engines.
    """
    hashed = F.transform(
        shingles(text_col, n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("bigint"),
    )
    per_doc = df.select(
        F.col(id_col), F.explode(F.array_distinct(hashed)).alias("sh")
    )
    docfreq = per_doc.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return (
        per_doc.join(docfreq, "sh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(
                F.when(F.col("df") >= min_docs, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup_ngrams"),
        )
        .withColumn(
            "dup_fraction",
            F.col("n_dup_ngrams").cast("double") / F.col("n_ngrams").cast("double"),
        )
    )


def duplicated_span_mask(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
    min_docs: int = 2,
) -> DataFrame:
    """SPAN-LEVEL dedup transform: mask every token covered by a word
    n-gram that appears in >= ``min_docs`` corpus documents, and emit
    the cleaned text — the distributed form of exact-substring
    deduplication (remove repeated spans, keep the rest of the doc),
    one level finer than doc-level dedup.

    Dataflow, all engine-side: positional shingles (posexplode) ->
    global document frequency on the 48-bit shingle hash -> duplicated
    shingles explode into their ``n`` covered token positions ->
    distinct (doc, position) mask -> one index-aware ``filter`` lambda
    rebuilds the cleaned token stream in order (no sort, no window:
    the token array itself is the order). Shuffle volume is O(total
    shingles x 12 B) for the frequency pass plus O(duplicated
    positions) for the mask — linear, no pair join. A doc with no
    duplicated span passes through byte-identical.

    Returns (id, n_tokens, n_masked, cleaned_text).
    """
    hashed = F.transform(
        shingles(text_col, n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("bigint"),
    )
    base = df.select(
        F.col(id_col), tokens(text_col).alias("_toks"), hashed.alias("_sh")
    )
    pos_sh = base.select(
        F.col(id_col), F.posexplode("_sh").alias("pos", "h")
    )
    docfreq = pos_sh.groupBy("h").agg(
        F.countDistinct(id_col).alias("df")
    )
    dup_pos = pos_sh.join(docfreq.filter(F.col("df") >= min_docs), "h").select(
        F.col(id_col),
        F.explode(
            F.array(*[F.col("pos") + F.lit(d) for d in range(n)])
        ).alias("mpos"),
    )
    # collect_set dedups overlapping-span positions itself — a separate
    # .distinct() before it would spend a whole extra shuffle on work
    # the aggregate already does (round-4 bench: one exchange saved)
    masked = dup_pos.groupBy(id_col).agg(
        F.collect_set("mpos").alias("_masked")
    )
    empty = F.array().cast("array<int>")
    m = F.coalesce(F.col("_masked"), empty)
    cleaned = F.filter("_toks", lambda tok, i: ~F.array_contains(m, i))
    return base.join(masked, id_col, "left").select(
        F.col(id_col),
        F.size("_toks").cast("bigint").alias("n_tokens"),
        F.coalesce(F.size("_masked"), F.lit(0)).cast("bigint").alias("n_masked"),
        F.array_join(cleaned, " ").alias("cleaned_text"),
    )


def contamination_counts(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SHINGLE_N,
) -> DataFrame:
    """Benchmark decontamination: for every training document, count
    the DISTINCT word n-gram shingles it shares with the eval corpus —
    the overlap signal a pretraining pipeline filters on before
    training (n-gram collision decontamination).

    Dataflow: both sides reduce to 48-bit hashed shingle sets (8
    B/shingle — the text never shuffles); the eval side collapses to
    one distinct-hash relation, small enough to broadcast at any
    realistic eval-suite size, so the training corpus is probed in a
    single map-side semi-join pass; one grouped count per contaminated
    doc follows. Only documents with at least one shared shingle are
    returned.
    """
    train_sh = train.select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("_s")
    ).select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col("_s")), 1, 12), 16, 10)
        .cast("bigint")
        .alias("_h"),
    ).distinct()
    eval_sh = (
        eval_docs.select(F.explode(shingles(text_col, n)).alias("_s"))
        .select(
            F.conv(F.substring(F.md5(F.col("_s")), 1, 12), 16, 10)
            .cast("bigint")
            .alias("_h")
        )
        .distinct()
    )
    return (
        train_sh.join(F.broadcast(eval_sh), "_h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_shingles"))
    )


SIMHASH_BITS = 16


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash: per doc, bit i of the fingerprint = sign of the sum of
    (+1/-1) votes from each distinct token's hash bit i.

    Explode -> one grouped aggregation with ``bits`` conditional sums ->
    bit-pack. Integer-only arithmetic (oracle-exact).
    """
    # single-parse SQL forms of the vote sums and the bit-pack
    # (round 12): ~130 Column-op py4j round trips -> bits+1 expr
    # parses; same analyzed expressions, md5-exact oracles pin values
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("w")
    ).withColumn("h", hash48("w"))
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1"
            f" THEN 1 ELSE -1 END) AS v{i}"
        )
        for i in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    packed = F.expr(
        " + ".join(
            f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(bits)
        )
    )
    return agg.select(F.col(id_col), packed.cast("bigint").alias("simhash"))


def simhash_near_pairs(fingerprints: DataFrame, id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance.

    Candidate generation joins on simhash bytes (any-equal-half blocking)
    then verifies hamming via bit_count — avoids all-pairs at scale.
    """
    lo = (F.col("simhash").bitwiseAND(F.lit(0xFF))).alias("b_lo")
    hi = (F.shiftright(F.col("simhash"), 8)).alias("b_hi")
    # materialize ONCE (one 4-int row per doc): the lo/hi blocking
    # joins reference this subtree FOUR times (two self-joins), and
    # each re-derivation is a full fingerprint pass over the corpus
    fp = iter_checkpoint(fingerprints.select(id_col, "simhash", lo, hi))
    a, b = fp.alias("a"), fp.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    pair_filter = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        hamming <= max_hamming
    )
    lo_match = a.join(
        b, (F.col("a.b_lo") == F.col("b.b_lo")) & pair_filter
    )
    hi_match = a.join(
        b, (F.col("a.b_hi") == F.col("b.b_hi")) & pair_filter
    )
    pick = lambda d: d.select(  # noqa: E731
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        hamming.alias("hamming"),
    )
    return pick(lo_match).union(pick(hi_match)).distinct()


def incremental_lsh_pairs(
    corpus_sigs: DataFrame,
    batch_sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    broadcast_batch: bool = False,
) -> DataFrame:
    """INCREMENTAL dedup: candidate pairs between a NEW batch and the
    EXISTING corpus — the production maintenance shape (the all-pairs
    form re-banding the whole corpus per ingest would be O(corpus) per
    batch; this is O(batch)).

    Both sides carry the same banded signature layout, so the corpus
    side is exactly the persisted signature index a deployment keeps on
    disk (partitioned/bucketed by band key — the dedup analog of the
    IVF index in operators/similarity.py): only the batch's bands
    shuffle, the corpus bands are read in place. Returns (new_doc,
    corpus_doc, est_similarity), distinct across bands.

    ``broadcast_batch``: force-broadcast the batch side ONLY when the
    caller knows the ingest batch is small — a forced hint overrides
    autoBroadcastJoinThreshold, and a large batch would then hit the
    broadcast hard limit instead of falling back to the band-key
    shuffle join. Default off: AQE picks broadcast automatically when
    the batch is genuinely under the threshold.

    Same eligibility contract as ``lsh_candidate_pairs`` (round-5
    review finding — the batch path initially missed it): sentinel
    signatures (contentless docs) are excluded on BOTH sides, or two
    empty docs would band-match as a fake 1.0 pair across the
    corpus/batch boundary.
    """
    corpus_sigs = corpus_sigs.filter(F.col("h0") < MINHASH_MOD)
    batch_sigs = batch_sigs.filter(F.col("h0") < MINHASH_MOD)
    rows_per_band = n_hashes // n_bands

    def explode_bands(sigs: DataFrame) -> DataFrame:
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    *[
                        F.col(f"h{b * rows_per_band + r}").alias(f"k{r}")
                        for r in range(rows_per_band)
                    ],
                )
                for b in range(n_bands)
            ]
        )
        sig_cols = [f"h{j}" for j in range(n_hashes)]
        return sigs.select(
            F.col(id_col), *sig_cols, F.explode(bands).alias("band")
        ).select(id_col, *sig_cols, "band.*")

    corpus = explode_bands(corpus_sigs).alias("a")
    batch_side = explode_bands(batch_sigs)
    if broadcast_batch:
        batch_side = F.broadcast(batch_side)
    batch = batch_side.alias("b")
    band_keys = ["band_idx"] + [f"k{r}" for r in range(rows_per_band)]
    join_cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in band_keys]
    matches = sum(
        F.when(F.col(f"a.h{j}") == F.col(f"b.h{j}"), 1).otherwise(0)
        for j in range(n_hashes)
    )
    return (
        corpus.join(batch, join_cond)
        .select(
            F.col(f"b.{id_col}").alias("new_doc"),
            F.col(f"a.{id_col}").alias("corpus_doc"),
            (matches.cast("double") / F.lit(float(n_hashes))).alias(
                "est_similarity"
            ),
        )
        .distinct()
    )


def signature_index_persist(
    docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
) -> None:
    """Materialize the corpus MinHash signature table on disk — the
    dedup index a deployment maintains BESIDE the corpus, exactly as
    the IVF index serves ANN (operators/similarity.py): pay the
    signature pass once per corpus, not once per ingest. Appending a
    new batch's signatures after its dedup check is an O(batch)
    `mode("append")` write."""
    minhash_signatures(docs, text_col, id_col, n_hashes).write.mode(
        "overwrite"
    ).parquet(index_path)


def incremental_lsh_pairs_from_index(
    spark,
    index_path: str,
    batch_sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASH,
    n_bands: int = N_BANDS,
    broadcast_batch: bool = False,
) -> DataFrame:
    """The serving form of ``incremental_lsh_pairs``: corpus signatures
    come from the PERSISTED index (no corpus re-scan, no re-signing),
    only the batch is signed fresh. ``broadcast_batch`` as in
    ``incremental_lsh_pairs`` — force only for known-small batches."""
    corpus_sigs = read_parquet(spark, index_path)
    return incremental_lsh_pairs(
        corpus_sigs, batch_sigs, id_col, n_hashes, n_bands, broadcast_batch
    )
