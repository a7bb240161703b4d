"""Round-12 optimization invariants.

Each test pins an equivalence or plan property a round-12 optimization
relies on, so the optimization can never drift from the semantics it
claims to preserve:

- ``_gate_repartition`` adds NO exchange when the input already
  carries the requested parallelism (VERDICT r11 item 3 — an
  explicit-N repartition is a real shuffle AQE cannot elide, so the
  many-file 100 TB ingest must not pay it), and still re-spreads the
  degenerate few-partition scan — and adds none when the scan's
  width is unknown because its path cannot be stat'ed (an object-store
  URI is the many-file corpus, not the local single-file artifact).
- ``char_spaced``/``doc_symbols``' split/join spacing (round 12) is
  value-identical to the round-9 per-char capture regex it replaced,
  pinned both directly on edge strings and end-to-end through
  ``bpe_token_counts`` against an independent vocabulary-keyed
  counting reference (merges are word-internal, so per-doc counts are
  additive over per-word counts).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigquery_cross_environment_etl_pipeline_spark.operators import bpe
from bigquery_cross_environment_etl_pipeline_spark.plans.llm import (
    _gate_repartition,
)


# ---------------------------------------------------------------------------
# _gate_repartition
# ---------------------------------------------------------------------------


def test_gate_repartition_is_identity_when_input_wide_enough(spark):
    df = spark.range(100).repartition(4)
    out = _gate_repartition(df, 4, 4)
    assert out is df  # no new plan node at all
    out2 = _gate_repartition(df, 2, 4)
    assert out2 is df
    # and the physical plan gains no exchange beyond the one df holds
    assert out2._jdf.queryExecution().executedPlan().toString().count(
        "Exchange"
    ) == df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def test_gate_repartition_respreads_narrow_input(spark):
    df = spark.range(100).coalesce(1)
    out = _gate_repartition(df, 4, 1)
    assert out is not df
    assert out.rdd.getNumPartitions() == 4
    assert sorted(r[0] for r in out.collect()) == list(range(100))


def test_unstatable_path_adds_no_exchange(spark):
    """A path os.stat cannot see (object-store URI) has an unknown
    width: the gate must not force a corpus-sized round-robin exchange
    onto it."""
    from bigquery_cross_environment_etl_pipeline_spark.plans.llm import (
        _estimated_scan_partitions,
    )

    n = _estimated_scan_partitions(spark, "s3a://corpus-bucket/documents.parquet")
    assert n is None
    df = spark.range(100).coalesce(1)
    out = _gate_repartition(df, spark.sparkContext.defaultParallelism, n)
    assert out is df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan


def test_estimated_scan_partitions_matches_spark(spark, tmp_path):
    """The os-stat estimate must agree with the partition count
    Spark's file-source packing actually produces — checked on the
    narrow local artifact (1), on a many-file layout wide enough to
    clear the gate, and on that layout under a byte-suffixed
    ``maxPartitionBytes`` and under ``minPartitionNum`` (the estimate
    reads Spark's typed conf values, so both count exactly)."""
    import os

    from bigquery_cross_environment_etl_pipeline_spark.plans.llm import (
        _estimated_scan_partitions,
    )

    from .conftest import SF_SMOKE

    path = os.path.join(SF_SMOKE, "documents.parquet")
    est = _estimated_scan_partitions(spark, path)
    real = spark.read.parquet(path).rdd.getNumPartitions()
    assert est == real == 1

    # many-file directory: estimate must be >= the session parallelism
    # gate whenever Spark's own scan is (both sides of the gate agree)
    out = str(tmp_path / "wide")
    spark.range(100000).repartition(40).write.parquet(out)
    est_wide = _estimated_scan_partitions(spark, out)
    real_wide = spark.read.parquet(out).rdd.getNumPartitions()
    par = spark.sparkContext.defaultParallelism
    assert (est_wide >= par) == (real_wide >= par)

    for key, value in (
        ("spark.sql.files.maxPartitionBytes", "1m"),
        ("spark.sql.files.minPartitionNum", "1"),
    ):
        spark.conf.set(key, value)
        try:
            for p in (path, out):
                want = spark.read.parquet(p).rdd.getNumPartitions()
                got = _estimated_scan_partitions(spark, p)
                assert got == want, (key, value, p, got, want)
        finally:
            spark.conf.unset(key)


# ---------------------------------------------------------------------------
# bpe_token_counts: vocabulary-keyed == doc-level replace chain
# ---------------------------------------------------------------------------


def test_split_spacing_equals_regex_spacing(spark):
    """char_spaced's split/join form == the per-char capture regex
    for every non-empty word (the only inputs callers feed it),
    including multibyte and astral (surrogate-pair) code points."""
    words = ["a", "ab", "abc", "héllo", "wörld", "\U0001d11e",
             "ñ\U0001d11eñ", "x-y_z", "a.b", "1234567890"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    out = df.select(
        F.concat(F.lit("  "),
                 F.regexp_replace("w", r"([\s\S])", "$1  ")).alias("old"),
        bpe.char_spaced(F.col("w")).alias("new"),
    ).collect()
    for r in out:
        assert r["old"] == r["new"], (r["old"], r["new"])


def _vocab_level_counts(docs, merges):
    """Independent vocabulary-keyed reference: apply the merge chain
    per DISTINCT word and sum per-word counts per doc — valid because
    merges never cross word boundaries (module docstring), so doc
    counts are additive over words."""
    words = docs.select(
        F.col("doc_id"),
        F.explode_outer(
            F.filter(F.split(F.trim("text"), r"\s+"),
                     lambda w: w != F.lit(""))
        ).alias("word"),
    )
    applied = bpe.apply_merges(bpe.char_spaced(F.col("word")), merges)
    word_tokens = (
        words.filter(F.col("word").isNotNull())
        .select("word")
        .distinct()
        .select("word",
                F.size(F.split(F.trim(applied), r" +"))
                .cast("bigint").alias("_wtok"))
    )
    return (
        words.join(word_tokens, "word", "left")
        .groupBy("doc_id")
        .agg(F.coalesce(F.sum("_wtok"), F.lit(0))
             .cast("bigint").alias("n_bpe_tokens"))
    )


def _assert_counts_match(spark, texts, n_merges=3):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe.train_bpe(docs, n_merges=n_merges)
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe.bpe_token_counts(docs, merges).collect()
    }
    want = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in _vocab_level_counts(docs, merges).collect()
    }
    assert got == want


def test_vocab_counts_match_doc_level_on_repetition_and_chaining(spark):
    # 'aaa' runs exercise greedy left-to-right semantics; repeated
    # words exercise the per-word sum; chained merges consume earlier
    # merged symbols
    _assert_counts_match(
        spark,
        ["aaa aaa aaa", "aaab aaab", "ab ab ab cd", "abab baba aa"],
    )


def test_vocab_counts_match_doc_level_on_edge_docs(spark):
    # contentless docs (empty / whitespace-only) count 0 in both
    # forms; multi-space separators collapse identically; unicode
    # words split per code point in both engines
    _assert_counts_match(
        spark,
        ["ab ab ab ab", "", "   ", "x", "héllo héllo wörld", "a  b   ab"],
    )


def test_vocab_counts_match_doc_level_null_text(spark):
    docs = spark.createDataFrame(
        [(0, "ab ab"), (1, None), (2, "b a")], "doc_id long, text string"
    )
    merges = bpe.train_bpe(docs, n_merges=1)
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe.bpe_token_counts(docs, merges).collect()
    }
    want = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in _vocab_level_counts(docs, merges).collect()
    }
    assert got == want
    assert got[1] == 0


# ---------------------------------------------------------------------------
# _idct_blocks: DC-only fast path == einsum, bitwise
# ---------------------------------------------------------------------------


def test_idct_dc_only_fast_path_bit_identical():
    import numpy as np

    from bigquery_cross_environment_etl_pipeline_spark.operators import jpeg

    m = jpeg._dct_matrix()
    rng = np.random.default_rng(42)

    def einsum_ref(blocks):
        return np.einsum("ux,yvut,tw->yvxw", m, blocks.astype(np.float64), m)

    # DC-only stacks: every sign/magnitude class, zero DCs included,
    # several grid shapes (the fast path must trigger and match)
    for by, bx in [(1, 1), (1, 2), (4, 2), (2, 4), (3, 3)]:
        blocks = np.zeros((by, bx, 8, 8), dtype=np.int64)
        blocks[..., 0, 0] = rng.integers(-2048, 2048, (by, bx))
        got = jpeg._idct_blocks(blocks)
        ref = einsum_ref(blocks)
        assert got.dtype == ref.dtype and got.shape == ref.shape
        assert (got == ref).all() and (
            np.signbit(got) == np.signbit(ref)
        ).all()

    # all-zero stack
    z = np.zeros((2, 2, 8, 8), dtype=np.int64)
    assert (jpeg._idct_blocks(z) == einsum_ref(z)).all()

    # mixed stack (AC present): fast path must NOT trigger; results
    # still einsum-equal by construction
    mixed = np.zeros((2, 2, 8, 8), dtype=np.int64)
    mixed[..., 0, 0] = 5
    mixed[0, 0, 3, 4] = -7
    assert (jpeg._idct_blocks(mixed) == einsum_ref(mixed)).all()

    # zero DC + nonzero AC: the count gate must fall through to einsum
    tricky = np.zeros((1, 1, 8, 8), dtype=np.int64)
    tricky[0, 0, 2, 2] = 9
    assert (jpeg._idct_blocks(tricky) == einsum_ref(tricky)).all()


# ---------------------------------------------------------------------------
# lossless encoder: vectorized predictions == per-sample reference, bytewise
# ---------------------------------------------------------------------------


def test_lossless_encode_vectorized_matches_reference_loop():
    import numpy as np

    from bigquery_cross_environment_etl_pipeline_spark.operators import jpeg

    def reference_entropy(a, predictor, restart_interval):
        """The pre-round-12 per-sample loop, kept verbatim as the
        reference for the vectorized prediction layer (entropy bytes
        only — headers are unchanged code)."""
        h, w = a.shape
        wtr = jpeg._BitWriter()
        img = a.tolist()
        k = 0
        rst = 0
        seg_start = 0
        seg_row = 0
        for y in range(h):
            for x in range(w):
                if restart_interval and k and k % restart_interval == 0:
                    wtr.restart(rst)
                    rst += 1
                    seg_start = k
                    seg_row = y
                pred = (
                    128 if k == seg_start
                    else jpeg._lossless_prediction(img, x, y, predictor, seg_row)
                )
                diff = img[y][x] - pred
                t = jpeg._category(diff)
                code, ln = jpeg.DC_LUMA_CODES[t]
                wtr.write(code, ln)
                if t:
                    wtr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
                k += 1
        wtr.flush()
        return bytes(wtr.out)

    rng = np.random.default_rng(1234)
    # straddle the n>=256 vectorization gate: small shapes take the
    # scalar loop, (16,16)/(20,20)/(17,31) take the vector path
    shapes = [(1, 1), (1, 9), (9, 1), (8, 11), (16, 16), (5, 23),
              (20, 20), (17, 31)]
    for predictor in range(1, 8):
        for ri in (0, 1, 3, 7, 64):
            for shape in shapes:
                a = rng.integers(0, 256, shape, dtype=np.uint8)
                got = jpeg.encode_jpeg_lossless(
                    a, predictor=predictor, restart_interval=ri
                )
                want = reference_entropy(a, predictor, ri)
                assert want in got, (predictor, ri, shape)
                # and the decoder round-trips the stream exactly
                assert (jpeg.decode_jpeg_lossless(got) == a).all()


# ---------------------------------------------------------------------------
# session conf: extra_conf restores the stock daemon (cluster posture)
# ---------------------------------------------------------------------------


def test_extra_conf_overrides_daemon_module():
    from bigquery_cross_environment_etl_pipeline_spark import session

    conf = session.build_conf()
    assert (
        conf["spark.python.daemon.module"]
        == "bigquery_cross_environment_etl_pipeline_spark.daemonprefork"
    )
    stock = session.build_conf(
        extra_conf={"spark.python.daemon.module": "pyspark.daemon"}
    )
    assert stock["spark.python.daemon.module"] == "pyspark.daemon"
    # and unrelated engine defaults survive the override
    assert stock["spark.sql.adaptive.enabled"] == "true"


def test_zipimport_patch_not_installed_in_driver_processes():
    """Importing the package from a plain (non-worker) process must
    leave zipimport untouched (ADVICE r11 scoping)."""
    import subprocess
    import sys as _s

    out = subprocess.run(
        [_s.executable, "-c", (
            "import zipimport;"
            "orig = zipimport.zipimporter.invalidate_caches;"
            "import bigquery_cross_environment_etl_pipeline_spark;"
            "print(zipimport.zipimporter.invalidate_caches is orig)"
        )],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out.stdout.strip() == "True", out.stderr[-500:]


# ---------------------------------------------------------------------------
# _png_unfilter: python-int rows == the numpy reference, bytewise
# ---------------------------------------------------------------------------


def test_png_unfilter_matches_numpy_reference():
    import numpy as np

    from bigquery_cross_environment_etl_pipeline_spark.operators import (
        multimodal as mm,
    )

    def reference(raw, h, w, ch):
        """The pre-round-12 numpy form, kept verbatim."""
        stride = w * ch
        out = np.empty((h, stride), dtype=np.uint8)
        zeros = np.zeros(ch, dtype=np.int64)
        for y in range(h):
            ft = raw[y * (1 + stride)]
            row = np.frombuffer(
                raw, dtype=np.uint8, count=stride, offset=y * (1 + stride) + 1
            ).astype(np.int64)
            prev = (
                out[y - 1].astype(np.int64)
                if y
                else np.zeros(stride, dtype=np.int64)
            )
            if ft == 0:
                rec = row
            elif ft == 1:
                rec = np.cumsum(row.reshape(w, ch), axis=0).reshape(stride)
            elif ft == 2:
                rec = row + prev
            elif ft in (3, 4):
                rec = np.empty(stride, dtype=np.int64)
                for x in range(w):
                    sl = slice(x * ch, (x + 1) * ch)
                    a = rec[(x - 1) * ch : x * ch] % 256 if x else zeros
                    b = prev[sl]
                    if ft == 3:
                        rec[sl] = row[sl] + (a + b) // 2
                    else:
                        c = prev[(x - 1) * ch : x * ch] if x else zeros
                        p = a + b - c
                        pa, pb, pc = (
                            np.abs(p - a), np.abs(p - b), np.abs(p - c),
                        )
                        pred = np.where(
                            (pa <= pb) & (pa <= pc),
                            a,
                            np.where(pb <= pc, b, c),
                        )
                        rec[sl] = row[sl] + pred
            else:
                raise ValueError(f"bad PNG filter byte {ft}")
            out[y] = (rec % 256).astype(np.uint8)
        return out

    rng = np.random.default_rng(7)
    for ch in (1, 3, 4):
        for h, w in [(1, 1), (1, 7), (5, 1), (9, 13), (16, 16)]:
            stride = w * ch
            body = bytearray()
            for y in range(h):
                body.append(int(rng.integers(0, 5)))  # every filter type
                body.extend(rng.integers(0, 256, stride, dtype=np.uint8)
                            .tobytes())
            got = mm._png_unfilter(bytes(body), h, w, ch)
            want = reference(bytes(body), h, w, ch)
            assert got.dtype == want.dtype and got.shape == want.shape
            assert (got == want).all(), (ch, h, w)
