"""The codec queries' two shared Python stages: the fixture encode
(``plans/llm._encoded_assets``) and the decode
(``operators/multimodal._decode_stage``).

The decode contract: in one Arrow batch holding a good asset, a NULL
payload, truncated garbage and a header that declares a 65535 x 65535
frame, the bad rows get NULL facts and the good row its exact facts —
the batch never fails. The encode contract: what the workers unpickle
never imports the plan modules."""

from __future__ import annotations

import os
import struct
import subprocess
import sys

import numpy as np
import pytest

from pyspark import cloudpickle

from bigquery_cross_environment_etl_pipeline_spark import queries_catalog
from bigquery_cross_environment_etl_pipeline_spark.operators import jpeg, multimodal

from .conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _gif_bomb() -> bytes:
    """GIF whose screen and image declare 65535 x 65535, with an LZW
    stream of one clear code and the end code."""
    screen = struct.pack("<HHBBB", 65535, 65535, 0x80, 0, 0)
    image = b"\x2c" + struct.pack("<HHHHB", 0, 0, 65535, 65535, 0)
    return b"GIF89a" + screen + b"\x00" * 3 + b"\xff" * 3 + image + b"\x02\x02\x44\x01\x00\x3b"


def _jpeg_bomb() -> bytes:
    """A valid one-block baseline JPEG whose SOF0 declares 65535 x 65535."""
    b = bytearray(_jpeg_from_blocks(np.zeros((1, 1, 8, 8), dtype=np.int64)))
    i = b.find(b"\xff\xc0")
    b[i + 5 : i + 9] = struct.pack(">HH", 65535, 65535)
    return bytes(b)


def _wav_bomb() -> bytes:
    """PCM WAV declaring 65535 channels and 65535 x 65535 data bytes."""
    fmt = struct.pack("<HHIIHH", 1, 65535, 65535, 65535 * 65535, 65535, 8)
    data = b"data" + struct.pack("<I", 65535 * 65535) + b"\x00" * 16
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _jpeg_from_blocks(blocks) -> bytes:
    by, bx = blocks.shape[:2]
    return jpeg.encode_jpeg_from_coeffs([blocks], 8 * bx, 8 * by)


def _image_case():
    px = multimodal.formula_image(7)
    good = multimodal.encode_png(px)
    facts = {"width": 8 + 7 % 5, "height": 6 + 7 % 7, "n_channels": 3,
             "pixel_sum": int(px.sum(dtype="int64"))}
    return multimodal.decode_image_features, "multimodal.decode_image", good, _gif_bomb(), facts


def _resize_case():
    src = multimodal.formula_image(4)
    good = multimodal.encode_png(src)
    yi, xi = (np.arange(5) * src.shape[0]) // 5, (np.arange(4) * src.shape[1]) // 4
    want = multimodal.encode_png(src[yi][:, xi], "none")
    facts = {"target_w": 4, "target_h": 5, "payload": want, "n_bytes_out": len(want)}

    def stage(assets):
        return multimodal.resize_images_real(assets, target_w=4, target_h=5)

    return stage, "multimodal.decode_image", good, _jpeg_bomb(), facts


def _coefficient_case():
    blocks = np.zeros((2, 3, 8, 8), dtype=np.int64)
    blocks[0, 0, 0, 0], blocks[1, 2, 0, 1], blocks[0, 1, 3, 2] = 40, -3, 5
    weights = np.zeros((8, 8), dtype=np.int64)
    for i, (r, c) in enumerate(jpeg.ZIGZAG):
        weights[r, c] = i + 1
    facts = {"n_blocks": 6, "coef_checksum": int((blocks * weights).sum())}
    return (
        multimodal.decode_jpeg_coefficient_features,
        "jpeg.decode_jpeg_coefficients",
        _jpeg_from_blocks(blocks),
        _jpeg_bomb(),
        facts,
    )


def _audio_case():
    samples = (np.arange(-60, 60, dtype=np.int32) * 97).reshape(60, 2)
    good = multimodal.encode_wav(samples, 11025)
    facts = {"sample_rate": 11025, "n_channels": 2, "n_frames": 60,
             "amp_sum": int(samples.sum())}
    return multimodal.decode_audio_features, "multimodal.decode_wav", good, _wav_bomb(), facts


def _decode_error_in_capped_process(decoder: str, payload: bytes) -> str:
    """Name of the exception ``decoder`` raises on ``payload`` in a
    child process whose address space is capped at 2 GiB: a decoder
    that sizes its buffers from the declared frame hits the cap with
    MemoryError instead of filling the host's memory."""
    module, fn = decoder.split(".")
    code = (
        "import resource, sys\n"
        "resource.setrlimit(resource.RLIMIT_AS, (2 << 30, 2 << 30))\n"
        f"from bigquery_cross_environment_etl_pipeline_spark.operators import {module}\n"
        "try:\n"
        f"    {module}.{fn}(sys.stdin.buffer.read())\n"
        "    print('decoded')\n"
        "except Exception as e:\n"
        "    print(type(e).__name__)\n"
    )
    env = {**os.environ, "PYTHONPATH": REPO, "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1"}
    out = subprocess.run(
        [sys.executable, "-c", code], input=payload, env=env,
        capture_output=True, timeout=120, check=True,
    )
    return out.stdout.decode().strip()


@pytest.mark.parametrize(
    "case",
    [_image_case, _resize_case, _coefficient_case, _audio_case],
    ids=["image", "resize", "coefficients", "audio"],
)
def test_decode_stage_gives_every_bad_asset_null_facts(spark, case):
    stage, decoder, good, bomb, facts = case()
    # the bomb must be refused from its header before it reaches a
    # Spark worker, which has no address-space cap
    assert _decode_error_in_capped_process(decoder, bomb) == "ValueError"
    assets = spark.createDataFrame(
        [(1, good), (2, None), (3, good[: len(good) // 2]), (4, bomb)],
        "asset_id bigint, payload binary",
    ).coalesce(1)
    rows = {r["asset_id"]: r.asDict() for r in stage(assets).collect()}
    got = rows.pop(1)
    assert {k: got[k] for k in facts} == {
        k: bytearray(v) if isinstance(v, bytes) else v for k, v in facts.items()
    }
    null_cols = [c for c in got if c not in ("asset_id", "target_w", "target_h")]
    for asset_id, row in rows.items():
        assert all(row[c] is None for c in null_cols), (asset_id, row)
        assert (row.get("target_w"), row.get("target_h")) == (
            (got.get("target_w"), got.get("target_h"))
        ), asset_id


CODEC_QUERIES = [
    "multimodal_image_decode",
    "multimodal_png_decode",
    "multimodal_gif_decode",
    "multimodal_wav_decode",
    "multimodal_flac_decode",
    "multimodal_g711_decode",
    "multimodal_resize_decode",
    "multimodal_jpeg_decode",
    "multimodal_jpeg_coefficients",
    "multimodal_jpeg_progressive",
    "multimodal_jpeg12_decode",
    "multimodal_jpeg_lossless_decode",
    "multimodal_jpeg_arithmetic",
    "multimodal_jpeg_arithmetic_coefficients",
]


def test_codec_worker_functions_do_not_import_the_plan_modules(spark, monkeypatch):
    """Every function a codec query ships to the Python workers is
    pickled by value or refers only to operator modules: unpickling
    one must not import ``plans.llm``, which would cost each worker
    the import of the whole plan package."""
    shipped = []
    frame = type(spark.range(1))
    map_in_pandas = frame.mapInPandas

    def record(self, func, schema, *args, **kwargs):
        shipped.append(func)
        return map_in_pandas(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(frame, "mapInPandas", record)
    queries = queries_catalog.spark_queries()
    for name in CODEC_QUERIES:
        queries[name](spark, SF_SMOKE)
    assert len(shipped) == 2 * len(CODEC_QUERIES) + 1  # resize adds a stage
    code = (
        "import pickle, sys\n"
        "pickle.loads(sys.stdin.buffer.read())\n"
        "print(sorted(m for m in sys.modules if '.plans' in m))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        input=cloudpickle.dumps(shipped),
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        timeout=120,
        check=True,
    )
    assert out.stdout.decode().strip() == "[]"
