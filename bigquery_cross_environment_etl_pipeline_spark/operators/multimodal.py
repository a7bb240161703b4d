"""Multimodal column plumbing (north-star).

Images/audio/video are opaque ``binary`` payload columns with typed
metadata (schemas.MULTIMODAL_ASSET_SCHEMA). The Spark-side plumbing —
schema, partitioning, Arrow batch shape, UDF signatures — is real and
tested. Since round 7 the pixel decode itself is REAL for uncompressed
formats (``decode_image`` parses binary PPM/PGM and 24-bit BMP with
pure numpy, verified against an arithmetic oracle by the
``multimodal_image_decode`` query); since round 9 it is also real for
PNG — every 8-bit color type (gray/RGB/palette/gray+alpha/RGBA) in
both progressive modes (non-interlaced and Adam7) via stdlib ``zlib``
inflate + numpy unfiltering of all four scanline filters, verified by
the ``multimodal_png_decode`` query — for GIF 87a/89a (pure-Python
LZW with real dictionary growth, width escalation, 12-bit cap resets,
and the 4-pass row interlace; LZW is a dictionary coder, not a
library-bound entropy coder), and for AUDIO via RIFF/WAVE PCM
(``decode_wav``, 16-bit signed / 8-bit unsigned, chunk-walking the
RIFF grammar). Since round 10, JPEG is real too —
sequential AND progressive (``operators/jpeg.py``: Huffman entropy
decode with the full Annex G scan-script state machine, dequantization,
vectorized 8x8 IDCT, JFIF YCbCr->RGB, chroma subsampling, restart
markers). Lossless JPEG (SOF3,
Annex H prediction) decodes too. The remaining capability gate is
narrow and honest: arithmetic-coded JPEG (and 12-bit COLOR — 12-bit
grayscale decodes), WebP, MP3/AAC audio, and all video codecs. ``extract_features`` keeps the deterministic
hash featurizer so its oracle stays engine-reproducible.

Scale notes: payloads ride through ``mapInPandas`` as Arrow record
batches — the decode stage is embarrassingly parallel and IO-bound, so
the right partitioning is by input file (no shuffle at all); metadata-
only transformations (filtering by mime/size, sampling) stay pure
column ops and never deserialize the payload.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def synthesize_assets(documents: DataFrame) -> DataFrame:
    """Build a deterministic multimodal asset table from ``documents``
    (payload = utf-8 bytes of the text standing in for media bytes)."""
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime_type"),
    )


def formula_image(doc_id: int, channels: int = 3) -> "object":
    """The synthetic image the PPM, PNG and resize codec fixtures
    encode: pixel(x, y, c) = (doc_id + 3x + 7y + 11c) mod 256 at width
    8 + doc_id % 5 and height 6 + doc_id % 7, as an HxWxC uint8 array.
    Those queries' oracles restate the same formula in SQL."""
    import numpy as np

    w, h = 8 + doc_id % 5, 6 + doc_id % 7
    x = np.arange(w).reshape(1, w, 1)
    y = np.arange(h).reshape(h, 1, 1)
    c = np.arange(channels).reshape(1, 1, channels)
    return ((doc_id + 3 * x + 7 * y + 11 * c) % 256).astype(np.uint8)


def _ppm_header(payload: bytes, ch: int) -> tuple[int, int, int, int]:
    """Parse a binary netpbm header: (width, height, maxval, raster
    offset). Tokens are decimal runs separated by whitespace and/or
    '#'-to-newline comments ('#' may sit flush against a digit — it
    terminates the token). The raster delimiter is genuinely ambiguous
    when a comment trails the maxval (the raster is arbitrary binary,
    so 'space then #' could be either a header comment or pixel
    bytes); the EXACT raster length w*h*ch is the disambiguator —
    well-formed writers emit exactly that many bytes, so the candidate
    offset (strict single-whitespace vs comment-skipping) leaving
    exactly the raster is chosen, falling back to whichever leaves
    enough bytes, and raising (never silently misreading) when neither
    does."""
    L = len(payload)
    tokens: list[int] = []
    i = 2  # past magic
    while len(tokens) < 3:
        while i < L:
            b = payload[i : i + 1]
            if b.isspace():
                i += 1
            elif b == b"#":
                while i < L and payload[i] != 0x0A:
                    i += 1
            else:
                break
        j = i
        while j < L and payload[j : j + 1].isdigit():
            j += 1
        if j == i:
            raise ValueError("malformed netpbm header")
        tokens.append(int(payload[i:j]))
        i = j
    w, h, maxval = tokens
    need = w * h * ch
    strict = i + 1 if i < L and payload[i : i + 1].isspace() else None
    # lenient candidate ONLY when a comment trails the maxval (after an
    # optional whitespace run): each comment's terminating newline is
    # the delimiter, and nothing beyond it is consumed — the raster is
    # arbitrary binary, so eating "whitespace-valued" pixel bytes here
    # would silently shift the offset
    lenient = None
    k = i
    while k < L and payload[k : k + 1].isspace():
        k += 1
    while k < L and payload[k : k + 1] == b"#":
        while k < L and payload[k] != 0x0A:
            k += 1
        k += 1  # past the comment's newline — a valid delimiter
        lenient = k
    for cand in (strict, lenient):
        if cand is not None and L - cand == need:
            return w, h, maxval, cand
    for cand in (strict, lenient):
        if cand is not None and L - cand >= need:
            return w, h, maxval, cand
    raise ValueError("netpbm raster truncated")


#: DIB header sizes sharing BITMAPINFOHEADER's field layout for
#: everything this decoder reads (V2/V3/V4/V5 are supersets)
_BMP_INFO_SIZES = {40, 52, 56, 108, 124}


_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: IHDR color type -> channel count (palette pixels are indices into
#: PLTE, resolved after unfiltering)
_PNG_COLOR_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: spec §11.2.2: the valid bit depths per color type — every listed
#: combination is implemented; anything else is corruption
_PNG_VALID_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}

#: Adam7 pass grid (spec §8.2): (x_start, y_start, x_step, y_step).
#: Each pass is an independently-filtered sub-image; empty passes
#: (zero rows or columns at this size) contribute NO bytes at all.
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _png_chunks(payload: bytes):
    """Yield (type, data) for each chunk; raises ValueError on a
    structurally truncated stream. CRCs are NOT verified — the zlib
    inflate and exact-raster-length checks downstream catch real
    corruption, and skipping the CRC pass keeps the hot decode loop
    one linear scan."""
    import struct

    L, i = len(payload), 8
    while i < L:
        if i + 8 > L:
            raise ValueError("PNG chunk header truncated")
        (n,) = struct.unpack_from(">I", payload, i)
        typ = payload[i + 4 : i + 8]
        if i + 8 + n + 4 > L:
            raise ValueError(f"PNG chunk {typ!r} truncated")
        yield typ, payload[i + 8 : i + 8 + n]
        i += 12 + n
        if typ == b"IEND":
            return
    raise ValueError("PNG stream ended without IEND")


def _png_unfilter(raw: bytes, h: int, w: int, ch: int) -> "object":
    """Reverse the four PNG scanline filters (spec §9: None/Sub/Up/
    Average/Paeth) over the inflated byte stream — returns an (h,
    w*ch) uint8 array. Sub is vectorized as a per-lane cumsum (mod
    256 distributes over the running sum); Up is a whole-row add;
    Average/Paeth carry a true left-to-right data dependence, so they
    walk pixels — each step still vectorized across the ch channel
    bytes. A filter byte outside 0..4 raises (never silently treated
    as None: that is exactly the misread class _ppm_header designs
    out)."""
    import numpy as np

    stride = w * ch
    if len(raw) != h * (1 + stride):
        raise ValueError(
            f"PNG inflated stream is {len(raw)} bytes, expected "
            f"{h * (1 + stride)} (IDAT truncated or dims lie)"
        )
    # pure-Python int rows (round 12): the Average/Paeth filters carry
    # a strict left-to-right dependence, and the old per-PIXEL numpy
    # slicing paid ~8 tiny array ops per pixel — small-int list
    # arithmetic is ~5x faster at scanline widths and the math is
    # EXACT integer mod-256 either way (byte-equality with the numpy
    # reference is pinned in tests/test_optimization_r12.py). Filters
    # are applied to the RECONSTRUCTED (reduced mod 256) bytes per the
    # spec, so every intermediate here stays in 0..255.
    out_rows: list[list[int]] = []
    prev = [0] * stride
    for y in range(h):
        base = y * (1 + stride)
        ft = raw[base]
        row = list(raw[base + 1 : base + 1 + stride])
        if ft == 0:
            rec = row
        elif ft == 1:
            rec = row
            for i in range(ch, stride):
                rec[i] = (rec[i] + rec[i - ch]) & 0xFF
        elif ft == 2:
            rec = [(r + p) & 0xFF for r, p in zip(row, prev)]
        elif ft == 3:
            rec = row
            for i in range(stride):
                a = rec[i - ch] if i >= ch else 0
                rec[i] = (rec[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            rec = row
            for i in range(stride):
                a = rec[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                rec[i] = (rec[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter byte {ft} on scanline {y}")
        out_rows.append(rec)
        prev = rec
    return np.array(out_rows, dtype=np.uint8).reshape(h, stride)


def _adam7_scatter(raw: bytes, h: int, w: int, out: "object", decode_pass):
    """The ONE Adam7 pass walk (byte-pixel and sub-byte decodes both
    ride it): for each non-empty pass, ``decode_pass(buf, ph, pw) ->
    (sub_image, bytes_consumed)`` decodes that pass's scanlines, and
    the result scatters onto the pass's stride grid.
    Trailing/partial-pass truncation raises loudly."""
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        sub, n = decode_pass(raw[pos:], ph, pw)
        out[y0::dy, x0::dx] = sub
        pos += n
    if pos != len(raw):
        raise ValueError(
            f"Adam7 stream is {len(raw)} bytes, passes consume {pos} "
            "(IDAT truncated or padded)"
        )
    return out


def _adam7_unfilter(raw: bytes, h: int, w: int, ch: int) -> "object":
    """De-interlace an Adam7 stream of byte-sized pixels (``ch`` =
    bytes per pixel): unfilter each pass's sub-image independently
    (filters reference only bytes within their own pass) and scatter
    via ``_adam7_scatter``."""
    import numpy as np

    def decode_pass(buf: bytes, ph: int, pw: int):
        n = ph * (1 + pw * ch)
        return _png_unfilter(buf[:n], ph, pw, ch).reshape(ph, pw, ch), n

    return _adam7_scatter(raw, h, w, np.empty((h, w, ch), dtype=np.uint8), decode_pass)


def decode_png(payload: bytes) -> "object":
    """Pure numpy + stdlib-zlib PNG decode for 8- AND 16-bit PNGs of
    EVERY color type — grayscale / RGB / palette / gray+alpha / RGBA
    (0/2/3/4/6; palette is 8-bit by spec) — in both progressive modes
    (non-interlaced and Adam7). IHDR is parsed, IDAT chunks are
    concatenated and inflated (PNG's DEFLATE layer IS stdlib zlib —
    no image library involved), the four scanline filters are
    reversed in numpy over bytes at bpp distance (so depth 16 reuses
    the same machinery), Adam7 passes are de-interlaced onto their
    stride grids, sub-byte depths (1/2/4, gray/palette) bit-unpack
    MSB-first with padding trimmed, and palette indices are resolved
    through PLTE — EVERY spec-valid (depth, color) combination is
    implemented. Transparency raises NotImplementedError (tRNS —
    silently dropping alpha would be a misread); structural corruption
    (truncated IDAT, bad filter byte, short chunks, out-of-range
    palette index, spec-invalid depth/color pairs) raises ValueError
    loudly.

    Returns HxW for grayscale, HxWxC for multi-channel images
    (palette resolves to HxWx3) — uint8 for 8-bit sources, uint16 for
    16-bit (never a lossy downcast); always a fresh writable array."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    ihdr = plte = trns = None
    idat = []
    for typ, data in _png_chunks(payload):
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"tRNS":
            trns = data
        elif typ == b"IDAT":
            idat.append(data)
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("PNG IHDR missing or malformed")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if comp != 0 or filt != 0:
        raise ValueError(f"PNG compression/filter method {comp}/{filt} invalid")
    if interlace not in (0, 1):
        raise ValueError(f"PNG interlace method {interlace} invalid")
    if color not in _PNG_VALID_DEPTHS:
        raise ValueError(f"PNG color type {color} invalid")
    if depth not in _PNG_VALID_DEPTHS[color]:
        # a spec-invalid (depth, color) pair is CORRUPTION — every
        # spec-valid combination is now implemented
        raise ValueError(
            f"PNG bit depth {depth} is invalid for color type {color}"
        )
    if color == 3 and (plte is None or not plte or len(plte) % 3):
        # structural validation FIRST: a malformed PLTE is corruption
        # and must report as such even when a tRNS chunk is also
        # present (review finding — error classes route downstream
        # retry-with-a-library decisions, so they must not lie)
        raise ValueError("palette PNG with missing/malformed PLTE")
    if trns is not None:
        # tRNS is spec-valid for color types 0/2/3 only (one
        # transparent gray/RGB value, or per-palette-entry alpha).
        # There it is a CAPABILITY gate (NotImplementedError): decoding
        # to an alpha-less array would silently render transparent
        # pixels opaque, and a library could do better. On the alpha
        # color types 4/6 the spec forbids tRNS outright — corruption,
        # not a gate a library would fix.
        if color in (4, 6):
            raise ValueError("PNG tRNS chunk is invalid for alpha color types")
        raise NotImplementedError(
            "PNG transparency (tRNS) not supported — dropping alpha "
            "silently would be a misread"
        )
    if w <= 0 or h <= 0:
        raise ValueError("PNG dimensions must be positive")
    if not idat:
        raise ValueError("PNG has no IDAT chunk")
    ch = _PNG_COLOR_CHANNELS[color]
    # the declared dimensions fix the EXACT inflated size (per pass:
    # ph * (1 + ceil(pw*depth*ch/8))), so bound the inflate to it —
    # a crafted tiny-IDAT/huge-stream payload must not be able to
    # allocate more than the header admits (ADVICE r9: an unbounded
    # zlib.decompress here turned one hostile asset into a
    # batch-killing MemoryError)
    if interlace:
        expected = sum(
            ph * (1 + (pw * depth * ch + 7) // 8)
            for x0, y0, dx, dy in _ADAM7
            for pw, ph in (
                ((w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy),
            )
            if pw > 0 and ph > 0
        )
    else:
        expected = h * (1 + (w * depth * ch + 7) // 8)
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(b"".join(idat), expected)
        if dec.unconsumed_tail:
            raise ValueError(
                "PNG IDAT inflates beyond the size its declared "
                f"dimensions imply ({expected} bytes)"
            )
        if len(raw) == expected and not dec.eof:
            # bounded decompression must still END the stream: a
            # complete data section with the adler32 trailer cut off
            # is corruption the unbounded path used to raise on
            # (round-10 review finding — the bound must not weaken
            # the integrity contract)
            raise ValueError("PNG IDAT stream truncated (no stream end)")
    except zlib.error as ex:
        raise ValueError(f"PNG IDAT inflate failed: {ex}") from ex
    if depth < 8:
        # sub-byte samples (gray/palette only, so ch == 1): the
        # filters operate on the PACKED bytes at distance 1 (spec §9:
        # bpp rounds up to one byte), so unfilter each scanline's
        # ceil(w*depth/8) bytes, then bit-unpack MSB-first and trim
        # the final byte's padding bits
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.int64)

        def unpack(bts: "object", rows: int, width: int) -> "object":
            bits = np.unpackbits(bts.reshape(rows, -1), axis=1)
            vals = bits.reshape(rows, -1, depth) @ weights
            return vals[:, :width].astype(np.uint8)

        if interlace:

            def decode_pass(buf: bytes, ph: int, pw: int):
                prb = (pw * depth + 7) // 8
                n = ph * (1 + prb)
                return unpack(_png_unfilter(buf[:n], ph, prb, 1), ph, pw), n

            samples = _adam7_scatter(
                raw, h, w, np.empty((h, w), dtype=np.uint8), decode_pass
            )
        else:
            rb = (w * depth + 7) // 8
            samples = unpack(_png_unfilter(raw, h, rb, 1), h, w)
        arr = samples[:, :, None]
        if color == 0:
            # raw sample values (0 .. 2^depth-1), NOT rescaled — the
            # exact stored data; rescaling to 0..255 is presentation
            return samples.copy()
        # color == 3: fall through to the palette resolution below
    else:
        # the four filters operate on BYTES at bpp distance (spec §9),
        # so the unfilter machinery takes bytes-per-pixel
        bpp = ch * (depth // 8)
        if interlace:
            arr = _adam7_unfilter(raw, h, w, bpp)
        else:
            arr = _png_unfilter(raw, h, w, bpp).reshape(h, w, bpp)
    if depth == 16:
        # big-endian sample pairs -> uint16 (the one contract widening:
        # 16-bit sources return uint16 arrays, never a lossy downcast)
        pairs = arr.reshape(h, w, ch, 2).astype(np.uint16)
        arr16 = (pairs[..., 0] << 8) | pairs[..., 1]
        return arr16[:, :, 0].copy() if ch == 1 else arr16.copy()
    if color == 3:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = arr[:, :, 0]
        if int(idx.max()) >= pal.shape[0]:
            raise ValueError(
                f"palette index {int(idx.max())} out of range "
                f"(PLTE has {pal.shape[0]} entries)"
            )
        return pal[idx].copy()
    return arr[:, :, 0].copy() if ch == 1 else arr.copy()


def _filter_scanlines(img: "object", policy: str) -> list[bytes]:
    """Filter one (sub-)image's scanlines per the spec: row y under
    ``policy='cycle'`` gets filter y%5 (deliberately exercising ALL
    FIVE filters so a round-trip proves every unfilter branch);
    ``'none'`` emits filter 0 everywhere. Filtering operates on raw
    values (recon == raw for a lossless codec), one numpy shot per
    row."""
    import numpy as np

    h, w, ch = img.shape
    flat = img.reshape(h, w * ch).astype(np.int64)
    zeros_row = np.zeros(w * ch, dtype=np.int64)
    lines = []
    for y in range(h):
        raw = flat[y]
        prev = flat[y - 1] if y else zeros_row
        left = np.concatenate([np.zeros(ch, dtype=np.int64), raw[:-ch]])
        ul = np.concatenate([np.zeros(ch, dtype=np.int64), prev[:-ch]])
        ft = (y % 5) if policy == "cycle" else 0
        if ft == 0:
            f = raw
        elif ft == 1:
            f = raw - left
        elif ft == 2:
            f = raw - prev
        elif ft == 3:
            f = raw - (left + prev) // 2
        else:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            f = raw - pred
        lines.append(bytes([ft]) + (f % 256).astype(np.uint8).tobytes())
    return lines


def encode_png(
    arr: "object",
    filter_policy: str = "cycle",
    interlace: bool = False,
    palette: "object | None" = None,
    depth: int | None = None,
) -> bytes:
    """Encode a numpy array as a PNG — uint8 input writes depth 8,
    uint16 writes depth 16 (big-endian sample pairs). Input is HxW
    gray or HxWxC for C in 2/3/4 — or, with ``palette`` (a (P,3)
    uint8 color table, P <= 256), an HxW array of palette INDICES
    written as color type 3 with a PLTE chunk (spec-valid at depths
    1/2/4/8, all supported here; 16-bit palette is spec-invalid and
    rejected). ``interlace=True`` writes
    Adam7: each of the seven passes is extracted on its stride grid
    and filtered as an independent sub-image (empty passes emit no
    bytes), exactly the layout ``_adam7_unfilter`` reverses. See
    ``_filter_scanlines`` for the filter policy."""
    import struct
    import zlib

    import numpy as np

    src = np.asarray(arr)
    if depth is None:
        depth = 16 if src.dtype == np.uint16 else 8
    elif depth in (1, 2, 4):
        if src.ndim != 2:
            raise ValueError("sub-byte PNG encode needs an HxW array")
    elif depth not in (8, 16):
        raise ValueError(f"PNG bit depth {depth} unsupported")
    # range-validate EVERY depth before any dtype cast (review
    # finding: an explicit depth=8 over uint16 data silently wrapped
    # mod 256, and negatives sailed through — the encoder refuses
    # rather than corrupts, the same contract as encode_wav)
    if not (
        np.issubdtype(src.dtype, np.integer) or src.dtype == np.bool_
    ):
        raise ValueError(f"PNG encode needs integer samples, got {src.dtype}")
    if src.size and (
        int(src.min()) < 0 or int(src.max()) >= (1 << depth)
    ):
        raise ValueError(
            f"sample out of {depth}-bit range "
            f"[{int(src.min())}, {int(src.max())}]"
        )
    a = src if depth == 16 else np.asarray(arr, dtype=np.uint8)
    if palette is not None:
        if depth == 16:
            raise ValueError("PNG 16-bit palette is spec-invalid")
        pal = np.asarray(palette, dtype=np.uint8)
        if a.ndim != 2 or pal.ndim != 2 or pal.shape[1] != 3 or len(pal) > 256:
            raise ValueError("palette encode needs HxW indices and a (P<=256,3) table")
        if int(a.max()) >= len(pal):
            raise ValueError("palette index out of range")
        color = 3
        a = a[:, :, None]
    else:
        if a.ndim == 2:
            a = a[:, :, None]
        color = {1: 0, 2: 4, 3: 2, 4: 6}[a.shape[2]]
    if depth == 16:
        # interleave big-endian byte pairs; the filter stage operates
        # on bytes with bpp = 2*ch, exactly what the decoder reverses
        hi = (a >> 8).astype(np.uint8)
        lo = (a & 0xFF).astype(np.uint8)
        a = np.stack([hi, lo], axis=-1).reshape(a.shape[0], a.shape[1], -1)
    h, w = a.shape[:2]
    if depth < 8:
        # pack samples MSB-first into scanline bytes (packbits
        # zero-pads the final byte, matching the decoder's trim);
        # filtering then runs over the packed bytes at distance 1
        shifts = np.arange(depth - 1, -1, -1)

        def pack(img: "object") -> "object":
            ph, pw = img.shape[:2]
            bits = ((img[:, :, 0][:, :, None] >> shifts) & 1).reshape(
                ph, pw * depth
            )
            return np.packbits(bits, axis=1)[:, :, None]

        prep = pack
    else:
        prep = lambda img: img  # noqa: E731 — trivial passthrough
    if interlace:
        lines = []
        for x0, y0, dx, dy in _ADAM7:
            sub = a[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                lines.extend(_filter_scanlines(prep(sub), filter_policy))
    else:
        lines = _filter_scanlines(prep(a), filter_policy)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, int(interlace))
    out = _PNG_SIG + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", pal.tobytes())
    return out + chunk(b"IDAT", zlib.compress(b"".join(lines))) + chunk(b"IEND", b"")


def decode_image(payload: bytes) -> object:
    """Decode an image payload to a numpy array — HxWxC for
    multi-channel (C in 2/3/4), HxW for grayscale; uint8, EXCEPT that
    16-bit PNG sources return uint16 (never a lossy downcast); always
    a fresh WRITABLE array (never a read-only view over the payload
    buffer). REAL (pure-numpy) for binary PPM (P6, RGB), binary PGM
    (P5, grayscale), uncompressed 24-bit bottom-up BMP with a
    BITMAPINFOHEADER-family DIB header, and — since round 9 — PNG at
    every spec-valid depth x color combination in both progressive
    modes via stdlib zlib + numpy unfiltering (``decode_png``) — and
    GIF 87a/89a via pure-Python LZW (``decode_gif``) — and, since
    round 10, sequential AND progressive JPEG via ``operators/jpeg.py``
    (Huffman + Annex G scan scripts + dequant + numpy IDCT + JFIF
    YCbCr->RGB). Only WebP and the non-Huffman JPEG processes
    (arithmetic coding, hierarchical, CMYK; 12-bit COLOR)
    remain the declared capability gate — wire
    ``PIL.Image.open(io.BytesIO(payload))`` there on a real cluster.
    Malformed payloads raise ValueError loudly — silent misreads are
    designed out (see ``_ppm_header``).

    Round 7: previously the WHOLE function was the gate; round 9
    narrowed it to entropy-coded formats; round 10 to
    arithmetic-coded/esoteric processes only."""
    import numpy as np

    magic = bytes(payload[:2])
    if magic in (b"P6", b"P5"):
        ch = 3 if magic == b"P6" else 1
        w, h, maxval, off = _ppm_header(payload, ch)
        if maxval > 255:
            raise NotImplementedError("16-bit netpbm not supported")
        raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * ch, offset=off)
        arr = raster.reshape(h, w, ch).copy()  # writable, detached
        return arr[:, :, 0] if ch == 1 else arr
    if magic == b"BM":
        import struct

        if len(payload) < 34:
            raise ValueError("BMP header truncated")
        dib = struct.unpack_from("<I", payload, 14)[0]
        if dib not in _BMP_INFO_SIZES:
            raise NotImplementedError(
                f"BMP DIB header size {dib} (e.g. OS/2 BITMAPCOREHEADER) "
                "is not supported without an image library"
            )
        off = struct.unpack_from("<I", payload, 10)[0]
        w, h = struct.unpack_from("<ii", payload, 18)
        bits = struct.unpack_from("<H", payload, 28)[0]
        comp = struct.unpack_from("<I", payload, 30)[0]
        if bits != 24 or comp != 0 or h <= 0 or w <= 0:
            raise NotImplementedError(
                "only uncompressed 24-bit bottom-up BMP is supported "
                "without an image library"
            )
        stride = (w * 3 + 3) // 4 * 4  # rows padded to 4 bytes
        if len(payload) < off + stride * h:
            raise ValueError("BMP raster truncated")
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=off
        ).reshape(h, stride)
        bgr = rows[:, : w * 3].reshape(h, w, 3)[::-1]  # bottom-up -> top-down
        return bgr[:, :, ::-1].copy()  # BGR -> RGB
    if bytes(payload[:8]) == _PNG_SIG:
        return decode_png(bytes(payload))
    if bytes(payload[:6]) in (b"GIF87a", b"GIF89a"):
        return decode_gif(bytes(payload))
    if magic == b"\xff\xd8":
        # sequential, progressive, AND lossless JPEG decode for real
        # (round 10, operators/jpeg.py: Huffman/Annex G scan scripts +
        # dequant + numpy IDCT + YCbCr; Annex H prediction for SOF3);
        # arithmetic-coded/CMYK raise NotImplementedError inside
        # decode_jpeg — still per-asset, never per-batch
        from . import jpeg

        return jpeg.decode_jpeg(bytes(payload))
    raise NotImplementedError(
        "WebP (VP8 arithmetic coding) requires an image library not "
        "present in this container; wire "
        "PIL.Image.open(io.BytesIO(payload)) here"
    )


DECODE_SCHEMA = (
    "asset_id bigint, width int, height int, n_channels int, pixel_sum bigint"
)


COEFF_SCHEMA = "asset_id bigint, n_blocks int, coef_checksum bigint"

#: Spark type of a decode stage's fact column -> its pandas dtype; the
#: integer facts are NULLABLE (a bad asset's facts are NULL)
_FACT_DTYPES = {"int": "Int32", "bigint": "Int64", "binary": object}


def _decode_stage(
    assets: DataFrame,
    schema: str,
    decode: Callable[[bytes], object],
    make_facts: Callable[[], Callable[[object], tuple]],
    consts: dict | None = None,
) -> DataFrame:
    """The one Arrow-batched decode stage every codec family shares:
    ``decode(raw: bytes)`` parses each ``payload``; ``make_facts()``
    runs once per partition (per-partition setup such as weight tables
    or index caches) and returns ``facts(parsed) -> tuple``, one value
    per ``schema`` column after ``asset_id`` that is not in ``consts``
    (columns with one value for every row). NULL and UNDECODABLE
    payloads (malformed bytes, gated codecs) produce NULL facts rather
    than killing the Arrow batch: one bad asset must not take the
    other thousands in its batch down with it (the extract_features
    contract); a curation filter on a NULL fact isolates them
    downstream. Payloads never shuffle: each batch decodes where it
    was read."""
    consts = consts or {}
    columns = [c.split() for c in schema.split(",")[1:]]
    fact_names = [n for n, _ in columns if n not in consts]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        facts = make_facts()
        null_facts = (None,) * len(fact_names)
        for pdf in batches:
            rows = []
            for b in pdf["payload"]:
                parsed = None
                if b is not None:
                    try:
                        parsed = decode(bytes(b))
                    except (ValueError, NotImplementedError, IndexError, MemoryError):
                        # MemoryError: an allocation sized from a hostile
                        # header fails per-asset, not per-batch. The
                        # decoders refuse a declared 65535x65535 frame
                        # before allocating (jpeg.MAX_FRAME_PIXELS, the
                        # GIF/PNG/WAV data-length checks), because on an
                        # overcommitting host a huge allocation ends in
                        # the OOM killer, not here
                        parsed = None
                rows.append(null_facts if parsed is None else facts(parsed))
            values = dict(zip(fact_names, zip(*rows))) if rows else {}
            out = {"asset_id": pdf["asset_id"]}
            for n, t in columns:
                out[n] = consts[n] if n in consts else pd.array(
                    list(values.get(n, ())), dtype=_FACT_DTYPES[t]
                )
            yield pd.DataFrame(out)

    return assets.mapInPandas(run, schema)


def decode_jpeg_coefficient_features(assets: DataFrame) -> DataFrame:
    """Arrow decode stage over the JPEG ENTROPY LAYER specifically:
    each payload is parsed by ``jpeg.decode_jpeg_coefficients`` down to
    its dequantized coefficient blocks (no IDCT, no color), reduced to
    the block count and the zigzag-position-weighted integer checksum
    ``sum over blocks of sum_i (i+1) * coef[zigzag i]`` — weighting by
    scan position makes a decoder that misorders the zigzag, drops a
    ZRL, or mispredicts a DC difference hash-fail even when the raw
    coefficient multiset is right. Same one-bad-asset NULL-facts and
    zero-shuffle contract as ``decode_image_features``."""
    import numpy as np

    from . import jpeg

    def decode(raw: bytes):
        return jpeg.decode_jpeg_coefficients(raw)[1]

    def make_facts():
        weights = np.zeros((8, 8), dtype=np.int64)
        for i, (r, c) in enumerate(jpeg.ZIGZAG):
            weights[r, c] = i + 1

        def facts(comps):
            return (
                sum(int(a.shape[0] * a.shape[1]) for a in comps),
                sum(int((a * weights).sum()) for a in comps),
            )

        return facts

    return _decode_stage(assets, COEFF_SCHEMA, decode, make_facts)


def decode_image_features(assets: DataFrame) -> DataFrame:
    """REAL decode stage over ``mapInPandas``: each ``payload`` is
    parsed by ``decode_image`` (pure numpy for uncompressed formats)
    and reduced to exact-integer facts — dimensions, channel count,
    and the uint8 pixel sum (order-independent, so it hash-compares
    bitwise against an arithmetic oracle). Input contract: columns
    ``asset_id`` and ``payload``. NULL and undecodable payloads get
    NULL facts (the ``_decode_stage`` contract); a curation filter on
    ``width IS NULL`` isolates them downstream."""

    def facts(arr):
        h, w = arr.shape[:2]
        ch = 1 if arr.ndim == 2 else arr.shape[2]
        # sum with an int64 accumulator, no 8x int64 copy of the pixel
        # buffer
        return w, h, ch, int(arr.sum(dtype="int64"))

    return _decode_stage(assets, DECODE_SCHEMA, decode_image, lambda: facts)


FEATURE_SCHEMA = (
    "asset_id bigint, modality string, n_bytes bigint, feature_hash bigint"
)


def extract_features(assets: DataFrame) -> DataFrame:
    """Featurize payloads via mapInPandas (Arrow-batched).

    The stub feature is deterministic (payload length + 48-bit content
    hash) so tests can assert exact values; a real featurizer returns an
    embedding array in the same batch shape. A NULL payload featurizes
    to NULL features (edge-replay finding: ``len(None)`` crashed the
    whole Arrow batch — one bad asset must not kill the pipeline).
    """
    import hashlib

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pd.array(
                        [None if b is None else len(b) for b in payloads],
                        dtype="Int64",
                    ),
                    "feature_hash": pd.array(
                        [
                            None
                            if b is None
                            else int(
                                hashlib.md5(bytes(b)).hexdigest()[:12], 16
                            )
                            for b in payloads
                        ],
                        dtype="Int64",
                    ),
                }
            )

    return assets.mapInPandas(featurize, FEATURE_SCHEMA)


def extract_features_arrow(assets: DataFrame) -> DataFrame:
    """Same featurization via ``mapInArrow`` — the zero-copy path for
    binary-heavy columns: payload bytes stay in the Arrow buffers
    (``binary_length`` is a vectorized kernel over offsets; the hash
    reads each value's buffer view) instead of being copied into pandas
    Python objects per row. For multi-MB media payloads the
    pandas-conversion copy is the dominant cost — this variant removes
    it. Output is bit-identical to ``extract_features``."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc

    def featurize(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            payload = batch.column(batch.schema.get_field_index("payload"))
            # NULL payload -> NULL hash (pc.binary_length already
            # propagates the null natively)
            hashes = pa.array(
                (
                    int(
                        hashlib.md5(v.as_buffer().to_pybytes()).hexdigest()[:12],
                        16,
                    )
                    if v.is_valid
                    else None
                    for v in payload
                ),
                type=pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("asset_id")),
                    batch.column(batch.schema.get_field_index("modality")),
                    pc.cast(pc.binary_length(payload), pa.int64()),
                    hashes,
                ],
                names=["asset_id", "modality", "n_bytes", "feature_hash"],
            )

    return assets.mapInArrow(featurize, FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "asset_id bigint, modality string, target_w int, target_h int, "
    "payload binary, n_bytes_out bigint"
)


def resize_images(assets: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """LEGACY byte-truncation resize stub, kept only because the
    ``multimodal_resize_plumbing`` oracle pins its deterministic
    output (payload = first ``target_w * target_h // 64`` bytes). The
    REAL pixel path is ``resize_images_real`` (round 9): decode ->
    nearest-neighbor resample -> PNG re-encode, verified end-to-end by
    the ``multimodal_resize_decode`` query. Image-only rows are
    filtered BEFORE the UDF, so non-image payloads never cross the
    Arrow boundary."""

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_out = max(target_w * target_h // 64, 1)
        for pdf in batches:
            out = pdf["payload"].map(lambda b: bytes(b)[:n_out])
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "target_w": target_w,
                    "target_h": target_h,
                    "payload": out,
                    "n_bytes_out": out.map(len).astype("int64"),
                }
            )

    return (
        assets.filter(F.col("modality") == "image")
        .mapInPandas(do_resize, RESIZE_SCHEMA)
    )


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: explode (asset_id, frame_ts) rows for
    a downstream decoder — pure column ops; the decode itself is the
    stubbed stage."""
    return (
        assets.filter(F.col("modality") == "video")
        .withColumn("duration_ms", F.length("payload").cast("bigint") * 10)
        .select(
            "asset_id",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )


# ---------------------------------------------------------------------------
# Audio: RIFF/WAVE PCM decode (pure stdlib struct + numpy)
# ---------------------------------------------------------------------------

def decode_wav(payload: bytes) -> tuple[int, "object"]:
    """Decode a RIFF/WAVE payload to (sample_rate, samples) where
    ``samples`` is an int32 numpy array shaped (n_frames, n_channels)
    — REAL for the PCM encodings a pipeline's own artifacts use:
    16-bit signed and 8-bit unsigned (rescaled to signed around 0, the
    WAV convention). Chunk walking follows the RIFF grammar (chunks
    are (id, size, data) with word alignment padding), so metadata
    chunks (LIST/fact/cue) before or after ``data`` are skipped, not
    misread. G.711 mu-law/A-law (format tags 7/6, round 11) expand to
    13/14-bit linear PCM via the published table-free CCITT formulas.
    Other compressed codecs (ADPCM, MP3-in-WAV, float formats)
    raise NotImplementedError; structural corruption (bad magic,
    missing fmt/data, truncated data, zero channels) raises ValueError
    loudly — the same contract as ``decode_png``."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = None
    data = None
    i = 12
    L = len(payload)
    while i + 8 <= L:
        cid = payload[i : i + 4]
        (n,) = struct.unpack_from("<I", payload, i + 4)
        if i + 8 + n > L:
            raise ValueError(f"WAV chunk {cid!r} truncated")
        if cid == b"fmt ":
            if fmt is not None:
                raise ValueError("WAV has duplicate fmt chunks")
            fmt = payload[i + 8 : i + 8 + n]
        elif cid == b"data":
            if data is not None:
                raise ValueError("WAV has duplicate data chunks")
            data = payload[i + 8 : i + 8 + n]
        i += 8 + n + (n & 1)  # chunks are word-aligned
    if 0 < L - i:
        # 1-7 dangling bytes can't be a chunk header — structural
        # corruption, raised loudly per the docstring contract (a
        # missing FINAL word-align pad byte lands i == L+1 and is
        # tolerated, matching common writers)
        raise ValueError(
            f"WAV has {L - i} trailing bytes that are not a chunk"
        )
    if fmt is None or len(fmt) < 16:
        raise ValueError("WAV fmt chunk missing or short")
    if data is None:
        raise ValueError("WAV data chunk missing")
    audio_format, n_ch, rate, _byte_rate, block_align, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if audio_format not in (1, 6, 7):
        raise NotImplementedError(
            f"WAV audio format {audio_format} (ADPCM/float/MP3-in-WAV) "
            "requires an audio library"
        )
    if n_ch == 0 or rate == 0:
        raise ValueError("WAV with zero channels or zero sample rate")
    if audio_format in (6, 7):
        # G.711 A-law (6) / mu-law (7): one byte per sample, expanded
        # by the published table-free formulas to 13/14-bit linear
        # PCM (the CCITT reference alaw2linear/ulaw2linear) — round 11
        if bits != 8:
            raise ValueError(f"G.711 WAV must be 8-bit, declares {bits}")
        if len(data) % n_ch:
            raise ValueError("G.711 data not a whole number of frames")
        if block_align not in (0, n_ch):
            raise ValueError(
                "WAV block alignment inconsistent with channels/depth"
            )
        codes = np.frombuffer(data, dtype=np.uint8).astype(np.int32)
        if audio_format == 7:  # mu-law
            u = 0xFF - codes  # one's complement
            t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)
            arr = np.where(u & 0x80, 0x84 - t, t - 0x84)
        else:  # A-law
            a = codes ^ 0x55
            t = (a & 0x0F) << 4
            seg = (a >> 4) & 7
            t = np.where(
                seg == 0, t + 8,
                np.where(seg == 1, t + 0x108, (t + 0x108) << np.maximum(seg - 1, 0)),
            )
            arr = np.where(a & 0x80, t, -t)
        return int(rate), arr.reshape(-1, n_ch)
    if bits == 16:
        if len(data) % (2 * n_ch):
            raise ValueError("WAV 16-bit data not a whole number of frames")
        arr = np.frombuffer(data, dtype="<i2").astype(np.int32)
    elif bits == 8:
        if len(data) % n_ch:
            raise ValueError("WAV 8-bit data not a whole number of frames")
        # 8-bit WAV is UNSIGNED with midpoint 128 — recenter to signed
        arr = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    else:
        raise NotImplementedError(f"WAV bit depth {bits} not supported (8/16 only)")
    if block_align not in (0, n_ch * bits // 8):
        raise ValueError("WAV block alignment inconsistent with channels/depth")
    return int(rate), arr.reshape(-1, n_ch)


def encode_wav_g711(codes: "object", sample_rate: int, law: str) -> bytes:
    """Write G.711 companded bytes (uint8 codes shaped (n_frames,
    n_channels) or (n_frames,)) as a RIFF/WAVE stream with format tag
    7 (``law='mu'``) or 6 (``law='a'``), 8 bits per sample — the
    engine-side generator the driver oracle pairs with
    ``decode_wav``'s expansion formulas."""
    import struct

    import numpy as np

    a = np.asarray(codes)
    if a.ndim == 1:
        a = a[:, None]
    if a.ndim != 2:
        raise ValueError("codes must be (n_frames,) or (n_frames, n_channels)")
    if a.size and (int(a.min()) < 0 or int(a.max()) > 255):
        raise ValueError("G.711 codes must be bytes (0..255)")
    tag = {"mu": 7, "a": 6}.get(law)
    if tag is None:
        raise ValueError(f"unknown G.711 law {law!r} ('mu' or 'a')")
    n_ch = a.shape[1]
    data = a.astype(np.uint8).tobytes()
    fmt = struct.pack(
        "<HHIIHH", tag, n_ch, sample_rate, sample_rate * n_ch, n_ch, 8
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav(samples: "object", sample_rate: int) -> bytes:
    """Encode an int numpy array shaped (n_frames, n_channels) — or
    (n_frames,) for mono — as 16-bit PCM RIFF/WAVE. Values must fit
    int16 (the encoder refuses rather than wraps: silent clipping is
    the audio analog of a pixel misread)."""
    import struct

    import numpy as np

    a = np.asarray(samples)
    if a.ndim == 1:
        a = a[:, None]
    if a.ndim != 2:
        raise ValueError("samples must be (n_frames,) or (n_frames, n_channels)")
    if a.size and (int(a.max()) > 32767 or int(a.min()) < -32768):
        raise ValueError("samples exceed int16 range")
    n_ch = a.shape[1]
    data = a.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, sample_rate, sample_rate * n_ch * 2, n_ch * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# GIF: LZW decode/encode (pure Python — LZW is a dictionary coder, not
# a library-bound entropy coder; the historical gate was the patent,
# which expired in 2004)
# ---------------------------------------------------------------------------

def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> list[int]:
    """Decode a GIF LZW stream (LSB-first variable-width codes, clear/
    end codes, 12-bit dictionary cap) into exactly ``n_pixels`` color
    indices. Structural violations — a code beyond the dictionary, a
    stream that ends without the end code, or pixel overrun — raise
    ValueError loudly."""
    clear = 1 << min_code_size
    end = clear + 1
    # rolling accumulator + byte cursor (same pattern as the encoder):
    # a whole-stream big int re-shifted per code is O(bits^2) — minutes
    # per real-corpus GIF in the decode hot path
    buf = 0
    nbits = 0
    pos = 0
    n_bytes = len(data)
    width = min_code_size + 1
    table: dict[int, tuple[int, ...]] = {i: (i,) for i in range(clear)}
    next_code = end + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    while True:
        while nbits < width:
            if pos >= n_bytes:
                raise ValueError("GIF LZW stream ended without end code")
            buf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = buf & ((1 << width) - 1)
        buf >>= width
        nbits -= width
        if code == clear:
            table = {i: (i,) for i in range(clear)}
            width = min_code_size + 1
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code not in table:
                raise ValueError(f"GIF LZW first code {code} not a root")
            entry = table[code]
        else:
            if code in table:
                entry = table[code]
            elif code == next_code:
                entry = prev + (prev[0],)  # the KwKwK case
            else:
                raise ValueError(f"GIF LZW code {code} beyond dictionary")
            if next_code < 4096:
                table[next_code] = prev + (entry[0],)
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
        out.extend(entry)
        prev = entry
        if len(out) > n_pixels:
            raise ValueError("GIF LZW produced more pixels than the frame holds")
    if len(out) != n_pixels:
        raise ValueError(
            f"GIF LZW produced {len(out)} pixels, frame holds {n_pixels}"
        )
    return out


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF LZW encoder (real dictionary growth, width escalation, and
    a clear-code reset at the 12-bit cap) — exists so round-trip tests
    and the oracle query exercise the DECODER's dictionary machinery,
    not just root codes."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    buf = 0
    nbits = 0

    def emit(code: int, w: int) -> None:
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    width = min_code_size + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = end + 1
    emit(clear, width)
    w: tuple[int, ...] = ()
    for px in indices:
        px = int(px)
        wk = w + (px,)
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # the decoder's dictionary lags this one by exactly one
            # entry, so the encoder escalates width one add LATER
            # (when next_code passes 1<<width, not when it reaches it)
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            width = min_code_size + 1
            next_code = end + 1
        w = (px,)
    if w:
        emit(table[w], width)
        # the decoder performs ONE MORE dictionary add upon reading
        # this final code and may escalate its code width before
        # reading END — mirror it, or END goes out at a narrower
        # width than the decoder reads it with (caught by fuzzing:
        # ~0.5% of streams, whenever the final add lands exactly on
        # 2^width). next_code > end+1 ⇔ the flush code is not the
        # first since a reset, i.e. the decoder really does add.
        if next_code > end + 1 and next_code == (1 << width) and width < 12:
            width += 1
    emit(end, width)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def decode_gif(payload: bytes) -> "object":
    """Pure-Python GIF decode (87a/89a): logical screen descriptor,
    global/local color tables, extension-block skipping, LZW
    decompression, and the 4-pass GIF row interlace — returning the
    FIRST frame as an HxWx3 uint8 RGB array (multi-frame animations
    decode their first frame; frame_sample_plan is the video-path
    analog). Transparency (a GCE with the transparent-color flag)
    raises NotImplementedError — resolving it to RGB would silently
    drop alpha, the same contract as PNG tRNS. Structural corruption
    raises ValueError loudly."""
    import struct

    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(payload) < 13:
        raise ValueError("GIF header truncated")
    packed = payload[10]
    gct = None
    i = 13
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if len(payload) < i + 3 * n:
            raise ValueError("GIF global color table truncated")
        gct = np.frombuffer(payload, dtype=np.uint8, count=3 * n, offset=i).reshape(
            n, 3
        )
        i += 3 * n
    L = len(payload)
    while i < L:
        b = payload[i]
        if b == 0x3B:  # trailer
            raise ValueError("GIF has no image descriptor")
        if b == 0x21:  # extension
            if i + 2 > L:
                raise ValueError("GIF extension truncated")
            label = payload[i + 1]
            j = i + 2
            if label == 0xF9 and j + 1 < L and payload[j] >= 4:
                if payload[j + 1] & 0x01:
                    raise NotImplementedError(
                        "GIF transparency (GCE transparent-color flag) not "
                        "supported — resolving to RGB would drop alpha"
                    )
            while j < L and payload[j] != 0:
                j += 1 + payload[j]
            if j >= L:
                raise ValueError("GIF extension sub-blocks truncated")
            i = j + 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block introducer 0x{b:02x}")
        if i + 10 > L:
            raise ValueError("GIF image descriptor truncated")
        _left, _top, w, h = struct.unpack_from("<HHHH", payload, i + 1)
        ipacked = payload[i + 9]
        i += 10
        table = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            if L < i + 3 * n:
                raise ValueError("GIF local color table truncated")
            table = np.frombuffer(
                payload, dtype=np.uint8, count=3 * n, offset=i
            ).reshape(n, 3)
            i += 3 * n
        if table is None:
            raise ValueError("GIF image has neither global nor local color table")
        if w <= 0 or h <= 0:
            raise ValueError("GIF dimensions must be positive")
        if i >= L:
            raise ValueError("GIF LZW header truncated")
        min_code = payload[i]
        if not 2 <= min_code <= 11:
            raise ValueError(f"GIF LZW minimum code size {min_code} invalid")
        i += 1
        data = bytearray()
        while True:
            if i >= L:
                raise ValueError("GIF image data sub-blocks truncated")
            n = payload[i]
            i += 1
            if n == 0:
                break
            if i + n > L:
                raise ValueError("GIF image data sub-block truncated")
            data += payload[i : i + n]
            i += n
        idx = np.array(_lzw_decode(bytes(data), min_code, w * h), dtype=np.int32)
        if int(idx.max(initial=0)) >= len(table):
            raise ValueError(
                f"GIF color index {int(idx.max())} out of range "
                f"(table has {len(table)} entries)"
            )
        rows = idx.reshape(h, w)
        if ipacked & 0x40:  # GIF row interlace: 4 passes by row stride
            out_rows = np.empty_like(rows)
            src = 0
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                n_rows = len(range(start, h, step))
                out_rows[start::step] = rows[src : src + n_rows]
                src += n_rows
            rows = out_rows
        return table[rows].copy()
    raise ValueError("GIF stream ended without trailer")


def encode_gif(
    indices: "object", palette: "object", interlace: bool = False
) -> bytes:
    """Encode an HxW uint8 array of palette indices + a (P<=256,3)
    color table as a single-frame GIF89a (global color table padded to
    the next power of two, real LZW compression, optional 4-pass row
    interlace)."""
    import struct

    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    if idx.ndim != 2 or pal.ndim != 2 or pal.shape[1] != 3 or len(pal) > 256:
        raise ValueError("encode_gif needs HxW indices and a (P<=256,3) table")
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError("palette index out of range")
    h, w = idx.shape
    bits = max(2, (max(len(pal) - 1, 1)).bit_length())
    full = np.zeros((1 << bits, 3), dtype=np.uint8)
    full[: len(pal)] = pal
    header = b"GIF89a" + struct.pack(
        "<HHBBB", w, h, 0x80 | ((bits - 1) & 0x07), 0, 0
    )
    rows = idx
    if interlace:
        rows = np.concatenate(
            [idx[start::step] for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))]
        )
    comp = _lzw_encode(rows.reshape(-1), bits)
    blocks = bytearray()
    for k in range(0, len(comp), 255):
        chunk = comp[k : k + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
    return header + full.tobytes() + desc + bytes([bits]) + bytes(blocks) + b"\x3b"


AUDIO_DECODE_SCHEMA = (
    "asset_id bigint, sample_rate int, n_channels int, n_frames bigint, "
    "amp_sum bigint"
)


def decode_audio_features(assets: DataFrame) -> DataFrame:
    """REAL audio decode stage over ``mapInPandas`` — the WAV analog
    of ``decode_image_features``: each payload is parsed by
    ``decode_wav`` and reduced to exact-integer facts (sample rate,
    channel count, frame count, and the signed amplitude sum — order-
    independent, so it hash-compares bitwise against an arithmetic
    oracle). NULL and undecodable payloads get NULL facts (the
    ``_decode_stage`` contract). Embarrassingly parallel: payloads
    never shuffle."""
    from . import flac

    def decode(raw: bytes):
        # container dispatch on the stream magic: RIFF/WAVE -> PCM
        # chunk walker, fLaC -> the rice/LPC decoder (operators/flac.py)
        return flac.decode_flac(raw) if raw[:4] == b"fLaC" else decode_wav(raw)

    def facts(parsed):
        rate, samples = parsed
        return (
            rate,
            samples.shape[1],
            samples.shape[0],
            int(samples.sum(dtype="int64")),
        )

    return _decode_stage(assets, AUDIO_DECODE_SCHEMA, decode, lambda: facts)


def resize_images_real(
    assets: DataFrame, target_w: int = 224, target_h: int = 224
) -> DataFrame:
    """REAL resize stage (round 9 — the pixel work in ``resize_images``
    stops being the only stub in the image path): each payload is
    DECODED by ``decode_image`` (PPM/PGM/BMP/PNG/GIF), resampled to
    (target_h, target_w) by nearest-neighbor — out(Y,X) =
    in((Y*h)//target_h, (X*w)//target_w), exact integer index
    arithmetic, so the result is bitwise-deterministic and an
    arithmetic oracle can recompute it — and RE-ENCODED as
    non-interlaced PNG. Undecodable/NULL payloads produce a NULL
    output payload (the ``_decode_stage`` contract). ``resize_images``
    keeps the byte-truncation stub only for its legacy plumbing oracle.

    Scale: decode→resample→encode is one fused Arrow stage — pixels
    never leave the task that read them, the only shape that works
    when the corpus is 100 TB of images."""
    import numpy as np

    def make_facts():
        yi_cache: dict[tuple[int, int], "object"] = {}

        def facts(arr):
            h, w = arr.shape[:2]
            yi = yi_cache.setdefault(
                (h, target_h), (np.arange(target_h) * h) // target_h
            )
            xi = yi_cache.setdefault(
                (w, target_w), (np.arange(target_w) * w) // target_w
            )
            png = encode_png(arr[yi][:, xi], "none")
            return png, len(png)

        return facts

    return _decode_stage(
        assets.select("asset_id", "payload"),
        "asset_id bigint, target_w int, target_h int, payload binary, "
        "n_bytes_out bigint",
        decode_image,
        make_facts,
        consts={"target_w": target_w, "target_h": target_h},
    )
