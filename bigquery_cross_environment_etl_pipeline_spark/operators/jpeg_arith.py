r"""Arithmetic-coded JPEG (ITU-T T.81 Annex D + F): the QM coder and
the sequential DC/AC statistical models, in pure stdlib.

Round 11 closes the last T.81 entropy gate (VERDICT r10 item 5): the
"arithmetic coding needs a library" claim was as false as round 10's
Huffman one — Annex D specifies the QM binary arithmetic coder
completely (the 113-state probability-estimation table D.3, the
CODELPS/CODEMPS/DECODE decision procedures with conditional exchange,
byte-stuffed carry resolution) and Annex F specifies the statistical
models that drive it (DC difference conditioning on the previous
diff's class, per-zigzag-index AC decision bins, the shared magnitude
category/bit trees). This module implements both directions:

- **QM coder**: interval register A (renormalized into [0x8000,
  0x10000)), 32-bit code register C, byte I/O with the Annex D
  conventions — a data 0xFF is followed by a stuffed 0x00; carries
  propagate through the pending-byte/stacked-0xFF resolution of
  D.1.8; the decoder feeds zero bytes once the terminating marker is
  reached (hitting a marker inside arithmetic entropy data is legal,
  unlike Huffman). Statistics bins are one byte each: low 7 bits the
  Table D.3 state index, top bit the MPS sense. Bin index 113 is the
  conventional non-adaptive "fixed" state (Qe≈0.5, transitions to
  itself) used for AC signs.
- **Sequential model (F.1.4)**: DC differences code through a
  20-bin conditioning block (zero/sign/magnitude-follows decisions
  selected by the PREVIOUS diff's class: zero, ±small, ±large, with
  the L/U conditioning bounds from DAC, defaults L=0 U=1), then a
  shared X1..X15 category tree and M bins for magnitude bits. AC
  coefficients code three bins per zigzag index k (end-of-block,
  zero/nonzero, magnitude-follows) with the category tree split at
  the DAC Kx threshold (default 5) into low/high-frequency areas.
  Statistics reset at every scan start and every restart marker.

The encoder writes SOF9 frames with a DAC (0xCC) conditioning segment
instead of DHT; ``decode_scan`` plugs into
``jpeg.decode_jpeg_coefficients``'s marker walk as the entropy layer
for SOF9/SOF10 scans, so every structural check (grids, component
bookkeeping, dequantization) is shared with the Huffman path rather
than duplicated.

Bit-layer conformance evidence: the coder is implemented from the
Annex D flowcharts; `tests/test_jpeg_arith.py` round-trips random
decision sequences through adversarial carry/stuffing patterns
(all-MPS runs that stack 0xFF bytes, alternating LPS storms), checks
compression approaches the binary entropy bound on skewed streams
(the probability-estimation ladder working), and round-trips full
images against the Huffman codec's decoded output.

Reference parity note: the reference pipeline
(pulse_billing_etl_service) has no codec surface; this module is
north-star training-data-pipeline capability (multimodal ingest),
same as jpeg.py.

Scale: runs inside the same Arrow ``mapInPandas`` stages as the
Huffman codec — embarrassingly parallel, zero shuffle.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Table D.3 — Qe values and probability estimation state machine.
# (qe, next_mps, next_lps, switch) per state; index 113 is the
# conventional extra non-adaptive state (fixed ~equiprobable bin).
# ---------------------------------------------------------------------------

_QM_TABLE = [
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1),
    # 113: fixed (non-adaptive ~equiprobable) bin — AC signs etc.
    (0x5A1D, 113, 113, 0),
]

_QE = [t[0] for t in _QM_TABLE]
_NMPS = [t[1] for t in _QM_TABLE]
_NLPS = [t[2] for t in _QM_TABLE]
_SWITCH = [t[3] for t in _QM_TABLE]
#: packed per-state row (qe, next_mps, next_lps, switch) — ONE list
#: probe + tuple unpack on the per-decision hot path instead of four
#: separate list probes (round 12; the split views above stay for
#: tests/readers)
_QMT = [tuple(t) for t in _QM_TABLE]

FIXED_BIN = 113

#: Annex F defaults when no DAC segment overrides them.
DEFAULT_DC_L = 0
DEFAULT_DC_U = 1
DEFAULT_AC_KX = 5


# ---------------------------------------------------------------------------
# QM encoder (Annex D.1)
# ---------------------------------------------------------------------------


class ArithEncoder:
    """Annex D.1 encoder. ``encode(st, i, bit)`` codes one binary
    decision in statistics area ``st`` (a bytearray; entry = state
    index | MPS<<7), adapting the bin. ``flush()`` terminates per
    D.1.8 (largest-trailing-zeros value in the final interval,
    trailing 0x00 bytes dropped) and returns the byte string."""

    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self._buffer = -1  # last pending byte (may still take a carry)
        self._sc = 0  # stacked 0xFF bytes pending carry resolution
        self._zc = 0  # deferred 0x00 bytes (dropped if trailing)
        self.out = bytearray()

    # -- byte plumbing ----------------------------------------------------

    def _emit(self, b: int) -> None:
        self.out.append(b)

    def _flush_pending(self, carry: bool) -> None:
        """Resolve the pending buffer/stacks on a finished byte.
        With ``carry`` the pending byte increments and every stacked
        0xFF becomes 0x00 (FF+1 carries through); without it the
        stacks flush as literal 0xFF 0x00 pairs."""
        if carry:
            if self._buffer >= 0:
                while self._zc:
                    self._emit(0x00)
                    self._zc -= 1
                self._emit(self._buffer + 1)
                if self._buffer + 1 == 0xFF:
                    self._emit(0x00)  # stuffed zero after data 0xFF
            self._zc += self._sc  # carried-over FFs became 00s
            self._sc = 0
        else:
            if self._buffer == 0:
                self._zc += 1
            elif self._buffer > 0:
                while self._zc:
                    self._emit(0x00)
                    self._zc -= 1
                self._emit(self._buffer)
            if self._sc:
                while self._zc:
                    self._emit(0x00)
                    self._zc -= 1
                while self._sc:
                    self._emit(0xFF)
                    self._emit(0x00)
                    self._sc -= 1

    def _byteout(self) -> None:
        temp = self.c >> 19
        if temp > 0xFF:
            # carry into the pending byte; the three spacer bits
            # guarantee the NEW pending byte cannot itself be 0xFF
            self._flush_pending(carry=True)
            self._buffer = temp & 0xFF
        elif temp == 0xFF:
            self._sc += 1  # stack it: a later carry may turn it 0x00
        else:
            self._flush_pending(carry=False)
            self._buffer = temp
        self.c &= 0x7FFFF
        self.ct = 8

    def _renorm(self) -> None:
        while True:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a >= 0x8000:
                break

    # -- decisions --------------------------------------------------------

    def encode(
        self,
        st: bytearray,
        i: int,
        bit: int,
        # bound as a default: the packed-table module lookup sits on
        # the per-decision hot path (hundreds of thousands of calls
        # per corpus batch) — a local is one dict probe cheaper, and
        # one row probe replaces four parallel-list probes (round 12)
        _QMT=_QMT,
    ) -> None:
        sv = st[i]
        idx = sv & 0x7F
        mps = sv >> 7
        qe, nmps, nlps, switch = _QMT[idx]
        if bit == mps:  # CODEMPS (D.1.4)
            a = self.a - qe
            if a < 0x8000:
                if a < qe:  # conditional exchange: take the bottom
                    self.a = qe
                else:
                    self.a = a
                    self.c += qe
                st[i] = (mps << 7) | nmps
                self._renorm()
            else:
                self.a = a
                self.c += qe
        else:  # CODELPS (D.1.3)
            a = self.a - qe
            if a < qe:  # conditional exchange: LPS takes the top
                self.a = a
                self.c += qe
            else:
                self.a = qe
            if switch:
                mps ^= 1
            st[i] = (mps << 7) | nlps
            self._renorm()

    def encode_fixed(self, bit: int) -> None:
        """One decision in a throwaway fixed bin (never adapts)."""
        self.encode(self._fixed, 0, bit)

    _fixed = bytearray([FIXED_BIN])

    # -- termination ------------------------------------------------------

    def flush(self) -> bytes:
        """D.1.8: pick the code value in [C, C+A) with the most
        trailing zeros, push out the remaining bytes (stuffing any
        emitted 0xFF), drop trailing zero bytes."""
        temp = (self.a - 1 + self.c) & 0xFFFF0000
        self.c = temp + 0x8000 if temp < self.c else temp
        self.c <<= self.ct
        if self.c & 0xF8000000:
            self._flush_pending(carry=True)
        else:
            self._flush_pending(carry=False)
        if self.c & 0x7FFF800:
            while self._zc:
                self._emit(0x00)
                self._zc -= 1
            b = (self.c >> 19) & 0xFF
            self._emit(b)
            if b == 0xFF:
                self._emit(0x00)
            if self.c & 0x7F800:
                b = (self.c >> 11) & 0xFF
                self._emit(b)
                if b == 0xFF:
                    self._emit(0x00)
        return bytes(self.out)


# ---------------------------------------------------------------------------
# QM decoder (Annex D.2)
# ---------------------------------------------------------------------------


class ArithDecoder:
    """Annex D.2 decoder over ``data`` starting at ``pos``. Register
    layout: the code-stream remainder R sits in C bits 16+, incoming
    bytes land at bits 8..15 and shift up during renormalization. A
    0xFF data byte arrives stuffed (0xFF 0x00); 0xFF followed by
    anything else is the terminating marker — from then on zero bytes
    feed in, which is spec-legal (D.2.2 note). ``bp`` never advances
    past the marker, so the caller can find it."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.bp = pos
        self.marker_hit = False
        b0 = self._data_byte()
        b1 = self._data_byte()
        self.c = (b0 << 24) | (b1 << 16)
        self.ct = 0  # next renorm shift loads a fresh byte
        self.a = 0x10000

    def _data_byte(self) -> int:
        if self.marker_hit or self.bp >= len(self.data):
            self.marker_hit = True
            return 0
        b = self.data[self.bp]
        if b == 0xFF:
            nxt = (
                self.data[self.bp + 1]
                if self.bp + 1 < len(self.data)
                else None
            )
            if nxt == 0x00:
                self.bp += 2
                return 0xFF
            self.marker_hit = True  # leave bp AT the marker's 0xFF
            return 0
        self.bp += 1
        return b

    def _renorm(self) -> None:
        while True:
            if self.ct == 0:
                self.c |= self._data_byte() << 8
                self.ct = 8
            self.a <<= 1
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a >= 0x8000:
                break

    def decode(
        self,
        st: bytearray,
        i: int,
        # default-bound for the same hot-path reason as encode()
        _QMT=_QMT,
    ) -> int:
        sv = st[i]
        idx = sv & 0x7F
        mps = sv >> 7
        qe, nmps, nlps, switch = _QMT[idx]
        self.a -= qe
        if (self.c >> 16) < qe:
            # bottom sub-interval (nominally LPS)
            if self.a < qe:  # conditional exchange
                bit = mps
                st[i] = (mps << 7) | nmps
            else:
                bit = mps ^ 1
                if switch:
                    mps ^= 1
                st[i] = (mps << 7) | nlps
            self.a = qe
            self._renorm()
        else:
            self.c -= qe << 16
            if self.a < 0x8000:
                if self.a < qe:  # conditional exchange
                    bit = mps ^ 1
                    if switch:
                        mps ^= 1
                    st[i] = (mps << 7) | nlps
                else:
                    bit = mps
                    st[i] = (mps << 7) | nmps
                self._renorm()
            else:
                bit = mps
        return bit

    def decode_fixed(self) -> int:
        return self.decode(self._fixed, 0)

    _fixed = bytearray([FIXED_BIN])


def find_marker(data: bytes, pos: int) -> int:
    """Position of the next marker 0xFF byte at/after ``pos``,
    skipping stuffed 0xFF 0x00 pairs and leading 0xFF fills. Raises
    if the stream ends first."""
    p = pos
    n = len(data)
    while p + 1 < n:
        if data[p] == 0xFF and data[p + 1] != 0x00:
            return p
        p += 1
    raise ValueError("JPEG entropy stream truncated (no trailing marker)")


# ---------------------------------------------------------------------------
# Annex F.1.4 sequential statistical model
#
# DC statistics area (64 bytes per table): bins 0..19 are five
# 4-wide conditioning blocks selected by the PREVIOUS diff's class
# (0 zero, 4 +small, 8 -small, 12 +large, 16 -large): +0 nonzero?,
# +1 sign, +2/+3 magnitude>1? given +/-. Bins 20..34 the shared
# X1..X15 category tree; Xn+14 the Mn magnitude-bit bin.
# AC statistics area (256 bytes per table): 3 bins per zigzag index
# k (3(k-1)+0 end-of-block?, +1 nonzero?, +2 magnitude>1/2?); X2+
# category trees at 189 (k <= Kx) / 217 (k > Kx), M bins at +14.
# ---------------------------------------------------------------------------


def _dc_ctx_update(m: int, sign: int, cond: tuple[int, int]) -> int:
    """F.1.4.4.1.2: classify this diff for the NEXT block's
    conditioning: zero, small (+/-) or large (+/-) vs the L/U bounds
    (m is the category MSB mask, i.e. |diff|-1's leading power of 2,
    compared against (2^L)/2 and (2^U)/2)."""
    low, up = cond
    if m < (1 << low) >> 1:
        return 0
    if m > (1 << up) >> 1:
        return 12 + sign * 4
    return 4 + sign * 4


def _encode_dc(enc, st, ctx, diff, cond):
    """Encode one DC difference; returns the next conditioning ctx."""
    if diff == 0:
        enc.encode(st, ctx, 0)
        return 0
    enc.encode(st, ctx, 1)
    sign = 1 if diff < 0 else 0
    v = (-diff if sign else diff) - 1
    enc.encode(st, ctx + 1, sign)
    i = ctx + 2 + sign
    m = 0
    if v:
        enc.encode(st, i, 1)
        m = 1
        v2 = v
        i = 20  # X1
        while v2 >> 1:
            v2 >>= 1
            enc.encode(st, i, 1)
            m <<= 1
            i += 1
    enc.encode(st, i, 0)
    i += 14  # Mn magnitude-bit bin for this category
    mm = m
    while mm >> 1:
        mm >>= 1
        enc.encode(st, i, 1 if (mm & v) else 0)
    return _dc_ctx_update(m, sign, cond)


def _decode_dc(dec, st, ctx, cond):
    """Decode one DC difference; returns (diff, next ctx)."""
    if dec.decode(st, ctx) == 0:
        return 0, 0
    sign = dec.decode(st, ctx + 1)
    i = ctx + 2 + sign
    m = dec.decode(st, i)
    if m:
        i = 20
        while dec.decode(st, i):
            m <<= 1
            if m == 0x8000:
                raise ValueError("arithmetic DC magnitude overflow")
            i += 1
    nxt = _dc_ctx_update(m, sign, cond)
    v = m
    i += 14
    while m >> 1:
        m >>= 1
        if dec.decode(st, i):
            v |= m
    v += 1
    return (-v if sign else v), nxt


def _encode_ac_block(enc, st, zz, kx, se=63, ss=1, al=0):
    """Encode the AC coefficients of one block (``zz`` zigzag-ordered
    ints, index 0 ignored) — sequential full band, or a progressive
    first-pass spectral band with magnitudes point-transformed by
    ``al`` (G.1.2.2: |v| >> Al, sign from the original value)."""
    ke = se
    while ke >= ss and (abs(zz[ke]) >> al) == 0:
        ke -= 1
    k = ss
    while k <= ke:
        i = 3 * (k - 1)
        enc.encode(st, i, 0)  # not end-of-block
        while (abs(zz[k]) >> al) == 0:
            enc.encode(st, i + 1, 0)
            i += 3
            k += 1
        enc.encode(st, i + 1, 1)
        val = zz[k]
        if val > 0:
            enc.encode_fixed(0)
        else:
            enc.encode_fixed(1)
            val = -val
        v = (val >> al) - 1
        i += 2
        m = 0
        if v:
            enc.encode(st, i, 1)
            m = 1
            v2 = v
            if v2 >> 1:
                v2 >>= 1
                enc.encode(st, i, 1)  # same bin: magnitude > 2?
                m <<= 1
                i = 189 if k <= kx else 217  # X2 area
                while v2 >> 1:
                    v2 >>= 1
                    enc.encode(st, i, 1)
                    m <<= 1
                    i += 1
        enc.encode(st, i, 0)
        i += 14
        mm = m
        while mm >> 1:
            mm >>= 1
            enc.encode(st, i, 1 if (mm & v) else 0)
        k += 1
    if ke < se:
        enc.encode(st, 3 * k - 3, 1)  # end-of-block decision


def _decode_ac_block(dec, st, block_flat, zzmap, kx, se=63, ss=1, al=0):
    """Decode one block's AC coefficients (sequential full band, or a
    progressive first-pass spectral band scaled by ``al``) into
    ``block_flat`` via the zigzag->natural index map."""
    k = ss
    while k <= se:
        i = 3 * (k - 1)
        if dec.decode(st, i):
            return  # end of block
        while dec.decode(st, i + 1) == 0:
            i += 3
            k += 1
            if k > se:
                raise ValueError(
                    "arithmetic AC zero run overruns the block"
                )
        sign = dec.decode_fixed()
        i += 2
        m = dec.decode(st, i)
        if m:
            if dec.decode(st, i):
                m = 2
                i = 189 if k <= kx else 217
                while dec.decode(st, i):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError(
                            "arithmetic AC magnitude overflow"
                        )
                    i += 1
        v = m
        i += 14
        while m >> 1:
            m >>= 1
            if dec.decode(st, i):
                v |= m
        v += 1
        block_flat[zzmap[k]] = (-v if sign else v) << al
        k += 1


class SeqArithState:
    """Per-scan statistics + predictors, reset at scan start and at
    every restart marker (F.1.4.1.1)."""

    def __init__(self, n_comps: int, dc_ids: set, ac_ids: set) -> None:
        self._dc_ids = dc_ids
        self._ac_ids = ac_ids
        self.n = n_comps
        self.reset()

    def reset(self) -> None:
        self.dc_stats = {t: bytearray(64) for t in self._dc_ids}
        self.ac_stats = {t: bytearray(256) for t in self._ac_ids}
        self.last_dc = [0] * self.n
        self.dc_context = [0] * self.n


def decode_sequential_scan(
    data: bytes,
    start: int,
    units,
    arrs,
    tabs_for,
    restart_interval: int,
    dc_cond,
    ac_cond,
    n_comps: int,
    zzmap,
) -> int:
    """Entropy-decode one sequential arithmetic (SOF9) scan.
    ``units`` is the MCU-unit list from decode_jpeg_coefficients
    ([(ci, by, bx), ...] per MCU), ``tabs_for`` maps ci -> (dc table
    id, ac table id); returns the stream position of the marker that
    terminates the scan. Conditioning bounds come from DAC (or the
    Annex F defaults)."""
    dc_ids = {d for d, _ in tabs_for.values()}
    ac_ids = {a for _, a in tabs_for.values()}
    state = SeqArithState(n_comps, dc_ids, ac_ids)
    dec = ArithDecoder(data, start)
    rst = 0
    for u, unit in enumerate(units):
        if restart_interval and u and u % restart_interval == 0:
            p = find_marker(data, dec.bp)
            while p + 2 < len(data) and data[p + 1] == 0xFF:
                p += 1  # B.1.1.2 fill bytes before the marker
            if p + 2 > len(data):
                raise ValueError("JPEG restart marker truncated")
            marker = data[p + 1]
            if marker != 0xD0 + (rst & 7):
                raise ValueError(
                    f"expected RST{rst & 7}, found marker 0xFF{marker:02X}"
                )
            rst += 1
            state.reset()
            dec = ArithDecoder(data, p + 2)
        for ci, by, bx in unit:
            dcid, acid = tabs_for[ci]
            dcond = dc_cond.get(dcid, (DEFAULT_DC_L, DEFAULT_DC_U))
            kx = ac_cond.get(acid, DEFAULT_AC_KX)
            diff, state.dc_context[ci] = _decode_dc(
                dec, state.dc_stats[dcid], state.dc_context[ci], dcond
            )
            state.last_dc[ci] += diff
            flat = arrs[ci][by][bx]
            flat[0] = state.last_dc[ci]
            _decode_ac_block(dec, state.ac_stats[acid], flat, zzmap, kx)
    return find_marker(data, dec.bp)


# ---------------------------------------------------------------------------
# stream writers (SOF9)
# ---------------------------------------------------------------------------


def encode_jpeg_arithmetic_from_coeffs(
    comps: "list[object]",
    width: int,
    height: int,
    sampling: "list[tuple[int, int]] | None" = None,
    qtables: "list[list[int]] | None" = None,
    restart_interval: int = 0,
) -> bytes:
    """Write a sequential arithmetic-coded (SOF9) stream from CHOSEN
    quantized coefficients — the arithmetic sibling of
    ``jpeg.encode_jpeg_from_coeffs`` (same grids, same validation,
    same MCU walk; DAC conditioning segment instead of DHT, QM-coded
    entropy instead of Huffman). Restart markers terminate the coder
    (D.1.8 flush), emit RSTn, and reset statistics, predictors, and
    conditioning contexts."""
    from .jpeg import _mcu_units, _sos_segment, _validate_and_headers, _ZZFLAT

    out, arrs, sampling, qtables = _validate_and_headers(
        comps, width, height, sampling, qtables, restart_interval, 0xC9,
        arithmetic=True,
    )
    n = len(arrs)
    out += _sos_segment(
        [(i + 1, min(i, 1), min(i, 1)) for i in range(n)], 0, 63, 0, 0
    )
    zz_all = [
        a.reshape(a.shape[0], a.shape[1], 64)[:, :, _ZZFLAT].tolist()
        for a in arrs
    ]
    tabs_for = {i: (min(i, 1), min(i, 1)) for i in range(n)}
    dc_ids = {d for d, _ in tabs_for.values()}
    ac_ids = {a for _, a in tabs_for.values()}
    state = SeqArithState(n, dc_ids, ac_ids)
    enc = ArithEncoder()
    cond = (DEFAULT_DC_L, DEFAULT_DC_U)

    def write_block(ci: int, by: int, bx: int) -> None:
        dcid, acid = tabs_for[ci]
        zz = zz_all[ci][by][bx]
        diff = zz[0] - state.last_dc[ci]
        state.last_dc[ci] = zz[0]
        state.dc_context[ci] = _encode_dc(
            enc, state.dc_stats[dcid], state.dc_context[ci], diff, cond
        )
        _encode_ac_block(enc, state.ac_stats[acid], zz, DEFAULT_AC_KX)

    mcus = _mcu_units(arrs, sampling, width, height)
    rst = 0
    for k, unit in enumerate(mcus):
        if restart_interval and k and k % restart_interval == 0:
            out += enc.flush()
            out += bytes((0xFF, 0xD0 + (rst & 7)))
            rst += 1
            enc = ArithEncoder()
            state.reset()
        for ci, y, x in unit:
            write_block(ci, y, x)
    out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_arithmetic(
    arr: "object",
    qtable_luma: "list[int] | None" = None,
    qtable_chroma: "list[int] | None" = None,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """Encode uint8 pixels as sequential arithmetic-coded JPEG —
    ``jpeg.encode_jpeg``'s pixel pipeline (color transform,
    subsampling, DCT, quantization) emitted through the QM coder."""
    from .jpeg import _pixels_to_coeffs

    comps, w, h, sampling, qts, precision = _pixels_to_coeffs(
        arr, qtable_luma, qtable_chroma, subsampling
    )
    if precision != 8:
        raise NotImplementedError(
            "12-bit arithmetic JPEG not supported (8-bit only)"
        )
    return encode_jpeg_arithmetic_from_coeffs(
        comps, w, h, sampling, qts, restart_interval
    )


# ---------------------------------------------------------------------------
# progressive (SOF10): Annex G with arithmetic procedures
# ---------------------------------------------------------------------------


def _decode_ac_refine_block(dec, st, flat, zzmap, ss, se, al):
    """G.1.3.3: refinement scan for one block — correction bits for
    previously-nonzero coefficients (bin 3(k-1)+2), births of ±2^Al
    (bin +1 then the fixed sign bin), with the end-of-block decision
    armed only beyond the previous stage's last nonzero index."""
    p1 = 1 << al
    m1 = -1 << al
    kex = se
    while kex > 0 and flat[zzmap[kex]] == 0:
        kex -= 1
    k = ss
    while k <= se:
        i = 3 * (k - 1)
        if k > kex and dec.decode(st, i):
            return  # end of block
        while True:
            idx = zzmap[k]
            cur = flat[idx]
            if cur:
                if dec.decode(st, i + 2):
                    flat[idx] = cur + (m1 if cur < 0 else p1)
                break
            if dec.decode(st, i + 1):
                flat[idx] = m1 if dec.decode_fixed() else p1
                break
            i += 3
            k += 1
            if k > se:
                raise ValueError(
                    "arithmetic AC refinement overruns the spectral band"
                )
        k += 1


def _encode_ac_refine_block(enc, st, zz, ss, se, ah, al):
    """G.1.3.3 encoder mirror: magnitudes at the CURRENT scale
    (|v| >> Al); previously-nonzero means |v| >> Ah != 0; correction
    bit is (|v| >> Al) & 1."""
    ke = se
    while ke >= ss and (abs(zz[ke]) >> al) == 0:
        ke -= 1
    kex = ke
    while kex > 0 and (abs(zz[kex]) >> ah) == 0:
        kex -= 1
    k = ss
    while k <= ke:
        i = 3 * (k - 1)
        if k > kex:
            enc.encode(st, i, 0)  # not end-of-block
        while True:
            val = zz[k]
            mag = (-val if val < 0 else val) >> al
            if mag:
                if mag >> 1:  # previously nonzero
                    enc.encode(st, i + 2, mag & 1)
                else:  # newly nonzero: birth + sign
                    enc.encode(st, i + 1, 1)
                    enc.encode_fixed(1 if val < 0 else 0)
                break
            enc.encode(st, i + 1, 0)
            i += 3
            k += 1
        k += 1
    if k <= se:
        enc.encode(st, 3 * (k - 1), 1)  # end-of-block decision


def decode_progressive_scan(
    data, start, units, arrs, tabs_for, restart_interval,
    dc_cond, ac_cond, n_comps, zzmap, ss, se, ah, al,
):
    """Entropy-decode one progressive arithmetic (SOF10) scan: DC
    first (sequential DC model, diffs at scale 2^Al), DC refinement
    (one fixed-probability bit per block OR'd at 2^Al), AC first
    (the sequential AC model over [Ss, Se] scaled by Al), AC
    refinement (G.1.3.3). Statistics, predictors, and the coder
    re-initialize at every restart marker. Returns the position of
    the scan-terminating marker."""
    dc_ids = {d for d, _ in tabs_for.values()}
    ac_ids = {a for _, a in tabs_for.values()}
    state = SeqArithState(n_comps, dc_ids, ac_ids)
    dec = ArithDecoder(data, start)
    rst = 0
    for u, unit in enumerate(units):
        if restart_interval and u and u % restart_interval == 0:
            p = find_marker(data, dec.bp)
            while p + 2 < len(data) and data[p + 1] == 0xFF:
                p += 1  # B.1.1.2 fill bytes before the marker
            if p + 2 > len(data):
                raise ValueError("JPEG restart marker truncated")
            marker = data[p + 1]
            if marker != 0xD0 + (rst & 7):
                raise ValueError(
                    f"expected RST{rst & 7}, found marker 0xFF{marker:02X}"
                )
            rst += 1
            state.reset()
            dec = ArithDecoder(data, p + 2)
        for ci, by, bx in unit:
            dcid, acid = tabs_for[ci]
            flat = arrs[ci][by][bx]
            if ss == 0:
                if ah == 0:  # DC first pass
                    dcond = dc_cond.get(dcid, (DEFAULT_DC_L, DEFAULT_DC_U))
                    diff, state.dc_context[ci] = _decode_dc(
                        dec, state.dc_stats[dcid], state.dc_context[ci],
                        dcond,
                    )
                    state.last_dc[ci] += diff
                    flat[0] = state.last_dc[ci] << al
                else:  # DC refinement: one fixed-probability bit
                    if dec.decode_fixed():
                        flat[0] = flat[0] | (1 << al)
            else:
                kx = ac_cond.get(acid, DEFAULT_AC_KX)
                if ah == 0:
                    _decode_ac_block(
                        dec, state.ac_stats[acid], flat, zzmap, kx,
                        se=se, ss=ss, al=al,
                    )
                else:
                    _decode_ac_refine_block(
                        dec, state.ac_stats[acid], flat, zzmap, ss, se, al
                    )
    return find_marker(data, dec.bp)


def encode_jpeg_arithmetic_progressive_from_coeffs(
    comps: "list[object]",
    width: int,
    height: int,
    sampling: "list[tuple[int, int]] | None" = None,
    qtables: "list[list[int]] | None" = None,
    restart_interval: int = 0,
) -> bytes:
    """Write a PROGRESSIVE arithmetic-coded (SOF10) stream from
    chosen quantized coefficients, through the same six-phase scan
    script as ``jpeg.encode_jpeg_progressive_from_coeffs`` (DC first
    at Al=1 -> per-component AC firsts over [1,5] and [6,63] at Al=1
    -> DC refinement -> per-component AC refinements) so the decoded
    coefficients are bit-identical to the sequential encoding's. Each
    scan runs its own QM coder and fresh statistics (F.1.4.1.1);
    restart markers terminate and re-initialize the coder inside a
    scan."""
    from .jpeg import (
        _ZZFLAT,
        _component_units,
        _mcu_units,
        _sos_segment,
        _validate_and_headers,
    )

    out, arrs, sampling, qtables = _validate_and_headers(
        comps, width, height, sampling, qtables, restart_interval, 0xCA,
        arithmetic=True,
    )
    n = len(arrs)
    flats = [a.reshape(a.shape[0], a.shape[1], 64) for a in arrs]
    zz_all = [f[:, :, _ZZFLAT].tolist() for f in flats]
    tabs = {i: (min(i, 1), min(i, 1)) for i in range(n)}
    cond = (DEFAULT_DC_L, DEFAULT_DC_U)

    mcus = _mcu_units(arrs, sampling, width, height)
    comp_units = [
        _component_units(ci, arrs, sampling, width, height) for ci in range(n)
    ]

    def emit_scan(scan_comps, units, ss, se, ah, al, block_fn):
        nonlocal out
        out += _sos_segment(scan_comps, ss, se, ah, al)
        dc_ids = {d for d, _ in tabs.values()}
        ac_ids = {a for _, a in tabs.values()}
        state = SeqArithState(n, dc_ids, ac_ids)
        enc = ArithEncoder()
        rst = 0
        for u, unit in enumerate(units):
            if restart_interval and u and u % restart_interval == 0:
                out += enc.flush()
                out += bytes((0xFF, 0xD0 + (rst & 7)))
                rst += 1
                enc = ArithEncoder()
                state.reset()
            for ci, by, bx in unit:
                block_fn(enc, state, ci, by, bx)
        out += enc.flush()

    al_dc, al_ac = 1, 1

    def dc_first(enc, state, ci, by, bx):
        dcid, _ = tabs[ci]
        dc_pt = int(flats[ci][by, bx, 0]) >> al_dc  # G.1.2.1 point transform
        diff = dc_pt - state.last_dc[ci]
        state.last_dc[ci] = dc_pt
        state.dc_context[ci] = _encode_dc(
            enc, state.dc_stats[dcid], state.dc_context[ci], diff, cond
        )

    def dc_refine(enc, state, ci, by, bx):
        enc.encode_fixed(int(flats[ci][by, bx, 0]) & 1)

    def ac_scan(ss, se, ah, al):
        def fn(enc, state, ci, by, bx):
            _, acid = tabs[ci]
            zz = zz_all[ci][by][bx]
            if ah == 0:
                _encode_ac_block(
                    enc, state.ac_stats[acid], zz, DEFAULT_AC_KX,
                    se=se, ss=ss, al=al,
                )
            else:
                _encode_ac_refine_block(
                    enc, state.ac_stats[acid], zz, ss, se, ah, al
                )

        return fn

    all_comps = [(i + 1, min(i, 1), min(i, 1)) for i in range(n)]
    emit_scan(all_comps, mcus, 0, 0, 0, al_dc, dc_first)
    for ci in range(n):
        sel = [(ci + 1, min(ci, 1), min(ci, 1))]
        emit_scan(sel, comp_units[ci], 1, 5, 0, al_ac, ac_scan(1, 5, 0, al_ac))
        emit_scan(sel, comp_units[ci], 6, 63, 0, al_ac, ac_scan(6, 63, 0, al_ac))
    emit_scan(all_comps, mcus, 0, 0, al_dc, 0, dc_refine)
    for ci in range(n):
        sel = [(ci + 1, min(ci, 1), min(ci, 1))]
        emit_scan(sel, comp_units[ci], 1, 63, 1, 0, ac_scan(1, 63, 1, 0))
    out += b"\xff\xd9"
    return bytes(out)
