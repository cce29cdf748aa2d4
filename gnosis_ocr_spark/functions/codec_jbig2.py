"""JBIG2 (ITU-T T.88) generic-region codec — the embedded stream format PDF
``/JBIG2Decode`` carries.

JBIG2 is the other dominant scanned-B/W encoding in real-crawl PDFs (next
to CCITT G4): the reference rasterizes those pages transparently via
poppler (/root/reference/app/jobs.py:386-390). This module is a
from-scratch implementation of the public ITU-T T.88 specification — the
MQ arithmetic coder (Annex E, the same coder JPEG 2000 uses), generic
region decoding (§6.2) with all four GB templates, adaptive (AT) pixels
and typical-prediction (TPGDON), and the embedded-organization segment
layer (§7.2, the headerless form PDF uses). Both the encoder (fixture
writer + property tests) and the decoder (the crawl-facing path behind
codec_pdf's ``_apply_one_filter``) live here, mirroring codec_ccitt.

Scope: generic regions — arithmetic (MQ) and MMR variants (MMR reuses
the T.6 coder from codec_ccitt) — plus the symbol-coded subset real
scanned-text encoders (jbig2enc) emit: symbol dictionaries (§6.5, height
classes of delta-coded widths over ONE shared MQ stream) and text
regions (§6.4, strip-placed symbol instances via the Annex A arithmetic
integer contexts), including dictionaries shared across pages through
PDF's /JBIG2Globals (resolved by codec_pdf's image path). Halftone /
refinement segments and the Huffman-coded variants raise ValueError,
which codec_pdf maps to the opaque carry (same honest degradation as
JPX).

Bit conventions
---------------
JBIG2 bitmaps are 1 = black (T.88 §4). PDF's imaging model feeds 1-bit
/DeviceGray where sample 0 = black, so :func:`decode_jbig2` inverts on
the way out and :func:`encode_jbig2_generic` inverts on the way in — the
packed rows at this API boundary use the PDF sample convention (0 bit =
black, rows padded to byte boundaries, stride = ceil(columns/8)), exactly
like codec_ccitt's defaults.

Throughput honesty: MQ decoding is inherently per-pixel (one arithmetic
decision per pixel — there is no run-length shortcut like fax MH/MMR), so
the decoder is O(pixels) Python with an incremental-context fast path for
nominal AT positions that holds the MQ coder state in locals for the row.
Same honesty class as codec_jpeg's entropy decoder; the jbig2dec swap
seam is the same.
"""

from __future__ import annotations

import struct

import numpy as np

MAX_PIXELS = 50_000_000  # hostile-input allocation bound (codec_jpeg rationale)

# ---------------------------------------------------------------------------
# MQ-coder probability state table (ITU-T T.88 Table E.1; identical to
# JPEG 2000 T.800 Table C.2): (Qe, NMPS, NLPS, SWITCH) per state.
# ---------------------------------------------------------------------------

_QE = (
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
)

# per-STATE-BYTE flattenings ((index << 1) | MPS → value): one list index
# replaces the 4-tuple unpack in the decode/encode hot path (~20% of a
# JBIG2/JPX page decode). _NMPS_ST/_NLPS_ST are the full NEXT state byte,
# with SWITCH folded into the LPS transition.
_QE_ST = [0] * 94
_NMPS_ST = [0] * 94
_NLPS_ST = [0] * 94
for _i, (_qe, _nmps, _nlps, _sw) in enumerate(_QE):
    for _mps in (0, 1):
        _st = (_i << 1) | _mps
        _QE_ST[_st] = _qe
        _NMPS_ST[_st] = (_nmps << 1) | _mps
        _NLPS_ST[_st] = (_nlps << 1) | (_mps ^ 1 if _sw else _mps)
del _i, _qe, _nmps, _nlps, _sw, _mps, _st
# RENORMD shift count for A < 0x8000: the left shifts that bring A back
# to 0x8000 or more, for the decode loops that take them in one step
_RENORM_SHIFT = bytes([0] + [16 - _a.bit_length() for _a in range(1, 0x8000)])


def _mq_bytein(data: bytes, n: int, bp: int, c: int) -> tuple[int, int, int]:
    """BYTEIN (T.88 E.3.4) on unpacked coder state → (bp, c, ct). Shared
    by :class:`_MQDecoder` and the decode loops that hold the coder state
    in locals; it runs once per 8 renormalization shifts."""
    b = data[bp] if bp < n else 0xFF
    if b == 0xFF:
        b1 = data[bp + 1] if bp + 1 < n else 0xFF
        if b1 > 0x8F:  # marker / end of data: feed 1-bits, don't advance
            return bp, c + 0xFF00, 8
        return bp + 1, c + (b1 << 9), 7
    return bp + 1, c + ((data[bp + 1] if bp + 1 < n else 0xFF) << 8), 8


class _MQDecoder:
    """MQ arithmetic decoder (T.88 Annex E software conventions: INITDEC /
    DECODE / BYTEIN / RENORMD). Context state lives in a caller-owned
    bytearray of ``(index << 1) | MPS`` cells so independent context sets
    (region vs TPGDON) share one decoder. Reads past the end of ``data``
    feed 1-bits per the spec's marker convention."""

    __slots__ = ("data", "n", "bp", "c", "a", "ct")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.n = len(data)
        b0 = data[0] if self.n > 0 else 0xFF
        self.bp, c, ct = _mq_bytein(data, self.n, 0, b0 << 16)
        self.c = (c << 7) & 0xFFFFFFFF
        self.ct = ct - 7
        self.a = 0x8000

    def decode(self, states: bytearray, cx: int) -> int:
        st = states[cx]
        qe = _QE_ST[st]
        a = self.a - qe
        if ((self.c >> 16) & 0xFFFF) < qe:
            # LPS sub-interval selected (conditional exchange per size)
            if a < qe:
                d = st & 1
                states[cx] = _NMPS_ST[st]
            else:
                d = (st & 1) ^ 1
                states[cx] = _NLPS_ST[st]
            a = qe
        else:
            self.c -= qe << 16
            if a & 0x8000:
                self.a = a
                return st & 1
            if a < qe:
                d = (st & 1) ^ 1
                states[cx] = _NLPS_ST[st]
            else:
                d = st & 1
                states[cx] = _NMPS_ST[st]
        c, ct = self.c, self.ct
        while True:  # RENORMD
            if ct == 0:
                self.bp, c, ct = _mq_bytein(self.data, self.n, self.bp, c)
            a = (a << 1) & 0xFFFF
            c = (c << 1) & 0xFFFFFFFF
            ct -= 1
            if a & 0x8000:
                break
        self.a, self.c, self.ct = a, c, ct
        return d


class _MQEncoder:
    """MQ arithmetic encoder (T.88 Annex E: INITENC / CODEMPS / CODELPS /
    BYTEOUT / FLUSH). The leading sentinel byte models the spec's B at
    BPST-1; the coder invariant C < A·2^k keeps carries out of it."""

    __slots__ = ("_out", "a", "c", "ct")

    def __init__(self) -> None:
        self._out = bytearray([0])
        self.a = 0x8000
        self.c = 0
        self.ct = 12

    def _byteout(self) -> None:
        out = self._out
        if out[-1] == 0xFF:  # bit-stuff after 0xFF: next byte carries 7 bits
            out.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
        elif self.c < 0x8000000:
            out.append((self.c >> 19) & 0xFF)
            self.c &= 0x7FFFF
            self.ct = 8
        else:  # carry: propagate into the finished byte (at most one step)
            out[-1] += 1
            if out[-1] == 0xFF:
                self.c &= 0x7FFFFFF
                out.append((self.c >> 20) & 0xFF)
                self.c &= 0xFFFFF
                self.ct = 7
            else:
                out.append((self.c >> 19) & 0xFF)
                self.c &= 0x7FFFF
                self.ct = 8

    def encode(self, states: bytearray, cx: int, d: int) -> None:
        st = states[cx]
        qe = _QE_ST[st]
        a = self.a - qe
        if d == st & 1:  # CODEMPS
            if a & 0x8000:
                self.a = a
                self.c += qe
                return
            if a < qe:
                a = qe
            else:
                self.c += qe
            states[cx] = _NMPS_ST[st]
        else:  # CODELPS
            if a < qe:
                self.c += qe
            else:
                a = qe
            states[cx] = _NLPS_ST[st]
        while True:  # RENORME
            a = (a << 1) & 0xFFFF
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self.a = a
                self._byteout()
            if a & 0x8000:
                break
        self.a = a

    def flush(self) -> bytes:
        # SETBITS (T.88 E.2.9): push C to the largest value inside [C, C+A)
        # whose low 16 bits are all ones, then clock out the remainder
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c <<= self.ct
        self._byteout()
        self.c <<= self.ct
        self._byteout()
        return bytes(self._out[1:])


# ---------------------------------------------------------------------------
# Generic region templates (T.88 §6.2.5.3, Figures 4-7). Each entry is the
# context's bit layout, most-significant first, in the spec figure's
# reading order (top row left-to-right, then down). AT pixels keep their
# figure slot regardless of where the A_k coordinates actually point.
# 'a1'..'a4' name AT slots; pairs are fixed (dx, dy) offsets.
# ---------------------------------------------------------------------------

_TEMPLATE_SLOTS = (
    # GBTEMPLATE 0: 16-bit context
    ("a4", (-1, -2), (0, -2), (1, -2), "a3",
     "a2", (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1), "a1",
     (-4, 0), (-3, 0), (-2, 0), (-1, 0)),
    # GBTEMPLATE 1: 13-bit context
    ((-1, -2), (0, -2), (1, -2), (2, -2),
     (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1), "a1",
     (-3, 0), (-2, 0), (-1, 0)),
    # GBTEMPLATE 2: 10-bit context
    ((-1, -2), (0, -2), (1, -2),
     (-2, -1), (-1, -1), (0, -1), (1, -1), "a1",
     (-2, 0), (-1, 0)),
    # GBTEMPLATE 3: 10-bit context, single reference row
    ((-3, -1), (-2, -1), (-1, -1), (0, -1), (1, -1), "a1",
     (-4, 0), (-3, 0), (-2, 0), (-1, 0)),
)

# nominal AT positions (T.88 §6.2.5.3) — a1..a4 defaults per template
_NOMINAL_AT = (
    ((3, -1), (-3, -1), (2, -2), (-2, -2)),
    ((3, -1),),
    ((2, -1),),
    ((2, -1),),
)

# TPGDON pseudo-context per template (T.88 §6.2.5.7)
_TPGD_CTX = (0x9B25, 0x0795, 0x00E5, 0x0195)

_N_AT = (4, 1, 1, 1)


def _template_offsets(
    template: int, at: tuple[tuple[int, int], ...]
) -> list[tuple[int, int]]:
    """Resolve a template's slot list to concrete (dx, dy) offsets, MSB
    slot first. Validates AT pixels reference only already-decoded pixels
    (dy < 0, or dy == 0 and dx < 0)."""
    slots = _TEMPLATE_SLOTS[template]
    out: list[tuple[int, int]] = []
    for slot in slots:
        if isinstance(slot, str):
            dx, dy = at[int(slot[1]) - 1]
            if dy > 0 or (dy == 0 and dx >= 0):
                raise ValueError("JBIG2: AT pixel references undecoded area")
        else:
            dx, dy = slot
        out.append((dx, dy))
    return out


def _decode_region_arith(
    data: bytes,
    width: int,
    height: int,
    template: int,
    at: tuple[tuple[int, int], ...],
    tpgdon: bool,
) -> np.ndarray:
    """Decode one arithmetic generic region to a (height, width) uint8
    bitmap, 1 = black. Nominal-AT layouts take the incremental-context
    fast path (3 shift-registers per row); any custom AT falls back to
    the per-slot generic loop."""
    states = bytearray(1 << len(_TEMPLATE_SLOTS[template]))
    return _decode_bitmap(
        _MQDecoder(data), states, width, height, template, at, tpgdon
    )


def _decode_bitmap(
    dec: _MQDecoder,
    states: bytearray,
    width: int,
    height: int,
    template: int,
    at: tuple[tuple[int, int], ...],
    tpgdon: bool,
) -> np.ndarray:
    """Generic bitmap decoding procedure (T.88 §6.2.5.7) against a
    caller-owned MQ decoder + GB context state — symbol dictionaries
    decode every symbol bitmap through ONE shared decoder/context set."""
    if width <= 0 or height <= 0 or width * height > MAX_PIXELS:
        raise ValueError("JBIG2: bad region dimensions")
    bitmap = np.zeros((height, width), dtype=np.uint8)
    tpgd_ctx = _TPGD_CTX[template]
    nominal = at == _NOMINAL_AT[template]
    offsets = None if nominal else _template_offsets(template, at)
    ltp = 0
    decode = dec.decode
    for y in range(height):
        if tpgdon:
            if decode(states, tpgd_ctx):
                ltp ^= 1
            if ltp:  # typical row: copy the line above (all-zero for y=0)
                if y > 0:
                    bitmap[y] = bitmap[y - 1]
                continue
        if nominal:
            _decode_row_nominal(dec, states, bitmap, y, width, template)
        else:
            _decode_row_generic(decode, states, bitmap, y, width, offsets)
    return bitmap


# per-template (row-2 span, row-1 span, row-0 length) for nominal ATs —
# contiguous column windows, so each row's context bits form one field
_NOMINAL_SPANS = (
    ((-2, 2), (-3, 3), 4),   # t0: 5 + 7 + 4 bits
    ((-1, 2), (-2, 3), 3),   # t1: 4 + 6 + 3 bits
    ((-1, 1), (-2, 2), 2),   # t2: 3 + 5 + 2 bits
    (None, (-3, 2), 4),      # t3: 6 + 4 bits, single reference row
)


def _decode_row_nominal(
    dec: _MQDecoder, states: bytearray, bitmap: np.ndarray, y: int,
    width: int, template: int,
) -> None:
    """Incremental-context row decode for nominal AT positions: each
    reference row's window is contiguous, so the context is three shift
    registers updated with one new bit per column step. Reference rows
    are zero-padded ``bytes`` (4 columns each side covers every nominal
    window), and the MQ coder state lives in locals for the row."""
    s2, s1, n0 = _NOMINAL_SPANS[template]
    zero = bytes(width)
    pad = b"\0\0\0\0"
    r1 = pad + (bitmap[y - 1].tobytes() if y >= 1 else zero) + pad
    if s2 is None:  # single reference row: a row-2 register that stays 0
        r2, s2, m2 = r1, (0, 0), 0
    else:
        r2 = pad + (bitmap[y - 2].tobytes() if y >= 2 else zero) + pad
        m2 = (1 << (s2[1] - s2[0] + 1)) - 1
    c2 = 0
    for x in range(s2[0], s2[1]):  # seed bits for x=0, minus the last
        c2 = ((c2 << 1) | r2[x + 4]) & m2
    w1 = s1[1] - s1[0] + 1
    m1 = (1 << w1) - 1
    c1 = 0
    for x in range(s1[0], s1[1]):
        c1 = (c1 << 1) | r1[x + 4]
    m0 = (1 << n0) - 1
    c0 = 0  # row-0 window x-n0..x-1 is all left of x: zeros at x=0
    sh0 = n0
    sh1 = w1 + n0
    e1 = s1[1] + 4
    e2 = s2[1] + 4
    row = bytearray(width)
    qe_t, nmps, nlps, shift_t = _QE_ST, _NMPS_ST, _NLPS_ST, _RENORM_SHIFT
    data, n = dec.data, dec.n
    a, c, ct, bp = dec.a, dec.c, dec.ct, dec.bp
    for x in range(width):
        c1 = ((c1 << 1) | r1[x + e1]) & m1
        c2 = ((c2 << 1) | r2[x + e2]) & m2
        cx = (c2 << sh1) | (c1 << sh0) | c0
        # _MQDecoder.decode, inlined on local coder state, with RENORMD's
        # shifts taken in one step
        st = states[cx]
        qe = qe_t[st]
        a -= qe
        if ((c >> 16) & 0xFFFF) < qe:
            if a < qe:
                d = st & 1
                states[cx] = nmps[st]
            else:
                d = (st & 1) ^ 1
                states[cx] = nlps[st]
            a = qe
        else:
            c -= qe << 16
            if a & 0x8000:
                d = st & 1
            elif a < qe:
                d = (st & 1) ^ 1
                states[cx] = nlps[st]
            else:
                d = st & 1
                states[cx] = nmps[st]
        if a < 0x8000:  # RENORMD, all shifts at once
            s = shift_t[a]
            a <<= s
            while s > ct:
                c = (c << ct) & 0xFFFFFFFF
                s -= ct
                bp, c, ct = _mq_bytein(data, n, bp, c)
            c = (c << s) & 0xFFFFFFFF
            ct -= s
        row[x] = d
        c0 = ((c0 << 1) | d) & m0
    dec.a, dec.c, dec.ct, dec.bp = a, c, ct, bp
    bitmap[y] = np.frombuffer(row, dtype=np.uint8)


def _decode_row_generic(
    decode, states: bytearray, bitmap: np.ndarray, y: int, width: int,
    offsets: list[tuple[int, int]],
) -> None:
    row = bitmap[y]
    for x in range(width):
        cx = 0
        for dx, dy in offsets:
            yy = y + dy
            xx = x + dx
            if yy < 0 or xx < 0 or xx >= width:
                v = 0
            else:
                v = int(bitmap[yy, xx])
            cx = (cx << 1) | v
        row[x] = decode(states, cx)


def _encode_region_arith(
    black: np.ndarray,
    template: int,
    at: tuple[tuple[int, int], ...],
    tpgdon: bool,
) -> bytes:
    """Encode a (height, width) 1-=-black bitmap as one arithmetic generic
    region (fresh MQ encoder + contexts, flushed)."""
    states = bytearray(1 << len(_TEMPLATE_SLOTS[template]))
    enc = _MQEncoder()
    _encode_bitmap(enc, states, black, template, at, tpgdon)
    return enc.flush()


def _encode_bitmap(
    enc: _MQEncoder,
    states: bytearray,
    black: np.ndarray,
    template: int,
    at: tuple[tuple[int, int], ...],
    tpgdon: bool,
) -> None:
    """Generic bitmap encoding against a caller-owned MQ encoder + GB
    context state (unflushed — symbol dictionaries chain many bitmaps
    into one arithmetic stream). Context values are computed vectorized
    (every pixel is known up front — only the decoder has the feedback
    loop), then the MQ encoder consumes them pixel by pixel."""
    height, width = black.shape
    offsets = _template_offsets(template, at)
    # ctx[y, x] as a sum of shifted neighbor planes; out-of-bounds = 0
    ctx = np.zeros((height, width), dtype=np.uint32)
    for i, (dx, dy) in enumerate(offsets):
        shift = len(offsets) - 1 - i
        plane = np.zeros((height, width), dtype=np.uint32)
        ys, yd = max(0, -dy), max(0, dy)
        xs, xd = max(0, -dx), max(0, dx)
        h = height - abs(dy)
        w = width - abs(dx)
        if h > 0 and w > 0:
            plane[ys : ys + h, xs : xs + w] = black[yd : yd + h, xd : xd + w]
        ctx |= plane << shift
    tpgd_ctx = _TPGD_CTX[template]
    ltp = 0
    prev = np.zeros(width, dtype=np.uint8)
    for y in range(height):
        if tpgdon:
            typical = bool(np.array_equal(black[y], prev))
            enc.encode(states, tpgd_ctx, 1 if typical != bool(ltp) else 0)
            ltp = typical
            prev = black[y]
            if typical:
                continue
        row = black[y]
        crow = ctx[y]
        encode = enc.encode
        for x in range(width):
            encode(states, int(crow[x]), int(row[x]))
        if not tpgdon:
            prev = row


# ---------------------------------------------------------------------------
# Embedded-organization segment layer (T.88 §7.2): the headerless stream
# PDF /JBIG2Decode carries — a sequence of segments, each with a header
# (number, flags/type, referred-to list, page association, data length).
# ---------------------------------------------------------------------------

_SEG_SYMBOL_DICT = 0
_SEG_TEXT_IMMEDIATE = 6
_SEG_TEXT_IMMEDIATE_LOSSLESS = 7
_SEG_TEXT_INTERMEDIATE = 4
_SEG_PAGE_INFO = 48
_SEG_GENERIC_IMMEDIATE = 38
_SEG_GENERIC_IMMEDIATE_LOSSLESS = 39
_SEG_GENERIC_INTERMEDIATE = 36
_SEG_END_OF_PAGE = 49
_SEG_END_OF_STRIPE = 50
_SEG_END_OF_FILE = 51
# segment types needing state we don't implement: pattern dict (16),
# halftone regions (20,22,23), refinement regions (40,42,43)
_SEG_UNSUPPORTED = frozenset({16, 20, 22, 23, 40, 42, 43})


def _seg_header(
    number: int,
    seg_type: int,
    page: int,
    length: int,
    referred: tuple[int, ...] = (),
) -> bytes:
    """One segment header (short referred-to form, 1-byte page assoc;
    writer fixtures keep segment numbers ≤ 256 so referred numbers are
    1 byte each)."""
    if len(referred) > 4 or number > 256:
        raise ValueError("JBIG2 writer: short-form header limits exceeded")
    rts = bytes([len(referred) << 5]) + bytes(referred)
    return (
        struct.pack(">IB", number, seg_type & 0x3F)
        + rts
        + struct.pack(">BI", page, length)
    )


def encode_jbig2_generic(
    data: bytes,
    columns: int,
    rows: int,
    template: int = 0,
    tpgdon: bool = True,
    mmr: bool = False,
    at: tuple[tuple[int, int], ...] | None = None,
) -> bytes:
    """Encode packed 1-bpp rows (PDF sample convention: 0 bit = black,
    stride = ceil(columns/8)) as an embedded-organization JBIG2 stream —
    page info + one immediate lossless generic region + end-of-page —
    ready for a PDF ``/JBIG2Decode`` stream. ``mmr`` selects the T.6 MMR
    variant (reusing codec_ccitt); otherwise the MQ arithmetic coder with
    the given ``template``/``at``/``tpgdon``."""
    if not 0 <= template <= 3:
        raise ValueError("JBIG2: bad template")
    stride = (columns + 7) // 8
    if len(data) < stride * rows:
        raise ValueError("JBIG2: sample buffer too small")
    if mmr:
        from gnosis_ocr_spark.functions.codec_ccitt import encode_g4

        # MMR inside JBIG2 is T.6 row coding (T.88 §6.2.6); the trailing
        # EOFB encode_g4 emits is tolerated by decode_g4's row-bounded loop
        coded = encode_g4(data, columns, rows)
        flags = 0x01
        at_bytes = b""
    else:
        arr = np.frombuffer(data[: stride * rows], dtype=np.uint8)
        bits = np.unpackbits(arr.reshape(rows, stride), axis=1)[:, :columns]
        black = (1 - bits).astype(np.uint8)  # PDF 0-=-black → JBIG2 1-=-black
        at = tuple(at) if at is not None else _NOMINAL_AT[template]
        if len(at) != _N_AT[template]:
            raise ValueError("JBIG2: wrong AT pixel count for template")
        coded = _encode_region_arith(black, template, at, tpgdon)
        flags = (template << 1) | (0x08 if tpgdon else 0)
        at_bytes = b"".join(
            struct.pack(">bb", dx, dy) for dx, dy in at
        )
    # region segment info (T.88 §7.4.1): w, h, x, y, combination operator
    region_info = struct.pack(">IIIIB", columns, rows, 0, 0, 0)  # OR
    region_data = region_info + bytes([flags]) + at_bytes + coded
    page_info = struct.pack(">IIIIBH", columns, rows, 0, 0, 0x01, 0)
    out = bytearray()
    out += _seg_header(0, _SEG_PAGE_INFO, 1, len(page_info))
    out += page_info
    out += _seg_header(
        1, _SEG_GENERIC_IMMEDIATE_LOSSLESS, 1, len(region_data)
    )
    out += region_data
    out += _seg_header(2, _SEG_END_OF_PAGE, 1, 0)
    return bytes(out)


def _parse_seg_header(
    data: bytes, pos: int
) -> tuple[int, int, tuple[int, ...], int, int, int]:
    """Parse one segment header at ``pos``; returns (seg_number, seg_type,
    referred_numbers, data_length, data_start, next_pos). Raises on
    truncation or the unknown-length sentinel."""
    if pos + 11 > len(data):
        raise ValueError("JBIG2: truncated segment header")
    number, flags = struct.unpack_from(">IB", data, pos)
    seg_type = flags & 0x3F
    page_assoc_4 = bool(flags & 0x40)
    pos += 5
    rts = data[pos]
    count = rts >> 5
    if count == 7:  # long form: 29-bit count + retain-bit bytes
        count = struct.unpack_from(">I", data, pos)[0] & 0x1FFFFFFF
        pos += 4 + (count + 8) // 8
    else:
        pos += 1
    ref_size = 1 if number <= 256 else (2 if number <= 65536 else 4)
    if pos + count * ref_size > len(data):
        raise ValueError("JBIG2: truncated referred-to list")
    fmt = {1: ">B", 2: ">H", 4: ">I"}[ref_size]
    referred = tuple(
        struct.unpack_from(fmt, data, pos + i * ref_size)[0]
        for i in range(count)
    )
    pos += count * ref_size
    pos += 4 if page_assoc_4 else 1
    if pos + 4 > len(data):
        raise ValueError("JBIG2: truncated segment header")
    (length,) = struct.unpack_from(">I", data, pos)
    pos += 4
    if length == 0xFFFFFFFF:  # unknown-length generic region (§7.2.7)
        raise ValueError("JBIG2: unknown segment data length unsupported")
    if pos + length > len(data):
        raise ValueError("JBIG2: truncated segment data")
    return number, seg_type, referred, length, pos, pos + length


def decode_jbig2(data: bytes, globals_data: bytes = b"") -> tuple[int, int, bytes]:
    """Decode an embedded-organization JBIG2 stream (the PDF
    ``/JBIG2Decode`` payload) of generic regions. Returns ``(columns,
    rows, samples)`` with ``samples`` packed 1-bpp rows in the PDF
    /DeviceGray convention (0 bit = black) — the polarity PDF viewers
    deliver to the imaging model (JBIG2's own bitmaps are 1 = black).

    Symbol dictionaries (arithmetic, non-refinement) decode and register
    by segment number — ``globals_data`` (/JBIG2Globals) is parsed first,
    exactly so dictionaries shared across pages resolve; text regions
    gather their symbols from the referred-to dictionaries in referred
    order (T.88 §7.4.3.1.1). Halftone/refinement segments, Huffman-coded
    variants, and refinement-aggregate symbols raise ValueError (→ opaque
    carry upstream)."""
    page_w = page_h = 0
    regions: list[tuple[int, int, int, np.ndarray]] = []
    sym_dicts: dict[int, list[np.ndarray]] = {}
    for blob in (globals_data, data):
        pos = 0
        while pos < len(blob):
            number, seg_type, referred, length, start, pos = (
                _parse_seg_header(blob, pos)
            )
            body = blob[start : start + length]
            if seg_type in _SEG_UNSUPPORTED:
                raise ValueError(
                    f"JBIG2: segment type {seg_type} (halftone/refinement)"
                    " unsupported"
                )
            if seg_type == _SEG_PAGE_INFO:
                if len(body) < 19:
                    raise ValueError("JBIG2: short page info segment")
                page_w, page_h = struct.unpack_from(">II", body, 0)
                continue
            if seg_type == _SEG_SYMBOL_DICT:
                inputs: list[np.ndarray] = []
                for r in referred:
                    inputs.extend(sym_dicts.get(r, []))
                sym_dicts[number] = _decode_symbol_dict(body, inputs)
                continue
            if seg_type in (
                _SEG_TEXT_IMMEDIATE,
                _SEG_TEXT_IMMEDIATE_LOSSLESS,
                _SEG_TEXT_INTERMEDIATE,
            ):
                syms: list[np.ndarray] = []
                for r in referred:
                    syms.extend(sym_dicts.get(r, []))
                regions.append(_decode_text_region(body, syms))
                continue
            if seg_type in (
                _SEG_GENERIC_IMMEDIATE,
                _SEG_GENERIC_IMMEDIATE_LOSSLESS,
                _SEG_GENERIC_INTERMEDIATE,
            ):
                regions.append(_decode_region_segment(body))
                continue
            # end-of-page/stripe/file, extensions: ignore
    if not regions:
        raise ValueError("JBIG2: no generic region segment")
    if page_h in (0, 0xFFFFFFFF):  # unknown/auto page height: fit regions
        page_h = max(y + bm.shape[0] for _, y, _, bm in regions)
    if page_w == 0:
        page_w = max(x + bm.shape[1] for x, _, _, bm in regions)
    if page_w * page_h > MAX_PIXELS:
        raise ValueError("JBIG2: page exceeds pixel bound")
    page = np.zeros((page_h, page_w), dtype=np.uint8)
    for x, y, comb, bm in regions:
        h, w = bm.shape
        if y + h > page_h or x + w > page_w:
            raise ValueError("JBIG2: region outside page")
        window = page[y : y + h, x : x + w]
        if comb == 0:  # OR
            window |= bm
        elif comb == 1:  # AND
            window &= bm
        elif comb == 2:  # XOR
            window ^= bm
        elif comb == 3:  # XNOR
            window[:] = 1 - (window ^ bm)
        else:  # REPLACE
            window[:] = bm
    # JBIG2 1-=-black → PDF /DeviceGray 0-=-black
    return page_w, page_h, np.packbits(1 - page, axis=1).tobytes()


def _decode_region_segment(body: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode one generic region segment body → (x, y, comb_op, bitmap)."""
    if len(body) < 18:
        raise ValueError("JBIG2: short region segment")
    w, h, x, y, ext_flags = struct.unpack_from(">IIIIB", body, 0)
    comb = ext_flags & 0x07
    gflags = body[17]
    mmr = gflags & 0x01
    template = (gflags >> 1) & 0x03
    tpgdon = bool(gflags & 0x08)
    pos = 18
    if mmr:
        if tpgdon:
            raise ValueError("JBIG2: MMR with TPGDON is invalid")
        from gnosis_ocr_spark.functions.codec_ccitt import decode_g4

        if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
            raise ValueError("JBIG2: bad region dimensions")
        packed = decode_g4(body[pos:], w, h, black_is_1=True)
        stride = (w + 7) // 8
        arr = np.frombuffer(packed[: stride * h], dtype=np.uint8)
        bitmap = np.unpackbits(arr.reshape(h, stride), axis=1)[:, :w].copy()
    else:
        n_at = _N_AT[template]
        if pos + 2 * n_at > len(body):
            raise ValueError("JBIG2: truncated AT pixels")
        at = tuple(
            struct.unpack_from(">bb", body, pos + 2 * i) for i in range(n_at)
        )
        pos += 2 * n_at
        bitmap = _decode_region_arith(
            body[pos:], w, h, template, at, tpgdon
        )
    return x, y, comb, bitmap


# ---------------------------------------------------------------------------
# Symbol coding (T.88 §6.4/§6.5 + Annex A): the mode real scanned-text
# encoders (jbig2enc-style) emit — a symbol dictionary of distinct glyph
# bitmaps plus text regions placing symbol instances. Arithmetic variant
# only (SDHUFF/SBHUFF/REFINE raise → opaque carry upstream).
# ---------------------------------------------------------------------------

_OOB = object()  # Annex A out-of-band marker (ends runs/strips)

_MAX_SYMBOLS = 1 << 16
_MAX_SYM_DIM = 1 << 12


class _ArithInt:
    """One arithmetic integer decoding context (T.88 Annex A: IADH, IADW,
    IAEX, IADT, IAFS, IADS, IAIT, …) — a 512-state prefix-tree context
    over a shared MQ coder. The encoder side is the exact inverse."""

    __slots__ = ("states",)

    # (prefix bits as (value, length), value bit count, offset)
    _RANGES = (
        ((0b0, 1), 2, 0),
        ((0b10, 2), 4, 4),
        ((0b110, 3), 6, 20),
        ((0b1110, 4), 8, 84),
        ((0b11110, 5), 12, 340),
        ((0b11111, 5), 32, 4436),
    )

    def __init__(self) -> None:
        self.states = bytearray(512)

    def decode(self, mq: _MQDecoder):
        states = self.states
        prev = 1

        def bit() -> int:
            nonlocal prev
            b = mq.decode(states, prev)
            prev = (
                (prev << 1) | b
                if prev < 256
                else ((((prev << 1) | b) & 511) | 256)
            )
            return b

        s = bit()
        if not bit():
            n, off = 2, 0
        elif not bit():
            n, off = 4, 4
        elif not bit():
            n, off = 6, 20
        elif not bit():
            n, off = 8, 84
        elif not bit():
            n, off = 12, 340
        else:
            n, off = 32, 4436
        v = 0
        for _ in range(n):
            v = (v << 1) | bit()
        v += off
        if s and v == 0:
            return _OOB
        return -v if s else v

    def encode(self, mq: _MQEncoder, value) -> None:
        states = self.states
        prev = 1

        def bit(b: int) -> None:
            nonlocal prev
            mq.encode(states, prev, b)
            prev = (
                (prev << 1) | b
                if prev < 256
                else ((((prev << 1) | b) & 511) | 256)
            )

        if value is _OOB:
            s, v = 1, 0
        else:
            s, v = (1, -value) if value < 0 else (0, value)
        bit(s)
        for (pfx, pfx_len), n, off in self._RANGES:
            if v < off + (1 << n) or n == 32:
                for i in range(pfx_len - 1, -1, -1):
                    bit((pfx >> i) & 1)
                rem = v - off
                for i in range(n - 1, -1, -1):
                    bit((rem >> i) & 1)
                return
        raise AssertionError("unreachable")


class _ArithIaid:
    """Symbol-ID decoding context (T.88 A.3): a SYMCODELEN-deep balanced
    prefix tree over the shared MQ coder."""

    __slots__ = ("states", "codelen")

    def __init__(self, n_syms: int) -> None:
        self.codelen = max(1, (max(1, n_syms - 1)).bit_length())
        self.states = bytearray(1 << (self.codelen + 1))

    def decode(self, mq: _MQDecoder) -> int:
        prev = 1
        for _ in range(self.codelen):
            prev = (prev << 1) | mq.decode(self.states, prev)
        return prev - (1 << self.codelen)

    def encode(self, mq: _MQEncoder, sym_id: int) -> None:
        prev = 1
        for i in range(self.codelen - 1, -1, -1):
            b = (sym_id >> i) & 1
            mq.encode(self.states, prev, b)
            prev = (prev << 1) | b


def _decode_symbol_dict(
    body: bytes, inputs: list[np.ndarray]
) -> list[np.ndarray]:
    """Symbol dictionary decoding (T.88 §6.5.5, arithmetic non-refinement):
    height classes of delta-coded widths, each symbol bitmap decoded via
    the generic procedure against ONE shared MQ decoder + GB context set;
    the export phase (IAEX runs over input ∪ new symbols) selects the
    dictionary's output."""
    if len(body) < 12:
        raise ValueError("JBIG2: short symbol dictionary")
    (flags,) = struct.unpack_from(">H", body, 0)
    if flags & 0x01:
        raise ValueError("JBIG2: Huffman symbol dictionary unsupported")
    if flags & 0x02:
        raise ValueError("JBIG2: refinement-aggregate symbols unsupported")
    template = (flags >> 10) & 0x03
    pos = 2
    n_at = _N_AT[template]
    if pos + 2 * n_at + 8 > len(body):
        raise ValueError("JBIG2: truncated symbol dictionary header")
    at = tuple(
        struct.unpack_from(">bb", body, pos + 2 * i) for i in range(n_at)
    )
    pos += 2 * n_at
    n_ex, n_new = struct.unpack_from(">II", body, pos)
    pos += 8
    if n_new > _MAX_SYMBOLS or n_ex > _MAX_SYMBOLS:
        raise ValueError("JBIG2: symbol count exceeds bound")
    mq = _MQDecoder(body[pos:])
    iadh, iadw, iaex = _ArithInt(), _ArithInt(), _ArithInt()
    gb_states = bytearray(1 << len(_TEMPLATE_SLOTS[template]))
    new_syms: list[np.ndarray] = []
    hc_height = 0
    hc_classes = 0
    while len(new_syms) < n_new:
        # hostile-input bound: a crafted stream can decode endless empty
        # height classes (dh valid, width run immediately OOB) without
        # ever adding a symbol — a hang no except-clause can catch
        hc_classes += 1
        if hc_classes > n_new + 256:
            raise ValueError("JBIG2: runaway height classes")
        dh = iadh.decode(mq)
        if dh is _OOB:
            raise ValueError("JBIG2: OOB height-class delta")
        hc_height += dh
        if not 0 < hc_height <= _MAX_SYM_DIM:
            raise ValueError("JBIG2: bad symbol height")
        sym_width = 0
        while True:
            dw = iadw.decode(mq)
            if dw is _OOB:
                break
            sym_width += dw
            if not 0 < sym_width <= _MAX_SYM_DIM:
                raise ValueError("JBIG2: bad symbol width")
            if len(new_syms) >= n_new:
                raise ValueError("JBIG2: more symbols than declared")
            new_syms.append(
                _decode_bitmap(
                    mq, gb_states, sym_width, hc_height, template, at, False
                )
            )
    # export phase: alternating skip/export runs over inputs + new symbols
    pool = inputs + new_syms
    exported: list[np.ndarray] = []
    ex_flag = False
    idx = 0
    runs = 0
    while idx < len(pool) and len(exported) < n_ex:
        # hostile-input bound: zero-length runs make no progress — cap the
        # run count (legal streams need at most ~2 runs per pool symbol)
        runs += 1
        if runs > 2 * (len(pool) + 1) + 2:
            raise ValueError("JBIG2: runaway export runs")
        run = iaex.decode(mq)
        if run is _OOB or run < 0:
            raise ValueError("JBIG2: bad export run")
        if ex_flag:
            exported.extend(pool[idx : idx + run])
        idx += run
        ex_flag = not ex_flag
    if len(exported) != n_ex:
        raise ValueError("JBIG2: export count mismatch")
    return exported


def _decode_text_region(
    body: bytes, syms: list[np.ndarray]
) -> tuple[int, int, int, np.ndarray]:
    """Text region decoding (T.88 §6.4.5, arithmetic non-refinement,
    non-transposed) → (x, y, comb_op, bitmap). Symbol instances are
    placed strip by strip: IADT strip deltas, IAFS/IADS S-coordinates,
    IAIT in-strip T offsets, IAID symbol selection."""
    if len(body) < 23:
        raise ValueError("JBIG2: short text region")
    w, h, x, y, ext_flags = struct.unpack_from(">IIIIB", body, 0)
    comb = ext_flags & 0x07
    (flags,) = struct.unpack_from(">H", body, 17)
    if flags & 0x01:
        raise ValueError("JBIG2: Huffman text region unsupported")
    if flags & 0x02:
        raise ValueError("JBIG2: refinement text region unsupported")
    log_strips = (flags >> 2) & 0x03
    strips = 1 << log_strips
    ref_corner = (flags >> 4) & 0x03
    transposed = (flags >> 6) & 0x01
    sb_comb = (flags >> 7) & 0x03
    def_pixel = (flags >> 9) & 0x01
    ds_offset = (flags >> 10) & 0x1F
    if ds_offset > 15:
        ds_offset -= 32  # signed 5-bit
    if transposed:
        raise ValueError("JBIG2: transposed text region unsupported")
    (n_instances,) = struct.unpack_from(">I", body, 19)
    if not syms:
        raise ValueError("JBIG2: text region with no referred symbols")
    if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
        raise ValueError("JBIG2: bad region dimensions")
    if n_instances > MAX_PIXELS:
        raise ValueError("JBIG2: instance count exceeds bound")
    bitmap = np.full((h, w), def_pixel, dtype=np.uint8)
    mq = _MQDecoder(body[23:])
    iadt, iafs, iads, iait = (
        _ArithInt(), _ArithInt(), _ArithInt(), _ArithInt(),
    )
    iaid = _ArithIaid(len(syms))
    dt0 = iadt.decode(mq)
    if dt0 is _OOB:
        raise ValueError("JBIG2: OOB strip T")
    strip_t = -dt0 * strips
    first_s = 0
    n_done = 0
    while n_done < n_instances:
        dt = iadt.decode(mq)
        if dt is _OOB:
            raise ValueError("JBIG2: OOB strip T")
        strip_t += dt * strips
        cur_s = 0
        first = True
        while n_done < n_instances:
            if first:
                dfs = iafs.decode(mq)
                if dfs is _OOB:
                    raise ValueError("JBIG2: OOB first S")
                first_s += dfs
                cur_s = first_s
                first = False
            else:
                ids = iads.decode(mq)
                if ids is _OOB:
                    break  # end of strip
                cur_s += ids + ds_offset
            cur_t = iait.decode(mq) if strips > 1 else 0
            if cur_t is _OOB:
                raise ValueError("JBIG2: OOB in-strip T")
            t = strip_t + cur_t
            sym_id = iaid.decode(mq)
            if not 0 <= sym_id < len(syms):
                raise ValueError("JBIG2: symbol id out of range")
            sym = syms[sym_id]
            sh, sw = sym.shape
            if ref_corner in (2, 3):  # right corners: advance, then place
                cur_s += sw - 1
                left = cur_s - sw + 1
            else:
                left = cur_s
            top = t if ref_corner & 1 else t - sh + 1
            if not (0 <= left and left + sw <= w and 0 <= top and top + sh <= h):
                raise ValueError("JBIG2: symbol instance outside region")
            window = bitmap[top : top + sh, left : left + sw]
            if sb_comb == 0:
                window |= sym
            elif sb_comb == 1:
                window &= sym
            elif sb_comb == 2:
                window ^= sym
            else:
                window[:] = 1 - (window ^ sym)
            if ref_corner in (0, 1):  # left corners: place, then advance
                cur_s += sw - 1
            n_done += 1
    return x, y, comb, bitmap


def encode_jbig2_symbol(
    data: bytes,
    columns: int,
    rows: int,
    cell: int = 16,
    use_globals: bool = False,
) -> tuple[bytes, bytes]:
    """Encode packed 1-bpp rows (PDF convention, 0 bit = black) as a
    symbol-mode JBIG2 stream — the shape real scanned-text encoders emit:
    the page is partitioned into ``cell``×``cell`` tiles, distinct
    non-blank tile patterns become dictionary symbols (the trivial exact
    pattern-matcher), and one text region places every instance
    (TOPLEFT corner, SBSTRIPS=1).

    Returns ``(stream, globals)``: with ``use_globals`` the symbol
    dictionary moves into the second blob (the PDF /JBIG2Globals layout,
    shared across pages); otherwise it is inline and ``globals`` is
    empty."""
    stride = (columns + 7) // 8
    if len(data) < stride * rows:
        raise ValueError("JBIG2: sample buffer too small")
    arr = np.frombuffer(data[: stride * rows], dtype=np.uint8)
    bits = np.unpackbits(arr.reshape(rows, stride), axis=1)[:, :columns]
    black = (1 - bits).astype(np.uint8)
    # edge tiles keep their natural (cropped) size — symbol dictionaries
    # carry per-height classes of per-width symbols, so mixed sizes are
    # the normal case, and no instance ever overflows the region
    sym_index: dict[bytes, int] = {}
    tiles: list[np.ndarray] = []
    raw_instances: list[tuple[int, int, int]] = []  # (y, x, tile_id)
    for cy in range(0, rows, cell):
        for cx in range(0, columns, cell):
            tile = black[cy : cy + cell, cx : cx + cell]
            if not tile.any():
                continue  # blank tiles are background, not symbols
            key = tile.shape[0].to_bytes(2, "big") + tile.tobytes()
            sid = sym_index.get(key)
            if sid is None:
                sid = len(tiles)
                sym_index[key] = sid
                tiles.append(np.ascontiguousarray(tile))
            raw_instances.append((cy, cx, sid))
    if not tiles:  # fully blank page: one blank symbol, one instance
        tiles.append(np.zeros((min(cell, rows), min(cell, columns)), np.uint8))
        raw_instances.append((0, 0, 0))

    # dictionary decode order = (height class asc, insertion) — remap ids
    order = sorted(range(len(tiles)), key=lambda i: (tiles[i].shape[0], i))
    remap = {old: new for new, old in enumerate(order)}
    symbols = [tiles[i] for i in order]
    instances = [(y, x, remap[tid]) for y, x, tid in raw_instances]

    # ---- symbol dictionary segment (arith, template 0, nominal AT)
    mq = _MQEncoder()
    iadh, iadw, iaex = _ArithInt(), _ArithInt(), _ArithInt()
    gb_states = bytearray(1 << 16)
    at = _NOMINAL_AT[0]
    hc_height = 0
    i = 0
    while i < len(symbols):
        h = symbols[i].shape[0]
        iadh.encode(mq, h - hc_height)
        hc_height = h
        prev_w = 0
        while i < len(symbols) and symbols[i].shape[0] == h:
            w = symbols[i].shape[1]
            iadw.encode(mq, w - prev_w)
            prev_w = w
            _encode_bitmap(mq, gb_states, symbols[i], 0, at, False)
            i += 1
        iadw.encode(mq, _OOB)  # end of height class
    iaex.encode(mq, 0)  # skip run (no input symbols)
    iaex.encode(mq, len(symbols))  # export every new symbol
    sd_body = (
        struct.pack(">H", 0x0000)  # arith, no refagg, template 0
        + b"".join(struct.pack(">bb", dx, dy) for dx, dy in at)
        + struct.pack(">II", len(symbols), len(symbols))
        + mq.flush()
    )

    # ---- text region segment (TOPLEFT, SBSTRIPS=1, OR, dsoffset 0)
    mq = _MQEncoder()
    iadt, iafs, iads, iait = (
        _ArithInt(), _ArithInt(), _ArithInt(), _ArithInt(),
    )
    iaid = _ArithIaid(len(symbols))
    del iait  # SBSTRIPS == 1: in-strip T is never coded
    instances.sort()
    iadt.encode(mq, 0)  # STRIPT starts at 0
    strip_t = 0
    first_s = 0
    i = 0
    while i < len(instances):
        t = instances[i][0]
        iadt.encode(mq, t - strip_t)
        strip_t = t
        first = True
        cur_s = 0
        while i < len(instances) and instances[i][0] == strip_t:
            _, sx, sid = instances[i]
            if first:
                iafs.encode(mq, sx - first_s)
                first_s = sx
                first = False
            else:
                iads.encode(mq, sx - cur_s)
            iaid.encode(mq, sid)
            # TOPLEFT: decoder advances by the symbol's own width
            cur_s = sx + symbols[sid].shape[1] - 1
            i += 1
        iads.encode(mq, _OOB)  # end of strip
    tr_body = (
        struct.pack(">IIIIB", columns, rows, 0, 0, 0)  # region info, OR
        + struct.pack(">H", (1 << 4))  # arith, TL corner, strips=1
        + struct.pack(">I", len(instances))
        + mq.flush()
    )

    page_info = struct.pack(">IIIIBH", columns, rows, 0, 0, 0x01, 0)
    sd_seg = _seg_header(1, _SEG_SYMBOL_DICT, 1, len(sd_body)) + sd_body
    stream = bytearray()
    if not use_globals:
        stream += _seg_header(0, _SEG_PAGE_INFO, 1, len(page_info))
        stream += page_info
        stream += sd_seg
    else:
        stream += _seg_header(0, _SEG_PAGE_INFO, 1, len(page_info))
        stream += page_info
    stream += (
        _seg_header(
            2, _SEG_TEXT_IMMEDIATE_LOSSLESS, 1, len(tr_body), referred=(1,)
        )
        + tr_body
    )
    stream += _seg_header(3, _SEG_END_OF_PAGE, 1, 0)
    return bytes(stream), bytes(sd_seg) if use_globals else b""
