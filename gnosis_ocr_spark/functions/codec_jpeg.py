"""Baseline JPEG (ITU-T T.81 / JFIF) codec — stdlib + numpy, no PIL.

The container ships no image library, but crawl PDFs carry scanned pages as
/DCTDecode (JPEG) images and crawl corpora carry JPEG blobs; round 3 left
both as honest opaque stubs. This module implements the public baseline
sequential subset from the spec:

- **decoder** (:func:`decode_jpeg`): SOI/APPn/COM/DQT/SOF0/DHT/
  DRI/SOS/RSTn/EOI marker parse, canonical Huffman decode with 0xFF00
  byte-unstuffing, dequantize, zigzag, orthonormal 8×8 IDCT (numpy matrix
  form), interleaved MCUs with arbitrary sampling factors (4:4:4, 4:2:2,
  4:2:0), restart-marker DC-predictor resets, and PROGRESSIVE (SOF2):
  spectral-selection + successive-approximation scans (DC/AC ×
  first/refine, EOB runs, interleaved correction bits, spec G.1.2)
  accumulate into a coefficient store IDCT'd once at EOI. Returns the
  LUMA plane as 8-bit grayscale — the OCR/feature seam consumes
  luminance; full-color reconstruction (chroma upsample + YCbCr→RGB) is
  out of scope and documented. Arithmetic coding raises cleanly.
- **encoder** (:func:`encode_gray_jpeg`): grayscale baseline writer for
  fixtures — all-ones quantization (rounding loss only, ≤ ~±3/pixel) and
  self-describing canonical Huffman tables (12×4-bit DC, 256×9-bit AC;
  any valid DHT is legal JPEG, so no Annex-K table data is required).
  Encode→decode round-trips within the quantization bound
  (property-tested), which is what makes REAL in-container JPEG fixtures
  possible at all.

Used by: operators/pdf_split (scanned /DCTDecode pages → OCR seam),
operators/multimodal (JPEG feature extraction).

Throughput: entropy decoding is per-symbol Python (~1-2 MPix/s with the
prefix-LUT fast path; IDCT is batched numpy) — ample for fixtures and
metadata/feature extraction, ~seconds for a full-page 300-dpi scan. A
production deployment swaps libjpeg-turbo behind this same function
signature; the Spark-side plumbing (which pages route here, batching,
the PNG hand-off to OCR) is identical either way.
"""

from __future__ import annotations

import struct

import numpy as np


def _zigzag_order() -> list[tuple[int, int]]:
    """(row, col) pairs in JPEG zigzag order, generated (not hardcoded)."""
    out: list[tuple[int, int]] = []
    for s in range(15):
        cells = [(i, s - i) for i in range(s + 1) if i < 8 and s - i < 8]
        if s % 2 == 0:  # even diagonals walk bottom-left → top-right
            cells.reverse()
        out.extend(cells)
    return out


_ZIGZAG = _zigzag_order()
_ZZ_FLAT = np.array([r * 8 + c for r, c in _ZIGZAG], dtype=np.int64)

# orthonormal DCT-II basis: spatial = M.T @ coef @ M, coef = M @ spatial @ M.T
_M = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _M[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16.0)
_M[0, :] *= np.sqrt(1.0 / 8.0)
_M[1:, :] *= np.sqrt(2.0 / 8.0)


class JpegError(ValueError):
    pass


# crawl-robustness guard: a mutated/hostile SOF can declare 65535×65535
# (34 GB of float64 planes) — that must be a clean JpegError, never a
# MemoryError that kills an executor. 50 MPix ≈ A0 at 600 dpi.
MAX_PIXELS = 50_000_000


# ---------------------------------------------------------------- bits


def _fill(
    d: bytes, pos: int, acc: int, nbits: int, marker: int | None
) -> tuple[int, int, int, int | None]:
    """Top the bit buffer up past 24 bits → (pos, acc, nbits, marker).
    Works on unpacked reader state so the scan loops that hold it in
    locals share it with :class:`_BitReader`."""
    while nbits <= 24:
        if marker is not None or pos >= len(d):
            # feed 1-bits past the end (spec: padding); decode stops at EOB
            acc = (acc << 8) | 0xFF
            nbits += 8
            continue
        b = d[pos]
        if b == 0xFF:
            nxt = d[pos + 1] if pos + 1 < len(d) else 0xD9
            if nxt == 0x00:  # stuffed 0xFF data byte
                pos += 2
            else:  # a real marker terminates the entropy segment
                marker = nxt
                continue
        else:
            pos += 1
        acc = (acc << 8) | b
        nbits += 8
    return pos, acc, nbits, marker


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing;
    stops (and records) restart/terminating markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        self.pos, self.acc, self.nbits, self.marker = _fill(
            self.data, self.pos, self.acc, self.nbits, self.marker
        )

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def peek(self, n: int) -> int:
        if self.nbits < n:
            self._fill()
        return (self.acc >> (self.nbits - n)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1

    def align_to_marker(self) -> int | None:
        """Drop partial bits, consume the pending marker (RSTn expected).
        The marker may not have been touched by a fill yet (wide peeks can
        satisfy the last symbols from buffered bits) — scan at ``pos``."""
        self.acc = 0
        self.nbits = 0
        if self.marker is None:
            d = self.data
            # optional 0xFF fill bytes may precede a marker (spec B.1.1.2)
            while self.pos + 1 < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] == 0xFF:
                self.pos += 1
            if self.pos + 1 < len(d) and d[self.pos] == 0xFF:
                self.marker = d[self.pos + 1]
        m = self.marker
        if m is not None:
            self.marker = None
            self.pos += 2  # past 0xFF xx
        return m


_FASTBITS = 10
_FASTMASK = (1 << _FASTBITS) - 1


class _Huff:
    """Canonical Huffman decode table from DHT BITS/HUFFVAL, with a
    ``_FASTBITS``-wide prefix lookup table: one peek + one list index per
    symbol for codes ≤ 10 bits (the common case; Annex-K-style tables keep
    hot symbols short), bit-by-bit fallback for longer codes. Instances are
    cached per (BITS, HUFFVAL) across images (:func:`_huff_cached`) so the
    table builds once per distinct DHT, not once per decode."""

    def __init__(self, bits: list[int], vals: bytes):
        self.lut: dict[tuple[int, int], int] = {}
        self.fast: list[tuple[int, int] | None] = [None] * (1 << _FASTBITS)
        code = 0
        k = 0
        self.maxlen = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lut[(length, code)] = vals[k]
                if length <= _FASTBITS:
                    lo = code << (_FASTBITS - length)
                    for idx in range(lo, lo + (1 << (_FASTBITS - length))):
                        self.fast[idx] = (vals[k], length)
                code += 1
                k += 1
                self.maxlen = length
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        hit = self.fast[br.peek(_FASTBITS)]
        if hit is not None:
            br.skip(hit[1])
            return hit[0]
        code = br.bits(_FASTBITS) if self.maxlen > _FASTBITS else 0
        if self.maxlen <= _FASTBITS:
            raise JpegError("invalid Huffman code")
        for length in range(_FASTBITS + 1, self.maxlen + 1):
            code = (code << 1) | br.bits(1)
            sym = self.lut.get((length, code))
            if sym is not None:
                return sym
        raise JpegError("invalid Huffman code")


_HUFF_CACHE: dict[tuple[tuple[int, ...], bytes], _Huff] = {}


def _huff_cached(bits: list[int], vals: bytes) -> _Huff:
    key = (tuple(bits), bytes(vals))
    h = _HUFF_CACHE.get(key)
    if h is None:
        if len(_HUFF_CACHE) > 64:  # bound: distinct DHTs per process
            _HUFF_CACHE.clear()
        h = _HUFF_CACHE[key] = _Huff(bits, vals)
    return h


def _extend(v: int, s: int) -> int:
    """DC/AC magnitude decoding (spec F.2.2.1): s-bit value → signed."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


# ---------------------------------------------------------------- decoder


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a Huffman-coded JPEG — baseline sequential (SOF0/1) or
    progressive (SOF2, spectral selection + successive approximation) →
    ``(width, height, n_components, luma_gray_pixels)`` with the luma
    plane row-major at full resolution. Raises :class:`JpegError` on
    arithmetic-coded / lossless / malformed input — including mutated
    crawl bytes that would otherwise surface internal IndexError /
    StopIteration (the decode-contract sweep pins this)."""
    try:
        return _decode_jpeg_impl(data)
    except (IndexError, KeyError, StopIteration, struct.error) as exc:
        raise JpegError(f"malformed JPEG stream: {type(exc).__name__}") from exc


def _decode_jpeg_impl(data: bytes) -> tuple[int, int, int, bytes]:
    if data[:2] != b"\xff\xd8":
        raise JpegError("no SOI")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], _Huff] = {}  # (class, id)
    restart_interval = 0
    frame = None
    progressive = False
    coefs: dict[int, np.ndarray] | None = None
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise JpegError("marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / stray RST
            continue
        if pos + 2 > len(data):
            raise JpegError("truncated segment")
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq == 0:
                    q = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(
                        np.float64
                    )
                    p += 64
                else:  # 16-bit table
                    q = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(
                        np.float64
                    )
                    p += 128
                tab = np.zeros(64)
                tab[_ZZ_FLAT] = q
                qtabs[tq] = tab.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = seg[p + 17 : p + 17 + n]
                htabs[(tc, th)] = _huff_cached(bits, vals)
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog.
            progressive = marker == 0xC2
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise JpegError("only 8-bit precision")
            if w == 0 or h == 0 or w * h > MAX_PIXELS:
                raise JpegError(f"unreasonable frame size {w}x{h}")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                )
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise JpegError(f"SOF {marker:#x} unsupported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise JpegError("SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tds = seg[1 + 2 * i], seg[2 + 2 * i]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, tds >> 4, tds & 0xF))
            if not progressive:
                return _decode_scan(
                    data, pos + seglen, frame, scan, qtabs, htabs,
                    restart_interval,
                )
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahl = seg[3 + 2 * ns]
            if coefs is None:
                coefs = _init_prog_coefs(frame)
            pos = _decode_prog_scan(
                data, pos + seglen, frame, scan, htabs, restart_interval,
                coefs, ss, se, ahl >> 4, ahl & 0xF,
            )
            continue
        # APPn, COM, others: skip
        pos += seglen
    if progressive and coefs is not None:
        return _finish_progressive(frame, coefs, qtabs)
    raise JpegError("no SOS found")


def decode_baseline_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Back-compat alias — the decoder now also handles progressive
    (SOF2); see :func:`decode_jpeg`."""
    return decode_jpeg(data)


def _frame_geometry(frame):
    maxh = max(c["h"] for c in frame["comps"])
    maxv = max(c["v"] for c in frame["comps"])
    mcus_x = -(-frame["w"] // (8 * maxh))
    mcus_y = -(-frame["h"] // (8 * maxv))
    return maxh, maxv, mcus_x, mcus_y


def _init_prog_coefs(frame) -> dict[int, np.ndarray]:
    """Per-component coefficient store, zigzag-indexed per block, at the
    full interleaved-MCU geometry (non-interleaved scans address the
    top-left sub-rectangle)."""
    maxh, maxv, mcus_x, mcus_y = _frame_geometry(frame)
    coefs = {}
    for c in frame["comps"]:
        bh, bw = mcus_y * c["v"], mcus_x * c["h"]
        if bh * bw * 64 > 4 * MAX_PIXELS:
            raise JpegError("unreasonable component plane size")
        coefs[c["id"]] = np.zeros((bh, bw, 64), dtype=np.int32)
    return coefs


def _comp_block_dims(frame, comp) -> tuple[int, int]:
    """Non-interleaved block grid: ceil over the component's OWN sampled
    dimensions (spec A.2.2), not the MCU-padded ones."""
    maxh, maxv, _, _ = _frame_geometry(frame)
    cw = -(-frame["w"] * comp["h"] // maxh)
    ch = -(-frame["h"] * comp["v"] // maxv)
    return -(-ch // 8), -(-cw // 8)


def _decode_prog_scan(
    data, pos, frame, scan, htabs, restart_interval, coefs, ss, se, ah, al
):
    """One progressive scan (any of the four kinds: DC/AC × first/refine),
    updating ``coefs`` in place; returns the byte offset of the next
    marker after the entropy segment."""
    if ss == 0 and se != 0:
        raise JpegError("bad spectral band")
    if ss > 63 or se > 63 or se < ss:
        raise JpegError("bad spectral band")
    if ss > 0 and len(scan) != 1:
        raise JpegError("AC scan must be non-interleaved")
    br = _BitReader(data, pos)
    state = {"eobrun": 0, "dc": {c["id"]: 0 for c, _, _ in scan}}

    def reset():
        state["eobrun"] = 0
        for k in state["dc"]:
            state["dc"][k] = 0

    def unit(i_unit):
        if restart_interval and i_unit and i_unit % restart_interval == 0:
            m = br.align_to_marker()
            if m is None or not (0xD0 <= m <= 0xD7):
                raise JpegError("expected restart marker")
            reset()

    maxh, maxv, mcus_x, mcus_y = _frame_geometry(frame)
    if ss == 0 and len(scan) > 1:  # interleaved DC scan over MCUs
        n = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                unit(n)
                n += 1
                for comp, td, _ in scan:
                    blk = coefs[comp["id"]]
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            _prog_dc_block(
                                br, htabs, td, ah, al, state,
                                blk[my * comp["v"] + by, mx * comp["h"] + bx],
                                comp["id"],
                            )
    else:  # non-interleaved: one component, its own block grid
        comp, td, ta = scan[0]
        bh, bw = _comp_block_dims(frame, comp)
        blk = coefs[comp["id"]]
        if ss == 0:
            n = 0
            for by in range(bh):
                for bx in range(bw):
                    unit(n)
                    n += 1
                    _prog_dc_block(
                        br, htabs, td, ah, al, state, blk[by, bx], comp["id"]
                    )
        else:
            # AC bands decode into plain int lists (AC values stay well
            # inside int32), written back once per scan
            ac = _prog_ac_first if ah == 0 else _prog_ac_refine
            blocks = blk[:bh, :bw].reshape(-1, 64).tolist()
            for n, coef in enumerate(blocks):
                unit(n)
                ac(br, htabs, ta, ss, se, al, state, coef)
            blk[:bh, :bw] = np.array(blocks, dtype=np.int32).reshape(
                bh, bw, 64
            )
    return _next_marker_pos(data, br)


def _prog_dc_block(br, htabs, td, ah, al, state, coef, cid):
    if ah == 0:  # DC first: baseline diff decode, scaled by 2^Al
        dct = htabs.get((0, td))
        if dct is None:
            raise JpegError("missing table")
        s = dct.decode(br)
        state["dc"][cid] += _extend(br.bits(s), s)
        coef[0] = state["dc"][cid] << al
    else:  # DC refinement: one bit per block
        if br.bits(1):
            coef[0] = int(coef[0]) | (1 << al)


# The scan loops below hold the bit reader's pos/acc/nbits/marker in
# locals and write them back when they hand off (block end, restart
# marker, long Huffman code); the inlined Huffman and bit reads are
# _Huff.decode and _BitReader.bits on that state.


def _prog_ac_first(br, htabs, ta, ss, se, al, state, coef):
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    act = htabs.get((1, ta))
    if act is None:
        raise JpegError("missing table")
    fast = act.fast
    data = br.data
    pos, acc, nbits, marker = br.pos, br.acc, br.nbits, br.marker
    k = ss
    while k <= se:
        if nbits < _FASTBITS:
            pos, acc, nbits, marker = _fill(data, pos, acc, nbits, marker)
        hit = fast[(acc >> (nbits - _FASTBITS)) & _FASTMASK]
        if hit is None:  # longer than the LUT: the method's bit-serial path
            br.pos, br.acc, br.nbits, br.marker = pos, acc, nbits, marker
            rs = act.decode(br)
            pos, acc, nbits, marker = br.pos, br.acc, br.nbits, br.marker
        else:
            rs, ln = hit
            nbits -= ln
            acc &= (1 << nbits) - 1
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r < 15:  # EOBn: run of (1<<r)+bits(r) all-done blocks
                eobrun = (1 << r) - 1
                if r:
                    if nbits < r:
                        pos, acc, nbits, marker = _fill(data, pos, acc, nbits, marker)
                    nbits -= r
                    v = (acc >> nbits) & ((1 << r) - 1)
                    acc &= (1 << nbits) - 1
                    eobrun += v
                state["eobrun"] = eobrun
                break
            k += 16  # ZRL
        else:
            k += r
            if k > se:
                raise JpegError("AC index overflow")
            if nbits < s:
                pos, acc, nbits, marker = _fill(data, pos, acc, nbits, marker)
            nbits -= s
            v = (acc >> nbits) & ((1 << s) - 1)
            acc &= (1 << nbits) - 1
            if v < 1 << (s - 1):  # _extend
                v -= (1 << s) - 1
            coef[k] = v << al
            k += 1
    br.pos, br.acc, br.nbits, br.marker = pos, acc, nbits, marker


def _prog_ac_refine(br, htabs, ta, ss, se, al, state, coef):
    """Successive-approximation AC refinement (spec G.1.2.3): correction
    bits for already-nonzero coefficients interleave with newly-significant
    ±1<<Al insertions."""
    act = htabs.get((1, ta))
    if act is None:
        raise JpegError("missing table")
    fast = act.fast
    p1 = 1 << al
    data = br.data
    pos, acc, nbits, marker = br.pos, br.acc, br.nbits, br.marker
    if state["eobrun"] > 0:
        for k in range(ss, se + 1):
            v = coef[k]
            if v != 0:  # correction bit
                if not nbits:
                    pos, acc, nbits, marker = _fill(data, pos, acc, nbits, marker)
                nbits -= 1
                b = (acc >> nbits) & 1
                acc &= (1 << nbits) - 1
                if b and (v & p1) == 0:
                    coef[k] = v + (p1 if v >= 0 else -p1)
        state["eobrun"] -= 1
        br.pos, br.acc, br.nbits, br.marker = pos, acc, nbits, marker
        return
    k = ss
    while k <= se:
        if nbits < _FASTBITS:
            pos, acc, nbits, marker = _fill(data, pos, acc, nbits, marker)
        hit = fast[(acc >> (nbits - _FASTBITS)) & _FASTMASK]
        if hit is None:  # longer than the LUT: the method's bit-serial path
            br.pos, br.acc, br.nbits, br.marker = pos, acc, nbits, marker
            rs = act.decode(br)
            pos, acc, nbits, marker = br.pos, br.acc, br.nbits, br.marker
        else:
            rs, ln = hit
            nbits -= ln
            acc &= (1 << nbits) - 1
        r, s = rs >> 4, rs & 0xF
        newval = 0
        if s == 0:
            if r < 15:  # EOBn: correct the rest of this band, then run
                eobrun = (1 << r) - 1
                if r:
                    if nbits < r:
                        pos, acc, nbits, marker = _fill(data, pos, acc, nbits, marker)
                    nbits -= r
                    v = (acc >> nbits) & ((1 << r) - 1)
                    acc &= (1 << nbits) - 1
                    eobrun += v
                state["eobrun"] = eobrun
                r = 64  # never exhausts inside the band
            # r == 15: ZRL — skip 16 zero-history coefficients
        else:
            if s != 1:
                raise JpegError("bad refinement symbol")
            if not nbits:
                pos, acc, nbits, marker = _fill(data, pos, acc, nbits, marker)
            nbits -= 1
            b = (acc >> nbits) & 1
            acc &= (1 << nbits) - 1
            newval = p1 if b else -p1
        while k <= se:
            v = coef[k]
            if v != 0:  # correction bit
                if not nbits:
                    pos, acc, nbits, marker = _fill(data, pos, acc, nbits, marker)
                nbits -= 1
                b = (acc >> nbits) & 1
                acc &= (1 << nbits) - 1
                if b and (v & p1) == 0:
                    coef[k] = v + (p1 if v >= 0 else -p1)
            else:
                if r == 0:
                    break
                r -= 1
            k += 1
        if k <= se and newval:
            coef[k] = newval
        k += 1
    br.pos, br.acc, br.nbits, br.marker = pos, acc, nbits, marker


def _next_marker_pos(data: bytes, br: _BitReader) -> int:
    """Byte offset of the first marker at/after the reader's position —
    entropy data may only contain 0xFF as stuffed 0xFF00, so the next
    bare 0xFF starts a marker (fill bytes 0xFFFF skip forward)."""
    p = br.pos
    d = data
    while p + 1 < len(d):
        if d[p] == 0xFF and d[p + 1] != 0x00:
            while d[p + 1] == 0xFF and p + 2 < len(d):  # fill bytes
                p += 1
            return p
        p += 2 if d[p] == 0xFF else 1
    raise JpegError("unterminated scan")


def _finish_progressive(frame, coefs, qtabs):
    """Dequantize + IDCT the accumulated coefficient store (same batched
    einsum as the sequential path) and emit the luma plane."""
    maxh, maxv, mcus_x, mcus_y = _frame_geometry(frame)
    w, h = frame["w"], frame["h"]
    luma_comp = frame["comps"][0]
    planes = {}
    for comp in frame["comps"]:
        q = qtabs.get(comp["tq"])
        if q is None:
            raise JpegError("missing table")
        zz = coefs[comp["id"]].reshape(-1, 64).astype(np.float64)
        blocks = np.zeros((zz.shape[0], 64))
        blocks[:, _ZZ_FLAT] = zz
        bh, bw = coefs[comp["id"]].shape[:2]
        blocks = blocks.reshape(-1, 8, 8) * q
        spatial = np.einsum("ab,nbc,cd->nad", _M.T, blocks, _M) + 128.0
        plane = (
            spatial.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        planes[comp["id"]] = plane
    luma = planes[luma_comp["id"]]
    ry, rx = maxv // luma_comp["v"], maxh // luma_comp["h"]
    if ry > 1 or rx > 1:
        luma = np.repeat(np.repeat(luma, ry, axis=0), rx, axis=1)
    luma = np.clip(np.rint(luma[:h, :w]), 0, 255).astype(np.uint8)
    return w, h, len(frame["comps"]), luma.tobytes()


def _decode_scan(data, pos, frame, scan, qtabs, htabs, restart_interval):
    w, h = frame["w"], frame["h"]
    maxh = max(c["h"] for c, _, _ in scan)
    maxv = max(c["v"] for c, _, _ in scan)
    mcus_x = -(-w // (8 * maxh))
    mcus_y = -(-h // (8 * maxv))
    planes = {}
    for comp, _, _ in scan:
        pw, ph = mcus_x * 8 * comp["h"], mcus_y * 8 * comp["v"]
        if pw * ph > 4 * MAX_PIXELS:
            raise JpegError("unreasonable component plane size")
        planes[comp["id"]] = np.zeros((ph, pw), dtype=np.float64)
    br = _BitReader(data, pos)
    pos, acc, nbits, marker = br.pos, br.acc, br.nbits, br.marker
    dc_pred = {comp["id"]: 0 for comp, _, _ in scan}
    pend_coefs = {comp["id"]: [] for comp, _, _ in scan}
    pend_pos = {comp["id"]: [] for comp, _, _ in scan}
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.pos, br.acc, br.nbits, br.marker = pos, acc, nbits, marker
                m = br.align_to_marker()
                pos, acc, nbits, marker = br.pos, br.acc, br.nbits, br.marker
                if m is None or not (0xD0 <= m <= 0xD7):
                    raise JpegError("expected restart marker")
                for k in dc_pred:
                    dc_pred[k] = 0
            for comp, td, ta in scan:
                dct = htabs.get((0, td))
                act = htabs.get((1, ta))
                q = qtabs.get(comp["tq"])
                if dct is None or act is None or q is None:
                    raise JpegError("missing table")
                dfast, afast = dct.fast, act.fast
                cid = comp["id"]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        # entropy-decode ONE block into a plain list; the
                        # IDCT batches per component after the scan (one
                        # einsum instead of 2 tiny matmuls per block)
                        coef = [0.0] * 64
                        if nbits < _FASTBITS:
                            pos, acc, nbits, marker = _fill(data, pos, acc, nbits, marker)
                        hit = dfast[(acc >> (nbits - _FASTBITS)) & _FASTMASK]
                        if hit is None:  # longer than the LUT: the method's bit-serial path
                            br.pos, br.acc, br.nbits, br.marker = pos, acc, nbits, marker
                            s = dct.decode(br)
                            pos, acc, nbits, marker = br.pos, br.acc, br.nbits, br.marker
                        else:
                            s, ln = hit
                            nbits -= ln
                            acc &= (1 << nbits) - 1
                        if s:
                            if nbits < s:
                                pos, acc, nbits, marker = _fill(data, pos, acc, nbits, marker)
                            nbits -= s
                            v = (acc >> nbits) & ((1 << s) - 1)
                            acc &= (1 << nbits) - 1
                            if v < 1 << (s - 1):  # _extend
                                v -= (1 << s) - 1
                            dc_pred[cid] += v
                        coef[0] = float(dc_pred[cid])
                        k = 1
                        while k < 64:
                            if nbits < _FASTBITS:
                                pos, acc, nbits, marker = _fill(data, pos, acc, nbits, marker)
                            hit = afast[(acc >> (nbits - _FASTBITS)) & _FASTMASK]
                            if hit is None:  # longer than the LUT: the method's bit-serial path
                                br.pos, br.acc, br.nbits, br.marker = pos, acc, nbits, marker
                                rs = act.decode(br)
                                pos, acc, nbits, marker = br.pos, br.acc, br.nbits, br.marker
                            else:
                                rs, ln = hit
                                nbits -= ln
                                acc &= (1 << nbits) - 1
                            r, size = rs >> 4, rs & 0xF
                            if size == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise JpegError("AC index overflow")
                            if nbits < size:
                                pos, acc, nbits, marker = _fill(data, pos, acc, nbits, marker)
                            nbits -= size
                            v = (acc >> nbits) & ((1 << size) - 1)
                            acc &= (1 << nbits) - 1
                            if v < 1 << (size - 1):  # _extend
                                v -= (1 << size) - 1
                            coef[k] = float(v)
                            k += 1
                        pend_coefs[cid].append(coef)
                        pend_pos[cid].append(
                            ((my * comp["v"] + by) * 8, (mx * comp["h"] + bx) * 8)
                        )
            mcu_count += 1
    # batched dequantize + IDCT per component: (N,64) zigzag coefs →
    # (N,8,8) spatial in two vectorized ops
    for comp, _, _ in scan:
        cid = comp["id"]
        if not pend_coefs[cid]:
            continue
        zz = np.asarray(pend_coefs[cid])  # (N, 64) in zigzag order
        blocks = np.zeros((zz.shape[0], 64))
        blocks[:, _ZZ_FLAT] = zz
        blocks = blocks.reshape(-1, 8, 8) * qtabs[comp["tq"]]
        spatial = np.einsum("ab,nbc,cd->nad", _M.T, blocks, _M) + 128.0
        plane = planes[cid]
        for (y0, x0), blk in zip(pend_pos[cid], spatial):
            plane[y0 : y0 + 8, x0 : x0 + 8] = blk
    luma_comp = scan[0][0]
    luma = planes[luma_comp["id"]]
    # luma is sampled at (h/maxh, v/maxv) of full res; replicate up if needed
    ry, rx = maxv // luma_comp["v"], maxh // luma_comp["h"]
    if ry > 1 or rx > 1:
        luma = np.repeat(np.repeat(luma, ry, axis=0), rx, axis=1)
    luma = np.clip(np.rint(luma[:h, :w]), 0, 255).astype(np.uint8)
    return w, h, len(frame["comps"]), luma.tobytes()


def decode_jpeg_dimensions(data: bytes) -> tuple[int, int, int]:
    """(width, height, n_components) from the SOF marker — cheap metadata
    sniff for any DCT-family SOF (baseline or not)."""
    if data[:2] != b"\xff\xd8":
        raise JpegError("no SOI")
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise JpegError("marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD9, 0xDA):
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack(">HH", data[pos + 3 : pos + 7])
            return w, h, data[pos + 7]
        pos += seglen
    raise JpegError("no SOF found")


# ---------------------------------------------------------------- encoder


def _canonical_bits_vals(lengths: dict[int, int]) -> tuple[list[int], bytes]:
    bits = [0] * 16
    vals = bytearray()
    for sym in sorted(lengths):
        bits[lengths[sym] - 1] += 1
        vals.append(sym)
    return bits, bytes(vals)


class _HuffEnc:
    def __init__(self, bits: list[int], vals: bytes):
        self.code: dict[int, tuple[int, int]] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.code[vals[k]] = (length, code)
                code += 1
                k += 1
            code <<= 1


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-bit padding per spec
        return bytes(self.out)


# encoder tables: 12 DC categories at 4 bits; all 256 AC symbols split
# 128 at 8 bits + 128 at 9 bits (a DHT BITS byte caps at 255 codes per
# length) — canonical, complete-enough, no all-ones max-length code,
# self-described in the DHT so no Annex-K table data is needed
_ENC_DC_BITS, _ENC_DC_VALS = _canonical_bits_vals({s: 4 for s in range(12)})
_ENC_AC_BITS, _ENC_AC_VALS = _canonical_bits_vals(
    {s: (8 if s < 128 else 9) for s in range(256)}
)
_ENC_DC = _HuffEnc(_ENC_DC_BITS, _ENC_DC_VALS)
_ENC_AC = _HuffEnc(_ENC_AC_BITS, _ENC_AC_VALS)


def _category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _emit_ac(bw: _BitWriter, sym: int) -> None:
    ln, code = _ENC_AC.code[sym]
    bw.write(code, ln)


def _fdct_blocks(pixels: bytes, width: int, height: int):
    """(padded_h, padded_w, list of (y0, x0, zigzag int coefs)) — shared
    by the sequential and progressive encoders (all-ones quantization)."""
    img = np.frombuffer(pixels, dtype=np.uint8).astype(np.float64).reshape(
        height, width
    )
    ph, pw = -(-height // 8) * 8, -(-width // 8) * 8
    img = np.pad(img, ((0, ph - height), (0, pw - width)), mode="edge")
    out = []
    for y0 in range(0, ph, 8):
        for x0 in range(0, pw, 8):
            block = img[y0 : y0 + 8, x0 : x0 + 8] - 128.0
            coef = _M @ block @ _M.T
            out.append(np.rint(coef.reshape(64)[_ZZ_FLAT]).astype(np.int64))
    return ph, pw, out


def encode_gray_jpeg_progressive(
    pixels: bytes, width: int, height: int
) -> bytes:
    """Encode 8-bit grayscale pixels as a PROGRESSIVE (SOF2) JPEG whose
    four scans exercise every progressive scan kind: DC first (Al=1), DC
    refinement, AC 1-63 first (Al=1), AC refinement (spec G.1.2.3 with
    interleaved correction bits, ZRL folding, per-block EOB). All-ones
    quantization — same round-trip bound as the sequential encoder."""
    if len(pixels) != width * height:
        raise JpegError("pixel buffer does not match dimensions")
    _, _, blocks = _fdct_blocks(pixels, width, height)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + bytes([1] * 64)
    out += (
        b"\xff\xc2"  # SOF2
        + struct.pack(">H", 8 + 3)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x01\x01\x11\x00"
    )
    for tc, bits, vals in ((0, _ENC_DC_BITS, _ENC_DC_VALS),
                           (1, _ENC_AC_BITS, _ENC_AC_VALS)):
        out += (
            b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(vals))
            + bytes([tc << 4]) + bytes(bits) + vals
        )

    def sos(ss, se, ah, al):
        return (b"\xff\xda" + struct.pack(">H", 6 + 2)
                + bytes([1, 1, 0, ss, se, (ah << 4) | al]))

    # scan 1: DC first, Al=1 (diff coding of dc >> 1)
    out += sos(0, 0, 0, 1)
    bw = _BitWriter()
    prev = 0
    for zz in blocks:
        hi = int(zz[0]) >> 1
        diff = hi - prev
        prev = hi
        s = _category(diff)
        ln, code = _ENC_DC.code[s]
        bw.write(code, ln)
        if s:
            bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    out += bw.flush()

    # scan 2: DC refinement, Ah=1 Al=0 (one raw bit per block)
    out += sos(0, 0, 1, 0)
    bw = _BitWriter()
    for zz in blocks:
        bw.write(int(zz[0]) & 1, 1)
    out += bw.flush()

    # scan 3: AC 1-63 first, Al=1 (baseline RLE over sign*(abs>>1))
    out += sos(1, 63, 0, 1)
    bw = _BitWriter()
    for zz in blocks:
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            hi = (abs(v) >> 1) * (1 if v >= 0 else -1)
            if hi == 0:
                run += 1
                continue
            while run > 15:
                _emit_ac(bw, 0xF0)
                run -= 16
            s = _category(hi)
            _emit_ac(bw, (run << 4) | s)
            bw.write(hi if hi >= 0 else hi + (1 << s) - 1, s)
            run = 0
        if run:
            _emit_ac(bw, 0x00)  # EOB (run of exactly one block)
    out += bw.flush()

    # scan 4: AC refinement, Ah=1 Al=0
    out += sos(1, 63, 1, 0)
    bw = _BitWriter()
    for zz in blocks:
        absv = [abs(int(zz[k])) for k in range(64)]  # Al=0: absv = abs>>0
        eob_k = 0
        for k in range(1, 64):
            if absv[k] == 1:
                eob_k = k
        pending: list[int] = []
        run = 0
        for k in range(1, 64):
            temp = absv[k]
            if temp == 0:
                run += 1
                continue
            # ZRLs not foldable into the EOB must flush before this coef
            while run > 15 and k <= eob_k:
                _emit_ac(bw, 0xF0)
                run -= 16
                for b in pending:
                    bw.write(b, 1)
                pending = []
            if temp > 1:  # already nonzero: buffer the next magnitude bit
                pending.append(temp & 1)
                continue
            _emit_ac(bw, (run << 4) | 1)
            bw.write(1 if int(zz[k]) >= 0 else 0, 1)
            for b in pending:
                bw.write(b, 1)
            pending = []
            run = 0
        if run or pending:
            _emit_ac(bw, 0x00)
            for b in pending:
                bw.write(b, 1)
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_gray_jpeg(pixels: bytes, width: int, height: int) -> bytes:
    """Encode 8-bit grayscale pixels (row-major) as a valid baseline JPEG
    with all-ones quantization — round-trip error is IDCT/FDCT rounding
    only (≤ ~±3/pixel, property-tested)."""
    if len(pixels) != width * height:
        raise JpegError("pixel buffer does not match dimensions")
    img = np.frombuffer(pixels, dtype=np.uint8).astype(np.float64).reshape(
        height, width
    )
    # edge-replicate to multiples of 8
    ph, pw = -(-height // 8) * 8, -(-width // 8) * 8
    img = np.pad(img, ((0, ph - height), (0, pw - width)), mode="edge")

    out = bytearray(b"\xff\xd8")  # SOI
    qz = bytes([1] * 64)
    out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + qz  # DQT id0
    out += (
        b"\xff\xc0"
        + struct.pack(">H", 8 + 3)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x01"  # 1 component
        + b"\x01\x11\x00"  # id=1, 1x1 sampling, qtable 0
    )
    for tc, bits, vals in ((0, _ENC_DC_BITS, _ENC_DC_VALS),
                           (1, _ENC_AC_BITS, _ENC_AC_VALS)):
        out += (
            b"\xff\xc4"
            + struct.pack(">H", 2 + 1 + 16 + len(vals))
            + bytes([tc << 4])
            + bytes(bits)
            + vals
        )
    out += b"\xff\xda" + struct.pack(">H", 6 + 2) + b"\x01\x01\x00\x00\x3f\x00"

    bw = _BitWriter()
    dc_prev = 0
    for y0 in range(0, ph, 8):
        for x0 in range(0, pw, 8):
            block = img[y0 : y0 + 8, x0 : x0 + 8] - 128.0
            coef = _M @ block @ _M.T
            zz = np.rint(coef.reshape(64)[_ZZ_FLAT]).astype(np.int64)
            diff = int(zz[0]) - dc_prev
            dc_prev = int(zz[0])
            s = _category(diff)
            ln, code = _ENC_DC.code[s]
            bw.write(code, ln)
            if s:
                bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
            run = 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ln, code = _ENC_AC.code[0xF0]  # ZRL
                    bw.write(code, ln)
                    run -= 16
                s = _category(v)
                ln, code = _ENC_AC.code[(run << 4) | s]
                bw.write(code, ln)
                bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
            if run:
                ln, code = _ENC_AC.code[0x00]  # EOB
                bw.write(code, ln)
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# EXIF orientation (EXIF 2.3 §4.6.4 tag 0x0112 — a TIFF IFD inside APP1)
# ---------------------------------------------------------------------------


def exif_orientation(data: bytes) -> int:
    """Orientation 1-8 from the first APP1 ``Exif`` segment, 1 (normal)
    when absent or unparseable — total on hostile input. Conformant
    viewers (browsers, poppler) apply this before display, so any
    pipeline comparing against rendered output must too."""
    if data[:2] != b"\xff\xd8":
        return 1
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            break
        marker = data[pos + 1]
        pos += 2
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if marker in (0xD9, 0xDA):  # EXIF must precede the scan
            break
        if pos + 2 > len(data):
            break
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        pos += seglen
        if marker != 0xE1 or seg[:6] != b"Exif\x00\x00":
            continue
        tiff = seg[6:]
        try:
            from gnosis_ocr_spark.functions.codec_tiff import _read_ifd

            if tiff[:4] == b"II*\x00":
                fmt = "<"
            elif tiff[:4] == b"MM\x00*":
                fmt = ">"
            else:
                return 1
            (off,) = struct.unpack_from(fmt + "I", tiff, 4)
            entries, _ = _read_ifd(tiff, off, fmt)
            v = entries.get(0x0112, [1])
            v = v[0] if v else 1
            # exact int only: a hostile RATIONAL-typed tag yields a float
            # that would otherwise pass the range check
            return v if isinstance(v, int) and 1 <= v <= 8 else 1
        except Exception:
            return 1
    return 1


def orient_gray(pixels: bytes, w: int, h: int, orientation: int) -> tuple[bytes, int, int]:
    """Apply the EXIF orientation transform to row-major gray pixels →
    (pixels, w, h) upright. The eight transforms follow the EXIF 2.3
    table (same mapping PIL's exif_transpose applies): 2 mirror-H,
    3 rotate 180, 4 mirror-V, 5 transpose, 6 rotate 90 CW, 7 transverse,
    8 rotate 90 CCW."""
    if not isinstance(orientation, int) or orientation <= 1 or orientation > 8:
        return pixels, w, h  # identity for anything non-spec (incl. floats)
    a = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w)
    if orientation == 2:
        a = a[:, ::-1]
    elif orientation == 3:
        a = a[::-1, ::-1]
    elif orientation == 4:
        a = a[::-1, :]
    elif orientation == 5:
        a = a.T
    elif orientation == 6:
        a = np.rot90(a, k=-1)
    elif orientation == 7:
        a = np.rot90(a, 2).T
    elif orientation == 8:
        a = np.rot90(a, k=1)
    oh, ow = a.shape
    return np.ascontiguousarray(a).tobytes(), ow, oh


def exif_app1(orientation: int, byte_order: str = "<") -> bytes:
    """Fixture writer: a minimal APP1 ``Exif`` segment (TIFF header + one
    IFD carrying tag 0x0112 SHORT=orientation) in either byte order —
    splice after SOI to build oriented test JPEGs."""
    fmt = byte_order
    hdr = (b"II*\x00" if fmt == "<" else b"MM\x00*") + struct.pack(fmt + "I", 8)
    ifd = struct.pack(fmt + "H", 1)
    ifd += struct.pack(fmt + "HHI", 0x0112, 3, 1)
    ifd += struct.pack(fmt + "H", orientation) + b"\x00\x00"
    ifd += struct.pack(fmt + "I", 0)  # no next IFD
    body = b"Exif\x00\x00" + hdr + ifd
    return b"\xff\xe1" + struct.pack(">H", 2 + len(body)) + body
