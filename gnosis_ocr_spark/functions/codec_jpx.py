"""JPEG 2000 (ITU-T T.800 / ISO 15444-1) codec — the PDF ``/JPXDecode``
payload, and the last image codec in the scanned-PDF path that used to
carry opaque.

The reference rasterizes JPX-compressed scanned pages transparently via
poppler (/root/reference/app/jobs.py:386-390); here they decode through a
from-scratch implementation of the public spec: JP2 container boxes +
raw codestreams, main/tile marker parsing (SIZ/COD/QCD + per-component
overrides), multi-tile images (per-tile tile-parts, power-of-two-aligned
grids), subsampled components (4:2:0/4:2:2 chroma, upsampled to the
full-resolution output contract), Tier-2 packet decoding (per-precinct
tag trees incl. user-defined precinct grids with precinct-capped
code-blocks, inclusion, zero bit-planes, Lblock lengths, all five
progression orders),
Tier-1 EBCOT bit-plane coding (significance propagation / magnitude
refinement / cleanup passes over the SAME MQ arithmetic coder JBIG2
uses — T.800 Annex C and T.88 Annex E specify the identical coder, so
:class:`codec_jbig2._MQDecoder` is reused verbatim), dequantization
(reversible / scalar derived / scalar expounded), inverse 5/3 and 9/7
lifting DWT with symmetric extension, and RCT/ICT component transforms.

Both the decoder (the crawl-facing path behind codec_pdf's opaque-image
carry) and a fixture encoder (single-tile, LRCP, lossless 5/3 or lossy
9/7) live here, mirroring codec_jpeg / codec_jbig2: the encoder exists
so round-trip properties and corpus writer classes can certify the
decoder without any external JPX file in the container.

All six T.800 Table A-19 code-block styles are handled: selective
arithmetic bypass (D.6, Kakadu's speed mode — SPP/MRP from the fifth
bit-plane raw-coded with stuffed bits, every MQ↔raw transition a
terminated codeword segment, one packet-header length per segment per
B.10.7.2, MQ contexts persisting across terminations), per-pass
context reset (0x02), per-pass termination (0x04), vertically-causal
contexts (0x08 — the stripe below is hidden during context formation),
predictable termination (0x10 — encoder-side only, decoder-
transparent), and segmentation symbols (0x20 — the 1010 marker after
every cleanup pass, mismatch raises).

All five progression orders decode over multiple precincts, the
position-major interleaves (RPCL/PCRL/CPRL, T.800 B.12.1.3-5 — Kakadu's
streaming defaults) included: the packet walk sorts on per-resolution
precinct positions in reference-grid coordinates, shared verbatim by
the encoder (`_tile_packet_steps`).

Progression-order changes (POC, A.6.6/B.12.2) decode too: volumes emit
their (layer, resolution, component) ranges in their own orders through
the same packet walk, earlier volumes win, and uncovered packets follow
the COD order (lenient stance, shared encoder/decoder).

ROI max-shift (RGN markers, T.800 H) decodes: per-component shifts
apply the |q| ≥ 2^s magnitude rule to the quantized coefficients before
dequantization; the fixture encoder emits lossless single-tile ROI
streams with s sized to the global background magnitude. Every Annex A
marker the baseline profile defines is now handled.

Scope honesty: tile grids whose origins go odd at some DWT level
(non-power-of-two-aligned
tile sizes — real encoders emit aligned ones) raise ValueError → codec_pdf/pdf_split map that to the opaque carry
(same degradation as the JBIG2 halftone subset). Tier-1 is per-symbol
Python like every entropy coder here — linear, Arrow-batched across
pages, same honesty class as codec_jpeg's note. The passes hold the MQ
coder state in loop locals: ~0.5 µs per decision against ~0.7 µs
through a ``_MQDecoder.decode`` call, so a 64×64 scanned page (~51k
decisions) costs ~42 ms in the raster+OCR stage on a 4-vCPU VM
(FIXTURES.md §8).
"""

from __future__ import annotations

import functools
import struct

import numpy as np

from gnosis_ocr_spark.functions.codec_jbig2 import (
    _NLPS_ST,
    _NMPS_ST,
    _QE_ST,
    _RENORM_SHIFT,
    _MQDecoder,
    _MQEncoder,
    _mq_bytein,
)

MAX_PIXELS = 50_000_000  # hostile-input allocation bound (codec_jpeg rationale)

# ---------------------------------------------------------------------------
# Tier-1 context assignment (T.800 Annex D). 19 MQ contexts:
# 0-8 zero coding, 9-13 sign coding, 14-16 magnitude refinement,
# 17 run-length, 18 uniform. Initial (index, MPS=0) per Table D.7.
# ---------------------------------------------------------------------------

_CTX_RL = 17
_CTX_UNI = 18
_N_CTX = 19


def _fresh_states() -> bytearray:
    states = bytearray(_N_CTX)
    states[0] = 4 << 1   # ZC context 0 starts at state 4
    states[_CTX_RL] = 3 << 1
    states[_CTX_UNI] = 46 << 1
    return states


class _RawDecoder:
    """Raw (arithmetic-bypass) bit reader, T.800 D.6: MSB-first bytes
    with bit-stuffing — after a 0xFF byte the next byte carries only 7
    data bits (its MSB is a stuffed 0). Reads past the end serve 1-bits
    (same stance as the MQ decoder's marker convention)."""

    __slots__ = ("data", "pos", "buf", "ct", "last")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.buf = 0
        self.ct = 0
        self.last = 0

    def bit(self) -> int:
        if self.ct == 0:
            rb = self.data[self.pos] if self.pos < len(self.data) else 0xFF
            self.pos += 1
            self.ct = 7 if self.last == 0xFF else 8
            self.last = rb
            self.buf = rb
        self.ct -= 1
        return (self.buf >> self.ct) & 1


class _RawEncoder:
    """Raw bit writer mirroring :class:`_RawDecoder`: MSB-first with a
    stuffed 0 MSB after every emitted 0xFF. Termination pads the final
    byte with 0s and guarantees the segment does not end in 0xFF
    (T.800 D.4.2)."""

    __slots__ = ("out", "buf", "ct")

    def __init__(self) -> None:
        self.out = bytearray()
        self.buf = 0
        self.ct = 0

    def bit(self, b: int) -> None:
        self.buf = (self.buf << 1) | (b & 1)
        self.ct += 1
        cap = 7 if (self.out and self.out[-1] == 0xFF) else 8
        if self.ct == cap:
            self.out.append(self.buf)
            self.buf = 0
            self.ct = 0

    def flush(self) -> bytes:
        if self.ct:
            cap = 7 if (self.out and self.out[-1] == 0xFF) else 8
            self.out.append(self.buf << (cap - self.ct))
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0x00)
        return bytes(self.out)


def _pass_is_raw(k: int) -> bool:
    """Selective-bypass mode of absolute coding pass ``k`` (0-based:
    CUP, then SPP/MRP/CUP triplets): SPP (k≡1 mod 3) and MRP (k≡2) are
    raw-coded from the fifth bit-plane on, i.e. from pass 10 (T.800
    D.6); cleanup passes always stay MQ-coded."""
    return k >= 10 and k % 3 != 0


def _terminates_after(k: int, restart: bool = False) -> bool:
    """Codeword-segment termination pattern. With per-pass termination
    (RESTART, style 0x04) every pass is its own terminated segment;
    otherwise the bypass pattern applies (T.800 Table D.9): terminate
    after the cleanup pass of the fourth bit-plane (pass 9) and after
    every raw MRP / MQ cleanup pass from there on — every MQ↔raw
    transition lands on a terminated boundary."""
    if restart:
        return True
    return k >= 9 and k % 3 != 1


def _bypass_pieces(
    k0: int, n: int, restart: bool = False
) -> list[tuple[int, bool]]:
    """Split a block contribution of ``n`` passes starting at absolute
    pass ``k0`` at the termination boundaries →
    [(passes_in_piece, ends_terminated)]. One packet-header length is
    signalled per piece (T.800 B.10.7.2)."""
    out: list[tuple[int, bool]] = []
    cnt = 0
    for k in range(k0, k0 + n):
        cnt += 1
        if _terminates_after(k, restart):
            out.append((cnt, True))
            cnt = 0
    if cnt:
        out.append((cnt, False))
    return out


def _zc_tables() -> np.ndarray:
    """Zero-coding context LUTs, indexed [band][h*9 + v*3 + d_cap] where
    h, v ∈ 0..2 are significant horizontal/vertical neighbor counts and
    d_cap = min(d, 2)... HH needs d to 4 so the index is h*15+v*5+d
    (d ∈ 0..4). One flat table per band orientation (Table D.1)."""
    lut = np.zeros((4, 3 * 3 * 5), dtype=np.uint8)
    for h in range(3):
        for v in range(3):
            for d in range(5):
                i = (h * 3 + v) * 5 + d
                # LL and LH orientation (h primary)
                if h == 2:
                    c = 8
                elif h == 1:
                    c = 7 if v >= 1 else (6 if d >= 1 else 5)
                elif v == 2:
                    c = 4
                elif v == 1:
                    c = 3
                elif d >= 2:
                    c = 2
                else:
                    c = d  # 1 or 0
                lut[0, i] = c
                lut[2, i] = c
                # HL: swap h and v
                if v == 2:
                    c = 8
                elif v == 1:
                    c = 7 if h >= 1 else (6 if d >= 1 else 5)
                elif h == 2:
                    c = 4
                elif h == 1:
                    c = 3
                elif d >= 2:
                    c = 2
                else:
                    c = d
                lut[1, i] = c
                # HH: d primary
                hv = h + v
                if d >= 3:
                    c = 8
                elif d == 2:
                    c = 7 if hv >= 1 else 6
                elif d == 1:
                    c = 5 if hv >= 2 else (4 if hv == 1 else 3)
                else:
                    c = 2 if hv >= 2 else hv
                lut[3, i] = c
    return lut


_ZC_LUT = _zc_tables()
# band index: 0=LL, 1=HL, 2=LH, 3=HH
_BAND_IDX = {"LL": 0, "HL": 1, "LH": 2, "HH": 3}

# sign-coding (context, xor) by (H+1)*3 + (V+1), H/V ∈ {-1,0,1} (Table D.3)
_SC_LUT = (
    (13, 1), (12, 1), (11, 1),   # H=-1: V=-1,0,1
    (10, 1), (9, 0), (10, 0),    # H=0
    (11, 0), (12, 0), (13, 0),   # H=1
)
# flat per-band ZC tables for the hot loops (bytes index ~3x faster than
# a 2-D numpy scalar read)
_ZC_FLAT = tuple(bytes(_ZC_LUT[b]) for b in range(4))
# sign contribution+1 of a neighbor pair, each coded 0=none/1=pos/2=neg:
# same sign → that sign, opposite signs cancel, a lone sign wins
_SC_PAIR = bytes([1, 2, 0, 2, 2, 1, 0, 1, 0])


@functools.lru_cache(maxsize=64)
def _stripe_order(h: int, w: int) -> np.ndarray:
    """Flat sample indices (y * w + x) of an h×w code-block in pass scan
    order: 4-row stripes, column by column, top to bottom in a column."""
    y = np.arange(h)
    x = np.arange(w)
    key = (y[:, None] // 4) * (4 * w) + x[None, :] * 4 + (y[:, None] % 4)
    return np.argsort(key.ravel(), kind="stable")


def _neighbor_or(sig: np.ndarray, causal: bool) -> np.ndarray:
    """(h, w) OR of each sample's 8 neighbors in a padded (h+2, w+2)
    0/1 significance plane; ``causal`` hides the row below each 4-row
    stripe from the stripe's last row (style 0x08)."""
    nb = (
        sig[:-2, :-2] | sig[:-2, 1:-1] | sig[:-2, 2:]
        | sig[1:-1, :-2] | sig[1:-1, 2:]
    )
    below = sig[2:, :-2] | sig[2:, 1:-1] | sig[2:, 2:]
    if causal:
        below[3::4] = 0
    return nb | below


def _by_stripe(m: np.ndarray, fill: int) -> np.ndarray:
    """(h, w) → (ceil(h/4), 4, w) stripes; a partial last stripe is
    padded with ``fill``."""
    h, w = m.shape
    r = -h % 4
    if r:
        m = np.concatenate([m, np.full((r, w), fill, dtype=m.dtype)])
    return m.reshape(-1, 4, w)


class _BlockCoder:
    """EBCOT Tier-1 code-block coder (T.800 Annex D, default code-block
    style): shared state machine driven either by an MQ decoder (filling
    magnitudes/signs) or an MQ encoder (emitting them). One instance per
    code-block.

    Hot-loop honesty: significance propagation and cleanup are per-symbol
    with in-pass feedback (a bit decoded at (y, x) changes the context of
    the very next column), so they are Python loops — over FLAT
    bytearrays with the MQ decoder inlined on local state, not numpy
    scalar indexing (measured ~10x). Magnitude refinement has no in-pass
    feedback: numpy picks its members and contexts, and the loop only
    decodes. Same throughput class as codec_jpeg's entropy decoder; the
    OpenJPEG swap seam is the same."""

    __slots__ = (
        "h", "w", "stride", "zlut", "sig", "sgn", "nbr", "visited",
        "refined", "mag", "causal",
    )

    def __init__(
        self, h: int, w: int, band: int, causal: bool = False
    ) -> None:
        self.h, self.w = h, w
        self.stride = w + 2                    # 1-px apron on all sides
        self.zlut = _ZC_FLAT[band]
        self.sig = bytearray((h + 2) * (w + 2))
        self.sgn = bytearray((h + 2) * (w + 2))  # 0 none, 1 pos, 2 neg
        # decoder's zero-coding LUT index per padded cell: 15 per
        # significant horizontal neighbor, 5 per vertical, 1 per diagonal
        self.nbr = bytearray((h + 2) * (w + 2))
        self.visited = bytearray(h * w)
        self.refined = bytearray(h * w)
        self.mag = [0] * (h * w)
        self.causal = causal

    # Vertically-causal contexts (style 0x08, T.800 D.7): context
    # formation for a stripe must not see significance/signs in the
    # stripe below. Implemented by hiding the padded row just below the
    # stripe for the duration of the stripe's column loop — passes only
    # WRITE within the stripe, so restoring is exact.

    def _stripe_hide(self, y0: int, rows: int):
        if not self.causal or y0 + rows >= self.h:
            return None
        W2 = self.stride
        off = (y0 + rows + 1) * W2
        saved = (off, self.sig[off : off + W2], self.sgn[off : off + W2])
        self.sig[off : off + W2] = bytes(W2)
        self.sgn[off : off + W2] = bytes(W2)
        return saved

    def _stripe_restore(self, saved) -> None:
        if saved is not None:
            off, ssig, ssgn = saved
            W2 = self.stride
            self.sig[off : off + W2] = ssig
            self.sgn[off : off + W2] = ssgn

    # -- decoding passes

    # The MQ passes hold the decoder's a/c/ct/bp in locals and write them
    # back once at the pass end; each "_MQDecoder.decode, inlined" block
    # is that method on the local state, with RENORMD's shifts taken in
    # one step (_RENORM_SHIFT). Zero-coding contexts come from ``nbr``,
    # kept up to date as samples turn significant; a causal stripe's last
    # row, whose stripe below is hidden, reads ``sig`` instead. SPP and
    # CUP skip stripe columns that cannot code a symbol: whole-block
    # numpy flags from the state at pass start, plus two in-pass flags
    # for the neighbors scanned earlier in the pass — the previous column
    # of the stripe (``left``) and the last row of the stripe above
    # (``above``, indexed x + 1).

    def dec_sig_pass(self, mq, states, plane) -> None:
        h, w, W2 = self.h, self.w, self.stride
        sig, sgn, visited, mag = self.sig, self.sgn, self.visited, self.mag
        nbr = self.nbr
        zlut, pair, sclut = self.zlut, _SC_PAIR, _SC_LUT
        # columns holding an insignificant sample with a significant
        # neighbor; visited is all-zero here (the cleanup pass clears it)
        sg = np.frombuffer(sig, dtype=np.uint8).reshape(h + 2, w + 2)
        nb = np.frombuffer(nbr, dtype=np.uint8).reshape(h + 2, w + 2)
        cand = nb[1:-1, 1:-1] > (sg[1:-1, 1:-1] * np.uint8(255))
        live = [r.tobytes() for r in _by_stripe(cand, False).any(axis=1)]
        qe_t, nmps, nlps, shift_t = _QE_ST, _NMPS_ST, _NLPS_ST, _RENORM_SHIFT
        data, n = mq.data, mq.n
        a, c, ct, bp = mq.a, mq.c, mq.ct, mq.bp
        bit = 1 << plane
        above = bytes(w + 2)
        for y0 in range(0, h, 4):
            rows = min(4, h - y0)
            last = rows - 1
            _cs = self._stripe_hide(y0, rows)
            hid = -1 if _cs is None else last
            cols = live[y0 >> 2]
            below = bytearray(w + 2)
            left = 0
            for x in range(w):
                if not (
                    cols[x] or left or above[x] or above[x + 1]
                    or above[x + 2]
                ):
                    continue
                left = 0
                i = (y0 + 1) * W2 + x + 1
                j = y0 * w + x
                for y in range(rows):
                    if not sig[i]:
                        if y == hid:  # causal: stripe below hidden
                            cx = zlut[
                                ((sig[i - 1] + sig[i + 1]) * 3
                                 + sig[i - W2] + sig[i + W2]) * 5
                                + sig[i - W2 - 1] + sig[i - W2 + 1]
                                + sig[i + W2 - 1] + sig[i + W2 + 1]
                            ]
                        else:
                            cx = zlut[nbr[i]]
                        if cx:
                            visited[j] = 1
                            # _MQDecoder.decode, inlined (zero coding)
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
                            if d:
                                cx, xor = sclut[
                                    pair[sgn[i - 1] * 3 + sgn[i + 1]] * 3
                                    + pair[sgn[i - W2] * 3 + sgn[i + W2]]
                                ]
                                # _MQDecoder.decode, inlined (sign coding)
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
                                sig[i] = 1
                                sgn[i] = 1 + (d ^ xor)
                                nbr[i - 1] += 15
                                nbr[i + 1] += 15
                                nbr[i - W2] += 5
                                nbr[i + W2] += 5
                                nbr[i - W2 - 1] += 1
                                nbr[i - W2 + 1] += 1
                                nbr[i + W2 - 1] += 1
                                nbr[i + W2 + 1] += 1
                                mag[j] = bit
                                left = 1
                                if y == last:
                                    below[x + 1] = 1
                    i += W2
                    j += w
            self._stripe_restore(_cs)
            above = below
        mq.a, mq.c, mq.ct, mq.bp = a, c, ct, bp

    def dec_mag_pass(self, mq, states, plane) -> None:
        """Magnitude refinement has no in-pass feedback: its members
        (significant, not visited by this plane's SPP) and their contexts
        (own refined flag, neighbor significance) are fixed before the
        pass starts, so both come from whole-block numpy, in stripe
        order."""
        h, w = self.h, self.w
        sg = np.frombuffer(self.sig, dtype=np.uint8).reshape(h + 2, w + 2)
        visited = np.frombuffer(self.visited, dtype=np.uint8)
        refined = np.frombuffer(self.refined, dtype=np.uint8)
        order = _stripe_order(h, w)
        sel = order[(sg[1:-1, 1:-1].ravel() > visited)[order]]
        if not sel.size:
            return
        nb = _neighbor_or(sg, self.causal).ravel()[sel]
        ctx = np.where(
            refined[sel] != 0, np.uint8(16), (nb != 0).view(np.uint8) + 14
        )
        mag = self.mag
        bit = 1 << plane
        qe_t, nmps, nlps, shift_t = _QE_ST, _NMPS_ST, _NLPS_ST, _RENORM_SHIFT
        data, n = mq.data, mq.n
        a, c, ct, bp = mq.a, mq.c, mq.ct, mq.bp
        for j, cx in zip(sel.tolist(), ctx.tolist()):
            # _MQDecoder.decode, inlined
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
            if d:
                mag[j] |= bit
        mq.a, mq.c, mq.ct, mq.bp = a, c, ct, bp
        refined[sel] = 1
        visited[sel] = 1

    def dec_cleanup_pass(self, mq, states, plane) -> None:
        h, w, W2 = self.h, self.w, self.stride
        sig, sgn, visited, mag = self.sig, self.sgn, self.visited, self.mag
        nbr = self.nbr
        zlut, pair, sclut = self.zlut, _SC_PAIR, _SC_LUT
        sg = np.frombuffer(sig, dtype=np.uint8).reshape(h + 2, w + 2)
        vis = _by_stripe(
            np.frombuffer(visited, dtype=np.uint8).reshape(h, w), 1
        )
        # every sample visited (significant ones all are by now): the
        # column codes nothing
        done = [r.tobytes() for r in vis.min(axis=1)]
        # run-length mode (T.800 D.4.4): a full stripe column with no
        # visited sample whose 6x3 neighborhood window is insignificant —
        # the 4 samples and all their ZC contexts are zero. Under causal
        # the window's bottom row (the stripe below) is hidden.
        nf = h >> 2
        hz = sg[:, :-2] | sg[:, 1:-1] | sg[:, 2:]
        win = hz[: 4 * nf].reshape(nf, 4, w).max(axis=1) | hz[4::4][:nf]
        if not self.causal:
            win |= hz[5::4][:nf]
        rl = [
            r.tobytes() for r in (vis[:nf].max(axis=1) == 0) & (win == 0)
        ]
        qe_t, nmps, nlps, shift_t = _QE_ST, _NMPS_ST, _NLPS_ST, _RENORM_SHIFT
        data, n = mq.data, mq.n
        a, c, ct, bp = mq.a, mq.c, mq.ct, mq.bp
        bit = 1 << plane
        above = bytes(w + 2)
        for y0 in range(0, h, 4):
            rows = min(4, h - y0)
            last = rows - 1
            _cs = self._stripe_hide(y0, rows)
            hid = -1 if _cs is None else last
            cols = done[y0 >> 2]
            runs = rl[y0 >> 2] if rows == 4 else None
            below = bytearray(w + 2)
            left = 0
            for x in range(w):
                if cols[x]:
                    left = 0
                    continue
                i0 = (y0 + 1) * W2 + x + 1
                j0 = y0 * w + x
                start = 0
                new = 0
                if runs and runs[x] and not (
                    left or above[x] or above[x + 1] or above[x + 2]
                ):
                    # _MQDecoder.decode, inlined (run-length context)
                    st = states[_CTX_RL]
                    qe = qe_t[st]
                    a -= qe
                    if ((c >> 16) & 0xFFFF) < qe:
                        if a < qe:
                            d = st & 1
                            states[_CTX_RL] = nmps[st]
                        else:
                            d = (st & 1) ^ 1
                            states[_CTX_RL] = nlps[st]
                        a = qe
                    else:
                        c -= qe << 16
                        if a & 0x8000:
                            d = st & 1
                        elif a < qe:
                            d = (st & 1) ^ 1
                            states[_CTX_RL] = nlps[st]
                        else:
                            d = st & 1
                            states[_CTX_RL] = nmps[st]
                    if a < 0x8000:  # RENORMD, all shifts at once
                        s = shift_t[a]
                        a <<= s
                        while s > ct:
                            c = (c << ct) & 0xFFFFFFFF
                            s -= ct
                            bp, c, ct = _mq_bytein(data, n, bp, c)
                        c = (c << s) & 0xFFFFFFFF
                        ct -= s
                    if not d:
                        left = 0
                        continue  # whole column stays insignificant
                    # a significant sample in the run (rare): its position
                    # and sign go through the method
                    mq.a, mq.c, mq.ct, mq.bp = a, c, ct, bp
                    r = (mq.decode(states, _CTX_UNI) << 1) | mq.decode(
                        states, _CTX_UNI
                    )
                    i = i0 + r * W2
                    # sample r is significant (ZC bit implied)
                    cx, xor = sclut[
                        pair[sgn[i - 1] * 3 + sgn[i + 1]] * 3
                        + pair[sgn[i - W2] * 3 + sgn[i + W2]]
                    ]
                    sig[i] = 1
                    sgn[i] = 1 + (mq.decode(states, cx) ^ xor)
                    a, c, ct, bp = mq.a, mq.c, mq.ct, mq.bp
                    nbr[i - 1] += 15
                    nbr[i + 1] += 15
                    nbr[i - W2] += 5
                    nbr[i + W2] += 5
                    nbr[i - W2 - 1] += 1
                    nbr[i - W2 + 1] += 1
                    nbr[i + W2 - 1] += 1
                    nbr[i + W2 + 1] += 1
                    mag[j0 + r * w] = bit
                    new = 1
                    if r == 3:
                        below[x + 1] = 1
                    start = r + 1
                i = i0 + start * W2
                j = j0 + start * w
                for y in range(start, rows):
                    if not sig[i] and not visited[j]:
                        if y == hid:  # causal: stripe below hidden
                            cx = zlut[
                                ((sig[i - 1] + sig[i + 1]) * 3
                                 + sig[i - W2] + sig[i + W2]) * 5
                                + sig[i - W2 - 1] + sig[i - W2 + 1]
                                + sig[i + W2 - 1] + sig[i + W2 + 1]
                            ]
                        else:
                            cx = zlut[nbr[i]]
                        # _MQDecoder.decode, inlined (zero coding)
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
                        if d:
                            cx, xor = sclut[
                                pair[sgn[i - 1] * 3 + sgn[i + 1]] * 3
                                + pair[sgn[i - W2] * 3 + sgn[i + W2]]
                            ]
                            # _MQDecoder.decode, inlined (sign coding)
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
                            sig[i] = 1
                            sgn[i] = 1 + (d ^ xor)
                            nbr[i - 1] += 15
                            nbr[i + 1] += 15
                            nbr[i - W2] += 5
                            nbr[i + W2] += 5
                            nbr[i - W2 - 1] += 1
                            nbr[i - W2 + 1] += 1
                            nbr[i + W2 - 1] += 1
                            nbr[i + W2 + 1] += 1
                            mag[j] = bit
                            new = 1
                            if y == last:
                                below[x + 1] = 1
                    i += W2
                    j += w
                left = new
            self._stripe_restore(_cs)
            above = below
        mq.a, mq.c, mq.ct, mq.bp = a, c, ct, bp
        self.visited = bytearray(h * w)

    # -- raw (bypass) decoding passes: same membership/visited rules as
    # the MQ passes, but significance, sign, and refinement bits come
    # straight from the stuffed raw stream (T.800 D.6) — no contexts,
    # no sign prediction (raw sign: 0 positive, 1 negative)

    def dec_sig_pass_raw(self, raw, plane) -> None:
        h, w, W2 = self.h, self.w, self.stride
        sig, sgn, visited, mag = self.sig, self.sgn, self.visited, self.mag
        nbr = self.nbr
        bit = 1 << plane
        rbit = raw.bit
        for y0 in range(0, h, 4):
            rows = min(4, h - y0)
            _cs = self._stripe_hide(y0, rows)
            for x in range(w):
                i = (y0 + 1) * W2 + x + 1
                j = y0 * w + x
                for _y in range(rows):
                    if not sig[i]:
                        if (
                            sig[i - 1] or sig[i + 1] or sig[i - W2]
                            or sig[i + W2] or sig[i - W2 - 1]
                            or sig[i - W2 + 1] or sig[i + W2 - 1]
                            or sig[i + W2 + 1]
                        ):
                            visited[j] = 1
                            if rbit():
                                sig[i] = 1
                                sgn[i] = 1 + rbit()
                                nbr[i - 1] += 15
                                nbr[i + 1] += 15
                                nbr[i - W2] += 5
                                nbr[i + W2] += 5
                                nbr[i - W2 - 1] += 1
                                nbr[i - W2 + 1] += 1
                                nbr[i + W2 - 1] += 1
                                nbr[i + W2 + 1] += 1
                                mag[j] = bit
                        else:
                            visited[j] = 0
                    i += W2
                    j += w

            self._stripe_restore(_cs)
    def dec_mag_pass_raw(self, raw, plane) -> None:
        h, w = self.h, self.w
        W2 = self.stride
        sig, visited, refined, mag = (
            self.sig, self.visited, self.refined, self.mag,
        )
        bit = 1 << plane
        rbit = raw.bit
        for y0 in range(0, h, 4):
            rows = min(4, h - y0)
            for x in range(w):
                i = (y0 + 1) * W2 + x + 1
                j = y0 * w + x
                for _y in range(rows):
                    if sig[i] and not visited[j]:
                        if rbit():
                            mag[j] |= bit
                        refined[j] = 1
                        visited[j] = 1
                    i += W2
                    j += w

    # -- encoding passes (exact mirrors; absval/neg are flat h*w arrays)

    def enc_sig_pass(self, mq, states, absval, neg, plane) -> None:
        h, w, W2 = self.h, self.w, self.stride
        sig, sgn, visited = self.sig, self.sgn, self.visited
        zlut, pair, sclut = self.zlut, _SC_PAIR, _SC_LUT
        encode = mq.encode
        bitmask = 1 << plane
        for y0 in range(0, h, 4):
            rows = min(4, h - y0)
            _cs = self._stripe_hide(y0, rows)
            for x in range(w):
                i = (y0 + 1) * W2 + x + 1
                j = y0 * w + x
                for _y in range(rows):
                    if not sig[i]:
                        ctx = zlut[
                            ((sig[i - 1] + sig[i + 1]) * 3
                             + sig[i - W2] + sig[i + W2]) * 5
                            + sig[i - W2 - 1] + sig[i - W2 + 1]
                            + sig[i + W2 - 1] + sig[i + W2 + 1]
                        ]
                        if ctx == 0:
                            visited[j] = 0
                        else:
                            visited[j] = 1
                            b = 1 if absval[j] & bitmask else 0
                            encode(states, ctx, b)
                            if b:
                                sc, xor = sclut[
                                    pair[sgn[i - 1] * 3 + sgn[i + 1]] * 3
                                    + pair[sgn[i - W2] * 3 + sgn[i + W2]]
                                ]
                                encode(states, sc, neg[j] ^ xor)
                                sig[i] = 1
                                sgn[i] = 1 + neg[j]
                    i += W2
                    j += w

            self._stripe_restore(_cs)
    def enc_mag_pass(self, mq, states, absval, plane) -> None:
        h, w, W2 = self.h, self.w, self.stride
        sig, visited, refined = self.sig, self.visited, self.refined
        encode = mq.encode
        bitmask = 1 << plane
        for y0 in range(0, h, 4):
            rows = min(4, h - y0)
            _cs = self._stripe_hide(y0, rows)
            for x in range(w):
                i = (y0 + 1) * W2 + x + 1
                j = y0 * w + x
                for _y in range(rows):
                    if sig[i] and not visited[j]:
                        if refined[j]:
                            ctx = 16
                        elif (
                            sig[i - 1] or sig[i + 1] or sig[i - W2]
                            or sig[i + W2] or sig[i - W2 - 1]
                            or sig[i - W2 + 1] or sig[i + W2 - 1]
                            or sig[i + W2 + 1]
                        ):
                            ctx = 15
                        else:
                            ctx = 14
                        encode(states, ctx, 1 if absval[j] & bitmask else 0)
                        refined[j] = 1
                        visited[j] = 1
                    i += W2
                    j += w

            self._stripe_restore(_cs)
    # -- raw (bypass) encoding passes, exact mirrors of the raw decoders

    def enc_sig_pass_raw(self, raw, absval, neg, plane) -> None:
        h, w, W2 = self.h, self.w, self.stride
        sig, sgn, visited = self.sig, self.sgn, self.visited
        wbit = raw.bit
        bitmask = 1 << plane
        for y0 in range(0, h, 4):
            rows = min(4, h - y0)
            _cs = self._stripe_hide(y0, rows)
            for x in range(w):
                i = (y0 + 1) * W2 + x + 1
                j = y0 * w + x
                for _y in range(rows):
                    if not sig[i]:
                        if (
                            sig[i - 1] or sig[i + 1] or sig[i - W2]
                            or sig[i + W2] or sig[i - W2 - 1]
                            or sig[i - W2 + 1] or sig[i + W2 - 1]
                            or sig[i + W2 + 1]
                        ):
                            visited[j] = 1
                            b = 1 if absval[j] & bitmask else 0
                            wbit(b)
                            if b:
                                wbit(neg[j])
                                sig[i] = 1
                                sgn[i] = 1 + neg[j]
                        else:
                            visited[j] = 0
                    i += W2
                    j += w

            self._stripe_restore(_cs)
    def enc_mag_pass_raw(self, raw, absval, plane) -> None:
        h, w, W2 = self.h, self.w, self.stride
        sig, visited, refined = self.sig, self.visited, self.refined
        wbit = raw.bit
        bitmask = 1 << plane
        for y0 in range(0, h, 4):
            rows = min(4, h - y0)
            for x in range(w):
                i = (y0 + 1) * W2 + x + 1
                j = y0 * w + x
                for _y in range(rows):
                    if sig[i] and not visited[j]:
                        wbit(1 if absval[j] & bitmask else 0)
                        refined[j] = 1
                        visited[j] = 1
                    i += W2
                    j += w

    def enc_cleanup_pass(self, mq, states, absval, neg, plane) -> None:
        h, w, W2 = self.h, self.w, self.stride
        sig, sgn, visited = self.sig, self.sgn, self.visited
        zlut, pair, sclut = self.zlut, _SC_PAIR, _SC_LUT
        encode = mq.encode
        bitmask = 1 << plane
        z3 = b"\x00\x00\x00"
        for y0 in range(0, h, 4):
            full = y0 + 4 <= h
            rows = min(4, h - y0)
            _cs = self._stripe_hide(y0, rows)
            for x in range(w):
                i0 = (y0 + 1) * W2 + x + 1
                j0 = y0 * w + x
                start = 0
                if full and not (
                    visited[j0] or visited[j0 + w] or visited[j0 + 2 * w]
                    or visited[j0 + 3 * w]
                ):
                    p = i0 - W2 - 1
                    if (
                        sig[p : p + 3] == z3
                        and sig[p + W2 : p + W2 + 3] == z3
                        and sig[p + 2 * W2 : p + 2 * W2 + 3] == z3
                        and sig[p + 3 * W2 : p + 3 * W2 + 3] == z3
                        and sig[p + 4 * W2 : p + 4 * W2 + 3] == z3
                        and sig[p + 5 * W2 : p + 5 * W2 + 3] == z3
                    ):
                        r = -1
                        for k in range(4):
                            if absval[j0 + k * w] & bitmask:
                                r = k
                                break
                        if r < 0:
                            encode(states, _CTX_RL, 0)
                            continue
                        encode(states, _CTX_RL, 1)
                        encode(states, _CTX_UNI, (r >> 1) & 1)
                        encode(states, _CTX_UNI, r & 1)
                        i = i0 + r * W2
                        j = j0 + r * w
                        sc, xor = sclut[
                            pair[sgn[i - 1] * 3 + sgn[i + 1]] * 3
                            + pair[sgn[i - W2] * 3 + sgn[i + W2]]
                        ]
                        encode(states, sc, neg[j] ^ xor)
                        sig[i] = 1
                        sgn[i] = 1 + neg[j]
                        start = r + 1
                i = i0 + start * W2
                j = j0 + start * w
                for _y in range(rows - start):
                    if not sig[i] and not visited[j]:
                        ctx = zlut[
                            ((sig[i - 1] + sig[i + 1]) * 3
                             + sig[i - W2] + sig[i + W2]) * 5
                            + sig[i - W2 - 1] + sig[i - W2 + 1]
                            + sig[i + W2 - 1] + sig[i + W2 + 1]
                        ]
                        b = 1 if absval[j] & bitmask else 0
                        encode(states, ctx, b)
                        if b:
                            sc, xor = sclut[
                                pair[sgn[i - 1] * 3 + sgn[i + 1]] * 3
                                + pair[sgn[i - W2] * 3 + sgn[i + W2]]
                            ]
                            encode(states, sc, neg[j] ^ xor)
                            sig[i] = 1
                            sgn[i] = 1 + neg[j]
                    i += W2
                    j += w
            self._stripe_restore(_cs)
        self.visited = bytearray(h * w)


def decode_block(
    data: bytes, h: int, w: int, band: int, n_planes: int, n_passes: int,
    bypass: bool = False, seg_ends: tuple[int, ...] = (),
    reset: bool = False, restart: bool = False, causal: bool = False,
    segsym: bool = False,
) -> np.ndarray:
    """Decode one code-block's codeword segment(s) into signed
    coefficients. ``n_planes`` = magnitude bit-planes possibly coded
    (Mb − zero bit-planes), ``n_passes`` = coding passes present (1 =
    cleanup of the first plane, then SPP/MRP/CUP triplets).

    Code-block styles (T.800 Table A-19): ``bypass`` (D.6) raw-codes
    SPP/MRP from the fifth bit-plane with a terminated segment at every
    MQ↔raw transition — ``seg_ends`` gives the byte offset after each
    termination recorded by the packet decoder; MQ context states
    persist across terminations, only the codeword stream is cut.
    ``restart`` terminates after EVERY pass; ``reset`` re-initializes
    the MQ contexts at every pass boundary; ``causal`` makes context
    formation vertically stripe-causal; ``segsym`` decodes the 1010
    segmentation marker after each cleanup pass and raises on mismatch
    (the style's intended error detection)."""
    if n_planes < 0 or n_passes < 1:
        raise ValueError("JPX: bad block pass/plane counts")
    if n_planes == 0:
        # an included block whose zero-bit-planes == Mb: every
        # coefficient is zero and no pass decodes anything
        return np.zeros((h, w), dtype=np.int64)
    if n_passes > 3 * n_planes - 2:  # 1 cleanup + 3 per further plane
        raise ValueError("JPX: more passes than planes allow")
    coder = _BlockCoder(h, w, band, causal=causal)
    states = _fresh_states()
    if not (bypass or restart):
        bounds = [len(data)]
    else:
        bounds = [e for e in seg_ends if e <= len(data)]
        if not bounds or bounds[-1] != len(data):
            bounds.append(len(data))
    si = 0
    start = 0
    cur = None
    is_raw = False
    for k in range(n_passes):
        if cur is None:
            end = bounds[si] if si < len(bounds) else len(data)
            seg = data[start:end]
            if bypass and _pass_is_raw(k):
                cur = _RawDecoder(seg)
                is_raw = True
            else:
                cur = _MQDecoder(seg)
                is_raw = False
            start = end
        if reset:
            states[:] = _fresh_states()
        plane = n_planes - 1 - (k + 2) // 3
        is_cleanup = k == 0 or (k - 1) % 3 == 2
        if is_cleanup:
            coder.dec_cleanup_pass(cur, states, plane)
            if segsym:
                sym = 0
                for _ in range(4):
                    sym = (sym << 1) | cur.decode(states, _CTX_UNI)
                if sym != 0xA:
                    raise ValueError("JPX: segmentation symbol mismatch")
        elif (k - 1) % 3 == 0:
            if is_raw:
                coder.dec_sig_pass_raw(cur, plane)
            else:
                coder.dec_sig_pass(cur, states, plane)
        else:
            if is_raw:
                coder.dec_mag_pass_raw(cur, plane)
            else:
                coder.dec_mag_pass(cur, states, plane)
        if (bypass or restart) and _terminates_after(k, restart):
            cur = None
            si += 1
    mag = np.array(coder.mag, dtype=np.int64).reshape(h, w)
    sgn = np.frombuffer(bytes(coder.sgn), dtype=np.uint8).reshape(
        h + 2, w + 2
    )[1:-1, 1:-1]
    return np.where(sgn == 2, -mag, mag)


def encode_block(
    coeffs: np.ndarray, band: int, n_planes: int
) -> tuple[bytes, int]:
    """Encode signed coefficients as one MQ codeword segment spanning all
    passes of ``n_planes`` bit-planes. Returns (segment, n_passes)."""
    h, w = coeffs.shape
    absarr = np.abs(coeffs).astype(np.int64)
    if n_planes <= 0 or (absarr >> n_planes).any():
        raise ValueError("JPX: coefficients exceed declared bit-planes")
    absval = absarr.ravel().tolist()
    neg = bytearray((coeffs < 0).astype(np.uint8).ravel().tobytes())
    coder = _BlockCoder(h, w, band)
    mq = _MQEncoder()
    states = _fresh_states()
    n_passes = 0
    for p in range(n_planes):
        plane = n_planes - 1 - p
        if p == 0:
            coder.enc_cleanup_pass(mq, states, absval, neg, plane)
            n_passes += 1
        else:
            coder.enc_sig_pass(mq, states, absval, neg, plane)
            coder.enc_mag_pass(mq, states, absval, plane)
            coder.enc_cleanup_pass(mq, states, absval, neg, plane)
            n_passes += 3
    return mq.flush(), n_passes


def encode_block_styled(
    coeffs: np.ndarray, band: int, n_planes: int,
    bypass: bool = False, reset: bool = False, restart: bool = False,
    causal: bool = False, segsym: bool = False,
) -> tuple[list[bytes], int]:
    """Encode one code-block under the T.800 code-block styles: returns
    the ordered list of codeword segments (terminated at the style's
    boundaries — every MQ↔raw transition under ``bypass``, every pass
    under ``restart``; a single segment otherwise) and the pass count.
    MQ context states persist across terminations unless ``reset``;
    ``causal`` restricts context formation to the stripe; ``segsym``
    appends the 1010 marker after each cleanup pass. A terminated
    segment never ends in 0xFF (D.4.2) — trailing 0xFF from the MQ
    flush is dropped (decoders feed 1-bits past the end either way)."""
    h, w = coeffs.shape
    absarr = np.abs(coeffs).astype(np.int64)
    if n_planes <= 0 or (absarr >> n_planes).any():
        raise ValueError("JPX: coefficients exceed declared bit-planes")
    absval = absarr.ravel().tolist()
    neg = bytearray((coeffs < 0).astype(np.uint8).ravel().tobytes())
    coder = _BlockCoder(h, w, band, causal=causal)
    states = _fresh_states()
    n_total = 3 * n_planes - 2
    segs: list[bytes] = []
    cur_mq: _MQEncoder | None = None
    cur_raw: _RawEncoder | None = None

    def _flush() -> None:
        nonlocal cur_mq, cur_raw
        if cur_raw is not None:
            segs.append(cur_raw.flush())
            cur_raw = None
        elif cur_mq is not None:
            b = cur_mq.flush()
            while b.endswith(b"\xff"):
                b = b[:-1]
            segs.append(b)
            cur_mq = None

    for k in range(n_total):
        if reset:
            states[:] = _fresh_states()
        plane = n_planes - 1 - (k + 2) // 3
        if bypass and _pass_is_raw(k):
            if cur_raw is None:
                cur_raw = _RawEncoder()
            if (k - 1) % 3 == 0:
                coder.enc_sig_pass_raw(cur_raw, absval, neg, plane)
            else:
                coder.enc_mag_pass_raw(cur_raw, absval, plane)
        else:
            if cur_mq is None:
                cur_mq = _MQEncoder()
            if k == 0:
                coder.enc_cleanup_pass(cur_mq, states, absval, neg, plane)
            else:
                phase = (k - 1) % 3
                if phase == 0:
                    coder.enc_sig_pass(cur_mq, states, absval, neg, plane)
                elif phase == 1:
                    coder.enc_mag_pass(cur_mq, states, absval, plane)
                else:
                    coder.enc_cleanup_pass(
                        cur_mq, states, absval, neg, plane
                    )
            if segsym and (k == 0 or (k - 1) % 3 == 2):
                for b in (1, 0, 1, 0):
                    cur_mq.encode(states, _CTX_UNI, b)
        if (bypass or restart) and _terminates_after(k, restart):
            _flush()
    _flush()
    return segs, n_total


def encode_block_bypass(
    coeffs: np.ndarray, band: int, n_planes: int
) -> tuple[list[bytes], int]:
    """Selective-arithmetic-bypass encode (T.800 D.6) — see
    :func:`encode_block_styled`."""
    return encode_block_styled(coeffs, band, n_planes, bypass=True)



# ---------------------------------------------------------------------------
# Tag trees (T.800 B.10.2): quad-tree minima over a W×H grid, queried with
# rising thresholds during packet-header coding.
# ---------------------------------------------------------------------------


class _TagTree:
    def __init__(self, w: int, h: int) -> None:
        self.levels: list[tuple[int, int]] = []
        while True:
            self.levels.append((w, h))
            if w == 1 and h == 1:
                break
            w, h = (w + 1) // 2, (h + 1) // 2
        # per level: current lower bound + final-value-known flag
        self.low = [np.zeros((lh, lw), dtype=np.int32) for lw, lh in self.levels]
        self.known = [
            np.zeros((lh, lw), dtype=np.uint8) for lw, lh in self.levels
        ]
        self.value = [
            np.zeros((lh, lw), dtype=np.int32) for lw, lh in self.levels
        ]

    def set_values(self, vals: np.ndarray) -> None:
        """Encoder side: fill every node with the min of its children."""
        self.value[0][:, :] = vals
        for li in range(1, len(self.levels)):
            prev = self.value[li - 1]
            lw, lh = self.levels[li]
            cur = np.full((lh, lw), 2**30, dtype=np.int32)
            ph, pw = prev.shape
            for y in range(ph):
                for x in range(pw):
                    yy, xx = y // 2, x // 2
                    if prev[y, x] < cur[yy, xx]:
                        cur[yy, xx] = prev[y, x]
            self.value[li] = cur

    def decode(self, br, x: int, y: int, threshold: int) -> bool:
        """Is leaf (x, y)'s value < threshold? Consumes exactly the bits
        the encoder emitted for this query."""
        # walk root → leaf
        path = []
        lx, ly = x, y
        for li in range(len(self.levels)):
            path.append((li, lx, ly))
            lx, ly = lx // 2, ly // 2
        lower = 0
        for li, nx, ny in reversed(path):
            low, known, value = self.low[li], self.known[li], self.value[li]
            if low[ny, nx] < lower:
                low[ny, nx] = lower
            while not known[ny, nx] and low[ny, nx] < threshold:
                if br.bit():
                    known[ny, nx] = 1
                    value[ny, nx] = low[ny, nx]
                else:
                    low[ny, nx] += 1
            if known[ny, nx]:
                lower = value[ny, nx]
                if value[ny, nx] >= threshold:
                    return False
            else:
                lower = low[ny, nx]
                return False  # still ≥ threshold as far as coded
        return True

    def encode(self, bw, x: int, y: int, threshold: int) -> None:
        """Emit the bits that let the decoder answer value<threshold."""
        path = []
        lx, ly = x, y
        for li in range(len(self.levels)):
            path.append((li, lx, ly))
            lx, ly = lx // 2, ly // 2
        lower = 0
        for li, nx, ny in reversed(path):
            low, known, value = self.low[li], self.known[li], self.value[li]
            if low[ny, nx] < lower:
                low[ny, nx] = lower
            while not known[ny, nx] and low[ny, nx] < threshold:
                if low[ny, nx] == value[ny, nx]:
                    bw.bit(1)
                    known[ny, nx] = 1
                else:
                    bw.bit(0)
                    low[ny, nx] += 1
            if known[ny, nx]:
                lower = value[ny, nx]
                if value[ny, nx] >= threshold:
                    return
            else:
                return


# ---------------------------------------------------------------------------
# Packet-header bit IO with JPEG 2000 bit-stuffing (a byte following 0xFF
# carries 7 bits; 0xFF immediately followed by a byte > 0x8F never occurs
# inside a header).
# ---------------------------------------------------------------------------


class _HeaderReader:
    def __init__(self, data: bytes, pos: int = 0, end: int | None = None) -> None:
        self.data = data
        self.pos = pos
        self.end = len(data) if end is None else end
        self.buf = 0
        self.nbits = 0
        self.prev_ff = False

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= self.end:
                raise ValueError("JPX: truncated packet header")
            b = self.data[self.pos]
            self.pos += 1
            if self.prev_ff:
                self.buf = b & 0x7F
                self.nbits = 7
                if b > 0x8F:
                    raise ValueError("JPX: marker inside packet header")
            else:
                self.buf = b
                self.nbits = 8
            self.prev_ff = b == 0xFF
        self.nbits -= 1
        return (self.buf >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> int:
        """Finish the header: skip to the byte boundary (a trailing 0xFF
        is followed by a stuffed 0 bit that also ends here); returns the
        position of the first body byte."""
        self.nbits = 0
        if self.prev_ff:
            # stuffing byte required after a final 0xFF
            if self.pos >= len(self.data):
                raise ValueError("JPX: truncated packet header")
            self.pos += 1
        self.prev_ff = False
        return self.pos


class _HeaderWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def _room(self) -> int:
        return 7 if self.out and self.out[-1] == 0xFF else 8

    def bit(self, b: int) -> None:
        self.buf = (self.buf << 1) | (b & 1)
        self.nbits += 1
        if self.nbits == self._room():
            self.out.append(self.buf)
            self.buf = 0
            self.nbits = 0

    def bits(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bit((v >> i) & 1)

    def flush(self) -> bytes:
        room = self._room()
        if self.nbits:
            self.out.append(self.buf << (room - self.nbits))
            self.buf = 0
            self.nbits = 0
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0)  # stuffing byte terminates a trailing 0xFF
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Wavelet transforms (T.800 Annex F): 1-D lifting with whole-sample
# symmetric extension, applied separably. Arrays are float64 (9/7) or
# int64 (5/3); split layout [low | high] along the transformed axis.
# ---------------------------------------------------------------------------


def _sym_idx(i: np.ndarray, n: int) -> np.ndarray:
    """Whole-sample symmetric extension index map for positions -k..n+k."""
    if n == 1:
        return np.zeros_like(i)
    period = 2 * (n - 1)
    j = np.abs(i) % period
    return np.where(j >= n, period - j, j)


def _fdwt53_1d(x: np.ndarray, axis: int) -> tuple[np.ndarray, np.ndarray]:
    """One 5/3 reversible level along ``axis`` → (low, high). Integer
    lifting (T.800 F.4.8.2 inverted): d = odd − ⌊(left+right)/2⌋ over the
    symmetrically extended signal, s = even + ⌊(d_left+d_right+2)/4⌋."""
    x = np.moveaxis(x, axis, 0)
    n = x.shape[0]
    if n == 1:
        return np.moveaxis(x, 0, axis), np.moveaxis(x[:0], 0, axis)
    xe = x[_sym_idx(np.arange(-2, n + 2), n)]  # xe[i+2] = x(i)
    odd = np.arange(-1, n + 1, 2)  # every odd position the s step touches
    dvals = xe[odd + 2] - ((xe[odd + 1] + xe[odd + 3]) >> 1)
    ns = (n + 1) // 2
    s = xe[np.arange(0, n, 2) + 2] + (
        (dvals[:ns] + dvals[1 : ns + 1] + 2) >> 2
    )
    d = dvals[1 : 1 + n // 2]
    return np.moveaxis(s, 0, axis), np.moveaxis(d, 0, axis)


def _idwt53_1d(s: np.ndarray, d: np.ndarray, axis: int) -> np.ndarray:
    s = np.moveaxis(s, axis, 0)
    d = np.moveaxis(d, axis, 0)
    ns, nd = s.shape[0], d.shape[0]
    n = ns + nd
    if n == 1:
        return np.moveaxis(s, 0, axis)
    de = np.concatenate([d[:1], d, d[-1:]], axis=0)  # d(2k+1) = de[k+1]
    even = s - ((de[:ns] + de[1 : ns + 1] + 2) >> 2)
    ee = np.concatenate([even, even[-1:]], axis=0)
    oddv = d + ((ee[:nd] + ee[1 : nd + 1]) >> 1)
    out = np.zeros((n,) + s.shape[1:], dtype=s.dtype)
    out[0::2] = even
    out[1::2] = oddv
    return np.moveaxis(out, 0, axis)


_A97 = -1.586134342059924
_B97 = -0.052980118572961
_G97 = 0.882911075530934
_D97 = 0.443506852043971
_K97 = 1.230174104914001


def _lift97(x: np.ndarray, coef: float, n: int) -> None:
    """In-place odd-update lifting step on interleaved signal x (length n):
    x[odd] += coef * (x[odd-1] + x[odd+1]) with symmetric extension."""
    no = np.arange(1, n, 2)
    left = x[np.clip(no - 1, 0, n - 1)]
    right = x[_sym_idx(no + 1, n)]
    x[no] += coef * (left + right)


def _lift97_even(x: np.ndarray, coef: float, n: int) -> None:
    ne = np.arange(0, n, 2)
    left = x[_sym_idx(ne - 1, n)]
    right = x[_sym_idx(ne + 1, n)]
    x[ne] += coef * (left + right)


def _fdwt97_1d(x: np.ndarray, axis: int) -> tuple[np.ndarray, np.ndarray]:
    x = np.moveaxis(x.astype(np.float64), axis, 0).copy()
    n = x.shape[0]
    if n == 1:
        return np.moveaxis(x, 0, axis), np.moveaxis(x[:0], 0, axis)
    _lift97(x, _A97, n)
    _lift97_even(x, _B97, n)
    _lift97(x, _G97, n)
    _lift97_even(x, _D97, n)
    s = x[0::2] / _K97
    d = x[1::2] * _K97
    return np.moveaxis(s, 0, axis), np.moveaxis(d, 0, axis)


def _idwt97_1d(s: np.ndarray, d: np.ndarray, axis: int) -> np.ndarray:
    s = np.moveaxis(s, axis, 0)
    d = np.moveaxis(d, axis, 0)
    n = s.shape[0] + d.shape[0]
    if n == 1:
        return np.moveaxis(s.astype(np.float64), 0, axis)
    x = np.zeros((n,) + s.shape[1:], dtype=np.float64)
    x[0::2] = s * _K97
    x[1::2] = d / _K97
    _lift97_even(x, -_D97, n)
    _lift97(x, -_G97, n)
    _lift97_even(x, -_B97, n)
    _lift97(x, -_A97, n)
    return np.moveaxis(x, 0, axis)


# ---------------------------------------------------------------------------
# Geometry (T.800 B.5, zero offsets): per component, W_l = ceil(w / 2^l).
# Resolution 0 is LL_N; resolution r >= 1 holds HL/LH/HH of decomposition
# level l = N - r + 1.
# ---------------------------------------------------------------------------


def _band_geometry(
    wc: int, hc: int, levels: int
) -> list[list[tuple[str, int, int, int]]]:
    """[(name, level, w, h), ...] per resolution r = 0..levels."""
    W = [(wc + (1 << l) - 1) >> l for l in range(levels + 1)]
    H = [(hc + (1 << l) - 1) >> l for l in range(levels + 1)]
    res: list[list[tuple[str, int, int, int]]] = [
        [("LL", levels, W[levels], H[levels])]
    ]
    for r in range(1, levels + 1):
        l = levels - r + 1
        res.append([
            ("HL", l, W[l - 1] - W[l], H[l]),
            ("LH", l, W[l], H[l - 1] - H[l]),
            ("HH", l, W[l - 1] - W[l], H[l - 1] - H[l]),
        ])
    return res


_GAIN = {"LL": 0, "HL": 1, "LH": 1, "HH": 2}


def _qcd_index(name: str, level: int, levels: int) -> int:
    """Index of a subband's entry in the QCD/QCC list (packet order)."""
    if name == "LL":
        return 0
    return 1 + 3 * (levels - level) + ("HL", "LH", "HH").index(name)


def _subband_q(
    qstyle: int, qvals: list[tuple[int, int]], name: str, level: int,
    levels: int,
) -> tuple[int, int]:
    """(exponent, mantissa) for one subband under the QCD style."""
    if qstyle == 1:  # scalar derived: one pair, scaled by level depth
        eps0, mu0 = qvals[0]
        nb = level if name != "LL" else levels
        return eps0 - levels + nb, mu0
    idx = _qcd_index(name, level, levels)
    if idx >= len(qvals):
        raise ValueError("JPX: quantization list too short")
    return qvals[idx]


# ---------------------------------------------------------------------------
# Tier-2: packet headers over single-precinct resolutions.
# ---------------------------------------------------------------------------


class _Blk:
    __slots__ = (
        "included", "lblock", "passes", "data", "n_planes", "seg_ends",
    )

    def __init__(self) -> None:
        self.included = False
        self.lblock = 3
        self.passes = 0
        self.data = bytearray()
        self.n_planes = 0
        self.seg_ends: list[int] = []  # bypass termination offsets


class _SubDec:
    """One subband's Tier-2 state: the code-block grid (tag trees live
    per PRECINCT — see :func:`_precinct_entries`)."""

    def __init__(
        self, name: str, level: int, w: int, h: int, mb: int,
        cbw: int, cbh: int,
    ) -> None:
        self.name, self.level, self.w, self.h = name, level, w, h
        self.mb = mb
        self.cbw, self.cbh = cbw, cbh
        self.nbx = (w + cbw - 1) // cbw if w > 0 else 0
        self.nby = (h + cbh - 1) // cbh if h > 0 else 0
        self.blks = [
            [_Blk() for _ in range(self.nbx)] for _ in range(self.nby)
        ]


class _PrecView:
    """One precinct's window onto one subband's block grid, with the
    precinct-scoped inclusion and zero-bit-plane tag trees (T.800 B.10.8:
    tag trees span the code-blocks of a PRECINCT, not the subband)."""

    __slots__ = ("sb", "bx0", "bx1", "by0", "by1", "incl", "zb")

    def __init__(self, sb: _SubDec, bx0: int, bx1: int, by0: int, by1: int):
        self.sb = sb
        self.bx0, self.bx1, self.by0, self.by1 = bx0, bx1, by0, by1
        n = max(1, bx1 - bx0), max(1, by1 - by0)
        self.incl = _TagTree(n[0], n[1])
        self.zb = _TagTree(n[0], n[1])


def _precinct_entries(
    subs: list[_SubDec], r: int, rw: int, rh: int,
    pp: tuple[int, int] | None,
) -> list[list[_PrecView]]:
    """Per-precinct (raster order over the resolution grid) lists of
    subband views. ``pp`` is (PPx, PPy) exponents on the RESOLUTION grid;
    None = maximal (one precinct covering everything). Code-block sizes
    in the subbands must already be precinct-capped."""
    if pp is None:
        return [[_PrecView(sb, 0, sb.nbx, 0, sb.nby) for sb in subs]]
    ppx, ppy = pp
    npx = max(1, -(-rw // (1 << ppx)))
    npy = max(1, -(-rh // (1 << ppy)))
    half = 1 if r > 0 else 0
    out: list[list[_PrecView]] = []
    for py in range(npy):
        for px in range(npx):
            views = []
            for sb in subs:
                psw = 1 << (ppx - half)
                psh = 1 << (ppy - half)
                bpx = max(1, psw // sb.cbw)
                bpy = max(1, psh // sb.cbh)
                bx0 = min(px * bpx, sb.nbx)
                bx1 = min(bx0 + bpx, sb.nbx)
                by0 = min(py * bpy, sb.nby)
                by1 = min(by0 + bpy, sb.nby)
                views.append(_PrecView(sb, bx0, bx1, by0, by1))
            out.append(views)
    return out


def _read_npasses(br: _HeaderReader) -> int:
    if not br.bit():
        return 1
    if not br.bit():
        return 2
    v = br.bits(2)
    if v < 3:
        return 3 + v
    v = br.bits(5)
    if v < 31:
        return 6 + v
    return 37 + br.bits(7)


def _write_npasses(bw: _HeaderWriter, n: int) -> None:
    if n == 1:
        bw.bit(0)
    elif n == 2:
        bw.bits(0b10, 2)
    elif n <= 5:
        bw.bits(0b11, 2)
        bw.bits(n - 3, 2)
    elif n <= 36:
        bw.bits(0b1111, 4)
        bw.bits(n - 6, 5)
    elif n <= 164:
        bw.bits(0b111111111, 9)
        bw.bits(n - 37, 7)
    else:
        raise ValueError("JPX: pass count exceeds header code")


def _tag_value(br: _HeaderReader, tree: _TagTree, x: int, y: int) -> int:
    t = 1
    while not tree.decode(br, x, y, t):
        t += 1
        if t > 64:
            raise ValueError("JPX: runaway tag-tree value")
    return t - 1


def _decode_packet(
    data: bytes, pos: int, views: list[_PrecView], layer: int,
    use_sop: bool, use_eph: bool, bypass: bool = False,
    restart: bool = False, end: int | None = None,
) -> int:
    """Decode one packet (header + included block bodies) for one
    precinct's subband views starting at ``pos``; mutates the blocks'
    data/pass state; returns the next pos. With ``bypass`` a block
    contribution splits at the termination pattern into multiple
    codeword segments, one signalled length each (T.800 B.10.7.2);
    their end offsets are recorded for Tier-1.

    ``end`` bounds this tile-part's region WITHOUT slicing ``data`` — a
    per-packet ``data[:end]`` copy made Tier-2 O(packets × stream size)
    on multi-megabyte layered streams."""
    if end is None:
        end = len(data)
    if use_sop and data[pos : min(pos + 2, end)] == b"\xff\x91":
        pos += 6
    br = _HeaderReader(data, pos, end)
    contributions: list[tuple[_Blk, int, list[tuple[int, bool]]]] = []
    if br.bit():  # non-empty packet
        for pv in views:
            sb = pv.sb
            for by in range(pv.by0, pv.by1):
                for bx in range(pv.bx0, pv.bx1):
                    blk = sb.blks[by][bx]
                    tx, ty = bx - pv.bx0, by - pv.by0
                    if not blk.included:
                        inc = pv.incl.decode(br, tx, ty, layer + 1)
                    else:
                        inc = br.bit()
                    if not inc:
                        continue
                    if not blk.included:
                        zb = _tag_value(br, pv.zb, tx, ty)
                        blk.n_planes = sb.mb - zb
                        if blk.n_planes < 0:
                            raise ValueError("JPX: zero bit-planes > Mb")
                        blk.included = True
                    np_new = _read_npasses(br)
                    while br.bit():
                        blk.lblock += 1
                    if bypass or restart:
                        pieces = _bypass_pieces(blk.passes, np_new, restart)
                    else:
                        pieces = [(np_new, False)]
                    lens: list[tuple[int, bool]] = []
                    for npp, term in pieces:
                        nbits = blk.lblock + (npp.bit_length() - 1)
                        if nbits > 32:
                            raise ValueError(
                                "JPX: absurd segment length bits"
                            )
                        lens.append((br.bits(nbits), term))
                    contributions.append((blk, np_new, lens))
    pos = br.align()
    if use_eph:
        if data[pos : min(pos + 2, end)] != b"\xff\x92":
            raise ValueError("JPX: missing EPH marker")
        pos += 2
    for blk, np_new, lens in contributions:
        for seg_len, term in lens:
            if pos + seg_len > end:
                raise ValueError("JPX: truncated packet body")
            blk.data += data[pos : pos + seg_len]
            if term:
                blk.seg_ends.append(len(blk.data))
            pos += seg_len
        blk.passes += np_new
    return pos


def _tile_packet_steps(
    prog: int,
    n_layers: int,
    per_cr: list[list[tuple[int, int, int, int]]],
) -> list[tuple[int, int, int, int]]:
    """Full packet sequence ``[(layer, res, comp, precinct)]`` for one
    tile under all five progression orders (T.800 B.12), INCLUDING the
    position-major orders (RPCL/PCRL/CPRL — Kakadu's streaming
    defaults) over multiple precincts. ``per_cr[c][r]`` is
    ``(n_precincts, npx, xstep, ystep)``: the precinct raster grid and
    each precinct's reference-grid position stride (sampling × precinct
    size × 2^(levels−r)); positions anchor at the tile origin, matching
    the tile-local precinct grids both this encoder and decoder use."""
    if not 0 <= prog <= 4:
        raise ValueError("JPX: unknown progression order")
    steps: list[tuple[int, int, int, int, int, int]] = []
    for c, rlist in enumerate(per_cr):
        for r, (n_prec, npx, xstep, ystep) in enumerate(rlist):
            for p in range(n_prec):
                x = (p % npx) * xstep
                y = (p // npx) * ystep
                for l in range(n_layers):
                    steps.append((l, r, c, p, x, y))
    key = {
        0: lambda s: (s[0], s[1], s[2], s[3]),          # L R C P
        1: lambda s: (s[1], s[0], s[2], s[3]),          # R L C P
        2: lambda s: (s[1], s[5], s[4], s[2], s[0]),    # R P(y,x) C L
        3: lambda s: (s[5], s[4], s[2], s[1], s[0]),    # P(y,x) C R L
        4: lambda s: (s[2], s[5], s[4], s[1], s[0]),    # C P(y,x) R L
    }[prog]
    steps.sort(key=key)
    return [(l, r, c, p) for l, r, c, p, _x, _y in steps]


# ---------------------------------------------------------------------------
# Codestream parsing (T.800 Annex A).
# ---------------------------------------------------------------------------


def _parse_cod(body: bytes) -> dict:
    if len(body) < 10:
        raise ValueError("JPX: short COD")
    scod = body[0]
    prog = body[1]
    layers = struct.unpack_from(">H", body, 2)[0]
    mct = body[4]
    levels = body[5]
    if levels > 32:
        raise ValueError("JPX: too many decomposition levels")
    cbw = 1 << (min(body[6] & 0x0F, 8) + 2)
    cbh = 1 << (min(body[7] & 0x0F, 8) + 2)
    if (body[6] & 0x0F) + (body[7] & 0x0F) > 8:
        raise ValueError("JPX: code-block size exceeds 4096")
    cbstyle = body[8]
    if cbstyle & ~0x3F:
        raise ValueError("JPX: unknown code-block style bits")
    transform = body[9]
    if transform > 1:
        raise ValueError("JPX: unknown wavelet transform")
    precincts = None
    if scod & 0x01:  # user-defined precinct sizes, one byte per resolution
        if len(body) < 10 + levels + 1:
            raise ValueError("JPX: truncated precinct sizes")
        precincts = []
        for r in range(levels + 1):
            b = body[10 + r]
            ppx, ppy = b & 0x0F, b >> 4
            if r > 0 and (ppx == 0 or ppy == 0):
                raise ValueError("JPX: precinct size 1 invalid above r=0")
            precincts.append((ppx, ppy))
    return {
        "sop": bool(scod & 0x02),
        "eph": bool(scod & 0x04),
        "prog": prog,
        "layers": layers,
        "mct": mct,
        "levels": levels,
        "cbw": cbw,
        "cbh": cbh,
        "transform": transform,  # 0 = 9/7 irreversible, 1 = 5/3 reversible
        "precincts": precincts,  # None = maximal (one per subband)
        # code-block styles, T.800 Table A-19 (0x10 predictable
        # termination constrains only the ENCODER's spare bits — a
        # decoder parses such streams unchanged, so it is accepted)
        "bypass": bool(cbstyle & 0x01),
        "reset": bool(cbstyle & 0x02),
        "restart": bool(cbstyle & 0x04),
        "causal": bool(cbstyle & 0x08),
        "segsym": bool(cbstyle & 0x20),
    }


def _parse_poc(body: bytes, n_comp: int) -> list[tuple[int, int, int, int, int, int]]:
    """POC marker (T.800 A.6.6) → [(RSpoc, CSpoc, LYEpoc, REpoc, CEpoc,
    Ppoc)] progression volumes. Component fields are 1 byte below 257
    components, 2 bytes otherwise."""
    cw = 1 if n_comp < 257 else 2
    entry = 1 + cw + 2 + 1 + cw + 1
    if not body or len(body) % entry:
        raise ValueError("JPX: malformed POC")
    out = []
    pos = 0
    while pos < len(body):
        rs = body[pos]
        pos += 1
        cs = body[pos] if cw == 1 else struct.unpack_from(">H", body, pos)[0]
        pos += cw
        (lye,) = struct.unpack_from(">H", body, pos)
        pos += 2
        re_ = body[pos]
        pos += 1
        ce = body[pos] if cw == 1 else struct.unpack_from(">H", body, pos)[0]
        pos += cw
        ppoc = body[pos]
        pos += 1
        if ppoc > 4 or re_ <= rs or ce <= cs or lye == 0:
            raise ValueError("JPX: bad POC volume")
        out.append((rs, cs, lye, re_, ce, ppoc))
    return out


def _poc_steps(
    poc: list[tuple[int, int, int, int, int, int]],
    fallback_prog: int,
    n_layers: int,
    per_cr: list[list[tuple[int, int, int, int]]],
) -> list[tuple[int, int, int, int]]:
    """Packet sequence under POC progression volumes (T.800 B.12.2):
    each volume emits its (layer < LYEpoc, RSpoc ≤ r < REpoc,
    CSpoc ≤ c < CEpoc) packets in its own Ppoc order, skipping packets
    an earlier volume already emitted; any packets the volumes fail to
    cover follow in the COD order (lenient-decode stance — a conforming
    stream's POC covers everything)."""
    emitted: set[tuple[int, int, int, int]] = set()
    steps: list[tuple[int, int, int, int]] = []
    for rs, cs, lye, re_, ce, ppoc in poc:
        for l, r, c, p in _tile_packet_steps(ppoc, min(lye, n_layers), per_cr):
            if rs <= r < re_ and cs <= c < ce:
                key = (l, r, c, p)
                if key not in emitted:
                    emitted.add(key)
                    steps.append(key)
    for key in _tile_packet_steps(fallback_prog, n_layers, per_cr):
        if key not in emitted:
            emitted.add(key)
            steps.append(key)
    return steps


def _parse_qcd(body: bytes) -> dict:
    if len(body) < 2:
        raise ValueError("JPX: short QCD")
    sq = body[0]
    style = sq & 0x1F
    guard = sq >> 5
    vals: list[tuple[int, int]] = []
    if style == 0:  # no quantization: 1-byte exponents
        for b in body[1:]:
            vals.append((b >> 3, 0))
    elif style in (1, 2):  # scalar derived / expounded: 2-byte (eps, mu)
        for i in range(1, len(body) - 1, 2):
            v = struct.unpack_from(">H", body, i)[0]
            vals.append((v >> 11, v & 0x7FF))
    else:
        raise ValueError("JPX: unknown quantization style")
    if not vals:
        raise ValueError("JPX: empty quantization list")
    return {"style": style, "guard": guard, "vals": vals}


def _find_jp2_codestream(data: bytes) -> bytes:
    """Walk JP2 boxes to the contiguous-codestream box."""
    pos = 0
    n = len(data)
    while pos + 8 <= n:
        ln, btype = struct.unpack_from(">I4s", data, pos)
        if ln == 1:
            if pos + 16 > n:
                break
            xl = struct.unpack_from(">Q", data, pos + 8)[0]
            body_off, ln = 16, xl
        else:
            body_off = 8
            if ln == 0:
                ln = n - pos
        if ln < body_off or pos + ln > n:
            raise ValueError("JPX: malformed JP2 box")
        if btype == b"jp2c":
            return data[pos + body_off : pos + ln]
        pos += ln
    raise ValueError("JPX: no codestream box in JP2 container")


def decode_jpx(data: bytes) -> tuple[int, int, list[np.ndarray], list[int]]:
    """Decode a JPEG 2000 codestream (raw or JP2-boxed) → (width, height,
    component arrays, per-component bit precisions). Components arrive at
    full image resolution (subsampled components are unsupported and
    raise), int32, already DC-shifted back to unsigned range. Malformed
    input raises ValueError only (executor-safety contract shared by
    every codec here)."""
    try:
        return _decode_jpx(data)
    except (struct.error, IndexError, KeyError) as exc:
        raise ValueError(f"JPX: malformed stream ({exc})") from exc


def _decode_jpx(data: bytes) -> tuple[int, int, list[np.ndarray], list[int]]:
    if data[:4] == b"\x00\x00\x00\x0c" and data[4:8] == b"jP  ":
        data = _find_jp2_codestream(data)
    if data[:2] != b"\xff\x4f":
        raise ValueError("JPX: missing SOC")
    pos = 2
    siz = None
    cod = None
    qcd = None
    poc = None
    qcc: dict[int, dict] = {}
    coc: dict[int, dict] = {}
    rgn: dict[int, int] = {}  # component → ROI max-shift (T.800 H)
    # per tile index: tile-part spans (in part order) + tile-local COD/QCD
    tiles: dict[int, dict] = {}
    n = len(data)
    while pos + 2 <= n:
        marker = data[pos : pos + 2]
        pos += 2
        if marker == b"\xff\xd9":  # EOC
            break
        if marker == b"\xff\x93":
            raise ValueError("JPX: SOD outside tile")
        if pos + 2 > n:
            raise ValueError("JPX: truncated marker segment")
        (lseg,) = struct.unpack_from(">H", data, pos)
        if lseg < 2 or pos + lseg > n:
            raise ValueError("JPX: bad marker length")
        body = data[pos + 2 : pos + lseg]
        if marker == b"\xff\x51":  # SIZ
            if len(body) < 36:
                raise ValueError("JPX: short SIZ")
            (
                _rsiz, xs, ys, xo, yo, xts, yts, xto, yto, csiz,
            ) = struct.unpack_from(">HIIIIIIIIH", body, 0)
            if xo or yo or xto or yto:
                raise ValueError("JPX: image/tile offsets unsupported")
            if not (0 < xs and 0 < ys) or xs * ys > MAX_PIXELS:
                raise ValueError("JPX: image size out of bounds")
            if not (0 < xts and 0 < yts):
                raise ValueError("JPX: bad tile size")
            if not 1 <= csiz <= 4:
                raise ValueError("JPX: component count unsupported")
            comps = []
            for c in range(csiz):
                ssiz, xr, yr = struct.unpack_from(">BBB", body, 36 + 3 * c)
                if xr not in (1, 2, 4) or yr not in (1, 2, 4):
                    raise ValueError("JPX: subsampling factor unsupported")
                if (ssiz & 0x7F) + 1 > 31:
                    # planes reconstruct as int32; a mutated SIZ declaring
                    # more bits reaches (1 << (prec-1)) level shifts that
                    # overflow numpy int64 ops (OverflowError escaped the
                    # ValueError-only exception contract — r6 fuzz find)
                    raise ValueError("JPX: component precision unsupported")
                comps.append({
                    "prec": (ssiz & 0x7F) + 1,
                    "signed": bool(ssiz & 0x80),
                    "xr": xr,
                    "yr": yr,
                })
            siz = {"w": xs, "h": ys, "xts": xts, "yts": yts, "comps": comps}
        elif marker == b"\xff\x52":
            cod = _parse_cod(body)
        elif marker == b"\xff\x5c":
            qcd = _parse_qcd(body)
        elif marker == b"\xff\x53":  # COC
            if siz is None:
                raise ValueError("JPX: COC before SIZ")
            csel = body[0] if len(siz["comps"]) < 257 else (
                struct.unpack_from(">H", body, 0)[0]
            )
            off = 1 if len(siz["comps"]) < 257 else 2
            # Scoc + SPcod-shaped tail; reuse the COD parser via a shim
            shim = bytes([body[off] & 0x01, 0, 0, 1, 0]) + body[off + 1 :]
            coc[csel] = _parse_cod(shim)
        elif marker == b"\xff\x5d":  # QCC
            if siz is None:
                raise ValueError("JPX: QCC before SIZ")
            off = 1 if len(siz["comps"]) < 257 else 2
            csel = body[0] if off == 1 else struct.unpack_from(">H", body, 0)[0]
            qcc[csel] = _parse_qcd(body[off:])
        elif marker == b"\xff\x5f":  # POC (progression-order changes)
            if siz is None:
                raise ValueError("JPX: POC before SIZ")
            poc = _parse_poc(body, len(siz["comps"]))
        elif marker == b"\xff\x5e":  # RGN (ROI, implicit max-shift)
            if siz is None:
                raise ValueError("JPX: RGN before SIZ")
            cw_r = 1 if len(siz["comps"]) < 257 else 2
            if len(body) != cw_r + 2:
                raise ValueError("JPX: malformed RGN")
            crgn = body[0] if cw_r == 1 else struct.unpack_from(
                ">H", body, 0
            )[0]
            if body[cw_r] != 0:
                raise ValueError("JPX: RGN style beyond max-shift")
            rgn[crgn] = body[cw_r + 1]
        elif marker == b"\xff\x90":  # SOT
            if len(body) < 8:
                raise ValueError("JPX: short SOT")
            isot, psot, _tpsot, _tnsot = struct.unpack_from(">HIBB", body, 0)
            sot_start = pos - 2
            tile_end = sot_start + psot if psot else n
            if tile_end > n:
                raise ValueError("JPX: tile length out of range")
            rec = tiles.setdefault(
                isot, {"parts": [], "cod": None, "qcd": None, "poc": None}
            )
            # tile-part header: markers until SOD
            tpos = pos + lseg
            while tpos + 2 <= tile_end:
                tm = data[tpos : tpos + 2]
                tpos += 2
                if tm == b"\xff\x93":  # SOD
                    rec["parts"].append((tpos, tile_end))
                    break
                if tpos + 2 > tile_end:
                    raise ValueError("JPX: truncated tile header")
                (tl,) = struct.unpack_from(">H", data, tpos)
                if tl < 2 or tpos + tl > tile_end:
                    raise ValueError("JPX: bad tile marker length")
                tbody = data[tpos + 2 : tpos + tl]
                if tm == b"\xff\x52":
                    rec["cod"] = _parse_cod(tbody)
                elif tm == b"\xff\x5c":
                    rec["qcd"] = _parse_qcd(tbody)
                elif tm == b"\xff\x5f":
                    if siz is None:
                        raise ValueError("JPX: tile POC before SIZ")
                    rec["poc"] = _parse_poc(tbody, len(siz["comps"]))
                elif tm == b"\xff\x5e":
                    raise ValueError("JPX: RGN unsupported")
                elif tm in (b"\xff\x53", b"\xff\x5d"):
                    raise ValueError("JPX: tile-part COC/QCC unsupported")
                tpos += tl
            else:
                raise ValueError("JPX: tile without SOD")
            pos = tile_end
            continue
        pos += lseg
    if siz is None or cod is None or qcd is None:
        raise ValueError("JPX: missing SIZ/COD/QCD")
    if not tiles:
        raise ValueError("JPX: no tile data")

    w, h = siz["w"], siz["h"]
    xts, yts = siz["xts"], siz["yts"]
    n_comp = len(siz["comps"])
    ntx = (w + xts - 1) // xts
    nty = (h + yts - 1) // yts
    if ntx * nty > 65535:
        raise ValueError("JPX: tile count out of bounds")
    # SOP/EPH are COD-only packet-framing properties (Scoc carries no such
    # bits), so COC-overridden components must inherit them from the main
    # COD — otherwise their packets misparse EPH markers as body bytes
    comp_cod = []
    for c in range(n_comp):
        entry = coc.get(c)
        if entry is not None and cod is not None:
            entry = dict(entry)
            entry["sop"] = cod["sop"]
            entry["eph"] = cod["eph"]
        comp_cod.append(entry if entry is not None else cod)
    comp_qcd = [qcc.get(c, qcd) for c in range(n_comp)]
    # tile-origin alignment: origins must stay EVEN at every DWT level in
    # every component's domain (true for the power-of-two tile sizes real
    # encoders emit) — the lifting here assumes even-parity starts
    if ntx * nty > 1:
        for c in range(n_comp):
            cc = siz["comps"][c]
            lv = comp_cod[c]["levels"]
            if xts % (cc["xr"] << lv) or yts % (cc["yr"] << lv):
                raise ValueError(
                    "JPX: tile size not aligned to decomposition levels"
                )

    # component planes (component grid = ceil(size / sampling))
    planes: list[np.ndarray] = []
    for c in range(n_comp):
        cc = siz["comps"][c]
        cw = (w + cc["xr"] - 1) // cc["xr"]
        ch = (h + cc["yr"] - 1) // cc["yr"]
        reversible = comp_cod[c]["transform"] == 1
        planes.append(
            np.zeros((ch, cw), dtype=np.int64 if reversible else np.float64)
        )

    for isot, rec in sorted(tiles.items()):
        if isot >= ntx * nty:
            raise ValueError("JPX: tile index out of range")
        tx, ty = isot % ntx, isot // ntx
        tx0, ty0 = tx * xts, ty * yts
        tx1, ty1 = min(tx0 + xts, w), min(ty0 + yts, h)
        t_cod = [rec["cod"] or comp_cod[c] for c in range(n_comp)]
        t_qcd = [rec["qcd"] or comp_qcd[c] for c in range(n_comp)]
        # Tier-2 state per component for THIS tile
        comp_res: list[list[list[_SubDec]]] = []
        comp_prec: list[list[list[list[_PrecView]]]] = []  # [c][r][p]
        tc_geom: list[tuple[int, int, int, int]] = []  # component-domain box
        for c in range(n_comp):
            cc, qq = t_cod[c], t_qcd[c]
            xr, yr = siz["comps"][c]["xr"], siz["comps"][c]["yr"]
            cx0, cx1 = -(-tx0 // xr), -(-tx1 // xr)
            cy0, cy1 = -(-ty0 // yr), -(-ty1 // yr)
            cw_, ch_ = cx1 - cx0, cy1 - cy0
            tc_geom.append((cx0, cy0, cw_, ch_))
            geom = _band_geometry(cw_, ch_, cc["levels"])
            res_list: list[list[_SubDec]] = []
            prec_list: list[list[list[_PrecView]]] = []
            for r, bands in enumerate(geom):
                pp = cc["precincts"][r] if cc["precincts"] else None
                if pp is not None:
                    # precinct-capped code-block sizes (T.800 B.7)
                    half = 1 if r > 0 else 0
                    cbw_eff = min(cc["cbw"], 1 << (pp[0] - half))
                    cbh_eff = min(cc["cbh"], 1 << (pp[1] - half))
                else:
                    cbw_eff, cbh_eff = cc["cbw"], cc["cbh"]
                subs = []
                for name, level, bw_, bh_ in bands:
                    eps, _mu = _subband_q(
                        qq["style"], qq["vals"], name, level, cc["levels"]
                    )
                    mb = qq["guard"] + eps - 1
                    if not 0 < mb <= 40:
                        raise ValueError("JPX: implausible Mb")
                    subs.append(
                        _SubDec(name, level, bw_, bh_, mb, cbw_eff, cbh_eff)
                    )
                l = cc["levels"] - r
                rw = (cw_ + (1 << l) - 1) >> l
                rh = (ch_ + (1 << l) - 1) >> l
                prec_list.append(_precinct_entries(subs, r, rw, rh, pp))
                res_list.append(subs)
            comp_res.append(res_list)
            comp_prec.append(prec_list)

        t_prog = (rec["cod"] or cod)["prog"]
        per_cr: list[list[tuple[int, int, int, int]]] = []
        for c in range(n_comp):
            cc = t_cod[c]
            xr, yr = siz["comps"][c]["xr"], siz["comps"][c]["yr"]
            _cx0, _cy0, cw_, ch_ = tc_geom[c]
            rlist: list[tuple[int, int, int, int]] = []
            for r in range(len(comp_prec[c])):
                plist = comp_prec[c][r]
                pp = cc["precincts"][r] if cc["precincts"] else None
                d = cc["levels"] - r
                if pp is None:
                    rlist.append((len(plist), max(1, len(plist)), 1, 1))
                else:
                    rw = (cw_ + (1 << d) - 1) >> d
                    npx = max(1, -(-rw // (1 << pp[0])))
                    rlist.append(
                        (
                            len(plist), npx,
                            xr << (pp[0] + d), yr << (pp[1] + d),
                        )
                    )
            per_cr.append(rlist)
        t_poc = rec.get("poc") or poc
        if t_poc:
            steps = _poc_steps(
                t_poc, t_prog, (rec["cod"] or cod)["layers"], per_cr
            )
        else:
            steps = _tile_packet_steps(
                t_prog, (rec["cod"] or cod)["layers"], per_cr
            )
        parts = list(rec["parts"])
        if not parts:
            raise ValueError("JPX: tile with no data")
        pi = 0
        pos, end = parts[0]
        for l, r, c, p in steps:
            views = comp_prec[c][r][p]
            while pos >= end and pi + 1 < len(parts):
                pi += 1
                pos, end = parts[pi]
            if pos >= end:
                raise ValueError("JPX: ran out of packet data")
            pos = _decode_packet(
                data, pos, views, l,
                t_cod[c]["sop"], t_cod[c]["eph"],
                t_cod[c].get("bypass", False),
                t_cod[c].get("restart", False),
                end=end,
            )

        # Tier-1 + dequant + inverse DWT per tile-component, then paste
        for c in range(n_comp):
            cc, qq = t_cod[c], t_qcd[c]
            prec = siz["comps"][c]["prec"]
            reversible = cc["transform"] == 1
            levels = cc["levels"]
            band_arrays: dict[tuple[str, int], np.ndarray] = {}
            for subs in comp_res[c]:
                for sb in subs:
                    coeff = np.zeros((sb.h, sb.w), dtype=np.int64)
                    for by in range(sb.nby):
                        for bx in range(sb.nbx):
                            blk = sb.blks[by][bx]
                            if not blk.included or blk.passes == 0:
                                continue
                            bh_ = min(sb.cbh, sb.h - by * sb.cbh)
                            bw_ = min(sb.cbw, sb.w - bx * sb.cbw)
                            vals = decode_block(
                                bytes(blk.data), bh_, bw_,
                                _BAND_IDX[sb.name], blk.n_planes, blk.passes,
                                cc.get("bypass", False),
                                tuple(blk.seg_ends),
                                reset=cc.get("reset", False),
                                restart=cc.get("restart", False),
                                causal=cc.get("causal", False),
                                segsym=cc.get("segsym", False),
                            )
                            coeff[
                                by * sb.cbh : by * sb.cbh + bh_,
                                bx * sb.cbw : bx * sb.cbw + bw_,
                            ] = vals
                    s_roi = rgn.get(c, 0)
                    if s_roi:
                        # ROI max-shift (T.800 H.3): quantized magnitudes
                        # ≥ 2^s are ROI coefficients the encoder scaled
                        # up — shift them back down; background stays
                        mag = np.abs(coeff)
                        coeff = np.where(
                            mag >= (1 << s_roi),
                            np.sign(coeff) * (mag >> s_roi),
                            coeff,
                        )
                    if reversible:
                        band_arrays[(sb.name, sb.level)] = coeff
                    else:
                        eps, mu = _subband_q(
                            qq["style"], qq["vals"], sb.name, sb.level, levels
                        )
                        rb = prec + _GAIN[sb.name]
                        delta = float(2.0 ** (rb - eps)) * (1.0 + mu / 2048.0)
                        vals_f = np.where(
                            coeff == 0, 0.0,
                            (np.abs(coeff) + 0.5) * np.sign(coeff) * delta,
                        )
                        band_arrays[(sb.name, sb.level)] = vals_f
            cur = band_arrays[("LL", levels)]
            for l in range(levels, 0, -1):
                hl = band_arrays[("HL", l)]
                lh = band_arrays[("LH", l)]
                hh = band_arrays[("HH", l)]
                if reversible:
                    s_l = _idwt53_1d(cur, lh, 0)
                    s_h = _idwt53_1d(hl, hh, 0)
                    cur = _idwt53_1d(s_l, s_h, 1)
                else:
                    s_l = _idwt97_1d(cur, lh, 0)
                    s_h = _idwt97_1d(hl, hh, 0)
                    cur = _idwt97_1d(s_l, s_h, 1)
            cx0, cy0, cw_, ch_ = tc_geom[c]
            if cur.shape != (ch_, cw_):
                raise ValueError("JPX: tile reconstruction shape mismatch")
            planes[c][cy0 : cy0 + ch_, cx0 : cx0 + cw_] = cur

    # inverse component transform (components must share one grid) + DC shift
    out = planes
    if cod["mct"] and n_comp >= 3:
        if not (out[0].shape == out[1].shape == out[2].shape):
            raise ValueError("JPX: MCT over mismatched component grids")
        y0, u, v = out[0], out[1], out[2]
        if cod["transform"] == 1:  # RCT (integers)
            if any(p.dtype != np.int64 for p in (y0, u, v)):
                # a COC can force one component irreversible while the
                # main COD declares RCT — mixed dtypes have no conformant
                # reconstruction; degrade loudly (ValueError contract)
                raise ValueError("JPX: RCT over non-integer planes")
            g = y0 - ((u + v) >> 2)
            r_ = v + g
            b_ = u + g
        else:  # ICT
            r_ = y0 + 1.402 * v
            g = y0 - 0.344136 * u - 0.714136 * v
            b_ = y0 + 1.772 * u
        out[0], out[1], out[2] = r_, g, b_
    final: list[np.ndarray] = []
    precs: list[int] = []
    for c in range(n_comp):
        prec = siz["comps"][c]["prec"]
        arr = out[c]
        if arr.dtype != np.int64:
            arr = np.rint(arr).astype(np.int64)
        if not siz["comps"][c]["signed"]:
            arr = arr + (1 << (prec - 1))
            arr = np.clip(arr, 0, (1 << prec) - 1)
        xr, yr = siz["comps"][c]["xr"], siz["comps"][c]["yr"]
        if xr > 1 or yr > 1:
            # contract: components arrive at FULL image resolution —
            # nearest-neighbor upsample of subsampled (e.g. 4:2:0) chroma
            arr = np.repeat(np.repeat(arr, yr, axis=0), xr, axis=1)[:h, :w]
        final.append(arr.astype(np.int32))
        precs.append(prec)
    return w, h, final, precs


def decode_jpx_dimensions(data: bytes) -> tuple[int, int, int]:
    """(width, height, n_components) from the SIZ marker alone — the
    cheap metadata path (no entropy decode), raw or JP2-boxed."""
    try:
        if data[:4] == b"\x00\x00\x00\x0c" and data[4:8] == b"jP  ":
            data = _find_jp2_codestream(data)
        if data[:2] != b"\xff\x4f":
            raise ValueError("JPX: missing SOC")
        at = data.find(b"\xff\x51")
        if at < 0 or at + 40 > len(data):
            raise ValueError("JPX: missing SIZ")
        xs, ys = struct.unpack_from(">II", data, at + 6)
        (csiz,) = struct.unpack_from(">H", data, at + 38)
        if not (0 < xs and 0 < ys and 0 < csiz <= 16384):
            raise ValueError("JPX: bad SIZ fields")
        return xs, ys, csiz
    except (struct.error, IndexError) as exc:
        raise ValueError(f"JPX: malformed header ({exc})") from exc


def decode_jpx_gray(data: bytes) -> tuple[int, int, bytes]:
    """Decode to one 8-bit grayscale plane (integer luma for color) — the
    shape the scanned-page OCR seam consumes."""
    w, h, comps, precs = decode_jpx(data)
    if len(comps) >= 3:
        r_, g, b_ = comps[0], comps[1], comps[2]
        gray = (
            r_.astype(np.int64) * 299 + g.astype(np.int64) * 587
            + b_.astype(np.int64) * 114
        ) // 1000
        prec = precs[0]
    else:
        gray = comps[0].astype(np.int64)
        prec = precs[0]
    if prec > 8:
        gray >>= prec - 8
    elif prec < 8:
        gray = gray * 255 // ((1 << prec) - 1)
    return w, h, np.clip(gray, 0, 255).astype(np.uint8).tobytes()


# ---------------------------------------------------------------------------
# Fixture encoder: single tile, single layer, LRCP, 64x64 code-blocks,
# one codeword segment per block. Lossless 5/3 (exact round-trip) or
# lossy 9/7 with scalar-expounded quantization.
# ---------------------------------------------------------------------------


def _quant_params_for_delta(delta: float, rb: int) -> tuple[int, int]:
    """(eps, mu) whose T.800 E.3 step is as close as possible to delta."""
    import math

    e = math.floor(math.log2(delta))
    m = delta / (2.0 ** e) - 1.0
    mu = int(round(m * 2048.0))
    if mu > 2047:
        mu = 0
        e += 1
    eps = rb - e
    if not 1 <= eps <= 31:
        raise ValueError("JPX: quantization step out of range")
    return eps, mu


def encode_jpx(
    comps: list[np.ndarray],
    lossless: bool = True,
    levels: int = 3,
    quality_step: float = 1.0 / 32,
    progression: int = 0,
    tile_size: tuple[int, int] | None = None,
    sampling: list[tuple[int, int]] | None = None,
    precincts: tuple[int, int] | None = None,
    bypass: bool = False,
    cb_style: int = 0,
    poc: list[tuple[int, int, int, int, int, int]] | None = None,
    roi: tuple[int, int, int, int] | None = None,
) -> bytes:
    """Encode 1 (gray) or 3 (RGB/YCbCr) uint8 planes as a raw JPEG 2000
    codestream. ``lossless`` selects 5/3 + RCT (bit-exact round-trip);
    otherwise 9/7 + ICT with a uniform base quantization step of
    ``quality_step`` (scalar expounded). ``progression`` picks the packet
    order (0..4 = LRCP/RLCP/RPCL/PCRL/CPRL); packets are physically
    emitted in that order. ``tile_size`` (w, h) partitions the image into
    independent tiles (each a SOT..SOD tile-part; sizes must keep tile
    origins aligned to 2^levels). ``sampling`` gives per-component
    (XRsiz, YRsiz) — e.g. [(1, 1), (2, 2), (2, 2)] is 4:2:0; component 0
    must be (1, 1), planes arrive pre-subsampled at their own grid, and
    the component transform is disabled (mismatched grids). ``precincts``
    gives (PPx, PPy) exponents on the resolution grid (same for every
    resolution; any progression order, position-major interleaves
    included), partitioning each resolution into multiple packets — the
    Kakadu-style streaming layout. ``bypass`` selects the selective-arithmetic-bypass
    code-block style (T.800 D.6, Kakadu's speed mode): SPP/MRP passes
    from the fifth bit-plane are raw-coded and every MQ↔raw transition
    is a terminated codeword segment with its own packet-header
    length. ``cb_style`` ORs in further T.800 Table A-19 style bits:
    0x02 reset contexts per pass, 0x04 terminate every pass, 0x08
    vertically-causal contexts, 0x20 segmentation symbols (0x10
    predictable termination changes nothing this encoder emits).
    ``poc`` emits a POC marker (A.6.6) with the given
    (RSpoc, CSpoc, LYEpoc, REpoc, CEpoc, Ppoc) progression volumes and
    orders the packets accordingly (B.12.2; packets the volumes miss
    follow in the COD order, same as the decoder's lenient stance).
    ``roi`` = (x0, y0, x1, y1) marks an image-space ROI coded with the
    implicit max-shift method (T.800 H, RGN markers per component):
    wavelet coefficients whose subband-mapped position falls in the
    rectangle are scaled up by 2^s with s = the global background
    magnitude bit-length, so the decoder's |q| ≥ 2^s rule recovers them
    exactly; lossless single-tile unsubsampled only (the fixture shape —
    the DECODER rule is path-independent)."""
    if not 0 <= progression <= 4:
        raise ValueError("JPX: bad progression order")
    cb_style = (cb_style | (0x01 if bypass else 0)) & 0x3F
    bypass = bool(cb_style & 0x01)
    st_reset = bool(cb_style & 0x02)
    st_restart = bool(cb_style & 0x04)
    st_causal = bool(cb_style & 0x08)
    st_segsym = bool(cb_style & 0x20)
    if precincts is not None:
        ppx, ppy = precincts
        if not (1 <= ppx <= 15 and 1 <= ppy <= 15):
            raise ValueError("JPX: bad precinct exponents")
    if not comps or len(comps) not in (1, 3):
        raise ValueError("JPX: encoder takes 1 or 3 components")
    n_comp = len(comps)
    sampling = list(sampling) if sampling is not None else [(1, 1)] * n_comp
    if len(sampling) != n_comp or sampling[0] != (1, 1):
        raise ValueError("JPX: bad sampling spec (component 0 must be 1:1)")
    h, w = comps[0].shape
    if w * h > MAX_PIXELS:
        raise ValueError("JPX: image too large")
    for c, (xr, yr) in enumerate(sampling):
        if xr not in (1, 2, 4) or yr not in (1, 2, 4):
            raise ValueError("JPX: sampling factor unsupported")
        exp = (-(-h // yr), -(-w // xr))
        if comps[c].shape != exp:
            raise ValueError("JPX: component shape does not match sampling")
    xts, yts = tile_size if tile_size is not None else (w, h)
    ntx, nty = -(-w // xts), -(-h // yts)
    multi_tile = ntx * nty > 1
    levels = max(0, min(levels, max(0, (min(w, h) - 1).bit_length() - 2)))
    if multi_tile:
        for xr, yr in sampling:
            if xts % (xr << levels) or yts % (yr << levels):
                raise ValueError(
                    "JPX: tile size must align tile origins to 2^levels"
                )
    prec = 8
    guard = 2
    planes = [c.astype(np.int64) - 128 for c in comps]  # DC shift
    mct = 1 if n_comp == 3 and all(sp == (1, 1) for sp in sampling) else 0
    if mct:
        r_, g, b_ = planes
        if lossless:  # RCT
            y0 = (r_ + 2 * g + b_) >> 2
            u = b_ - g
            v = r_ - g
        else:  # ICT
            y0 = 0.299 * r_ + 0.587 * g + 0.114 * b_
            u = -0.168736 * r_ - 0.331264 * g + 0.5 * b_
            v = 0.5 * r_ - 0.418688 * g - 0.081312 * b_
        planes = [y0, u, v]

    geom = _band_geometry(w, h, levels)  # subband NAME/level enumeration

    def fwd_dwt(p: np.ndarray) -> dict[tuple[str, int], np.ndarray]:
        cur = p if lossless else p.astype(np.float64)
        bands: dict[tuple[str, int], np.ndarray] = {}
        for l in range(1, levels + 1):
            if lossless:
                s_l, s_h = _fdwt53_1d(cur, 1)
                ll, lh = _fdwt53_1d(s_l, 0)
                hl, hh = _fdwt53_1d(s_h, 0)
            else:
                s_l, s_h = _fdwt97_1d(cur, 1)
                ll, lh = _fdwt97_1d(s_l, 0)
                hl, hh = _fdwt97_1d(s_h, 0)
            bands[("HL", l)] = hl
            bands[("LH", l)] = lh
            bands[("HH", l)] = hh
            cur = ll
        bands[("LL", levels)] = cur
        return bands

    # per-tile, per-component forward DWT over the tile-component windows
    tile_bands: list[list[dict[tuple[str, int], np.ndarray]]] = []
    for ti in range(ntx * nty):
        tx, ty = ti % ntx, ti // ntx
        tx0, ty0 = tx * xts, ty * yts
        tx1, ty1 = min(tx0 + xts, w), min(ty0 + yts, h)
        per_comp = []
        for c in range(n_comp):
            xr, yr = sampling[c]
            cx0, cx1 = -(-tx0 // xr), -(-tx1 // xr)
            cy0, cy1 = -(-ty0 // yr), -(-ty1 // yr)
            per_comp.append(fwd_dwt(planes[c][cy0:cy1, cx0:cx1]))
        tile_bands.append(per_comp)

    roi_s = 0
    if roi is not None:
        if not lossless or ntx * nty > 1 or any(
            sp != (1, 1) for sp in sampling
        ):
            raise ValueError(
                "JPX: roi fixture supports lossless single-tile 1:1 only"
            )
        rx0, ry0, rx1, ry1 = roi
        if not (0 <= rx0 < rx1 <= w and 0 <= ry0 < ry1 <= h):
            raise ValueError("JPX: roi rectangle out of range")
        # s = global background magnitude bit-length: every unshifted
        # coefficient stays < 2^s, so the decoder's magnitude rule is
        # exact (T.800 H.2 max-shift sizing)
        for per_comp in tile_bands:
            for bands in per_comp:
                for arr in bands.values():
                    if arr.size:
                        roi_s = max(
                            roi_s, int(np.abs(arr).max()).bit_length()
                        )
        roi_s = max(1, roi_s)

    # per-subband (eps, mu): the QCD default serves EVERY component and
    # tile, so lossless exponents come from the global max magnitude
    qvals: list[tuple[int, int]] = []
    for r, blist in enumerate(geom):
        for name, level, _bw, _bh in blist:
            if lossless:
                mx = 0
                for per_comp in tile_bands:
                    for bands in per_comp:
                        arr = bands.get((name, level))
                        if arr is not None and arr.size:
                            mx = max(mx, int(np.abs(arr).max()))
                eps_ll = max(1, mx.bit_length() + 1 - guard) + roi_s
                if eps_ll > 31:
                    raise ValueError("JPX: roi shift exceeds eps range")
                qvals.append((eps_ll, 0))
            else:
                rb = prec + _GAIN[name]
                # uniform base step, scaled down for deeper levels so
                # coarse subbands keep more precision
                delta = quality_step * (2.0 ** -(levels - level))
                qvals.append(_quant_params_for_delta(delta, rb))

    def quantize(bands: dict) -> dict:
        qb: dict[tuple[str, int], np.ndarray] = {}
        for key, arr in bands.items():
            name, level = key
            eps, mu = qvals[_qcd_index(name, level, levels)]
            if lossless:
                q = arr.astype(np.int64)
            else:
                rb = prec + _GAIN[name]
                delta = float(2.0 ** (rb - eps)) * (1.0 + mu / 2048.0)
                q = (
                    np.sign(arr) * (np.abs(arr) / delta).astype(np.int64)
                ).astype(np.int64)
            mb = guard + eps - 1
            if q.size and int(np.abs(q).max()) >= (1 << mb):
                raise ValueError("JPX: coefficients exceed Mb")
            qb[key] = q
        return qb

    # ---- markers
    out = bytearray(b"\xff\x4f")  # SOC
    sizb = struct.pack(
        ">HIIIIIIIIH", 0, w, h, 0, 0, xts, yts, 0, 0, n_comp
    ) + b"".join(
        struct.pack(">BBB", prec - 1, xr, yr) for xr, yr in sampling
    )
    out += b"\xff\x51" + struct.pack(">H", len(sizb) + 2) + sizb
    codb = bytes([
        1 if precincts is not None else 0, progression,  # Scod, order
    ]) + struct.pack(">H", 1) + bytes([
        mct, levels, 4, 4, cb_style, 1 if lossless else 0,
    ])
    if precincts is not None:
        ppx, ppy = precincts
        codb += bytes([(ppy << 4) | ppx] * (levels + 1))
    out += b"\xff\x52" + struct.pack(">H", len(codb) + 2) + codb
    if lossless:
        qcdb = bytes([(guard << 5) | 0]) + bytes(
            (eps << 3) for eps, _ in qvals
        )
    else:
        qcdb = bytes([(guard << 5) | 2]) + b"".join(
            struct.pack(">H", (eps << 11) | mu) for eps, mu in qvals
        )
    out += b"\xff\x5c" + struct.pack(">H", len(qcdb) + 2) + qcdb
    if poc is not None:
        cw2 = 1 if n_comp < 257 else 2
        pocb = bytearray()
        for rs, cs, lye, re_, ce, ppoc in poc:
            if not (0 <= rs < re_ <= levels + 1 and 0 <= cs < ce <= n_comp
                    and lye >= 1 and 0 <= ppoc <= 4):
                raise ValueError("JPX: bad POC volume spec")
            pocb.append(rs)
            pocb += cs.to_bytes(cw2, "big")
            pocb += struct.pack(">H", lye)
            pocb.append(re_)
            pocb += ce.to_bytes(cw2, "big")
            pocb.append(ppoc)
        out += b"\xff\x5f" + struct.pack(">H", len(pocb) + 2) + bytes(pocb)
    if roi is not None:
        cw3 = 1 if n_comp < 257 else 2
        for c in range(n_comp):
            rgnb = c.to_bytes(cw3, "big") + bytes([0, roi_s])
            out += b"\xff\x5e" + struct.pack(">H", len(rgnb) + 2) + rgnb

    # ---- tiles: single-layer packets, physically in progression order
    for ti in range(ntx * nty):
        comp_quant = [quantize(b) for b in tile_bands[ti]]
        if roi is not None:
            # scale the subband-mapped ROI rectangle up by 2^s (single
            # tile, 1:1 sampling — comp coords == image coords)
            rx0, ry0, rx1, ry1 = roi
            for qb in comp_quant:
                for (name, level), q in qb.items():
                    if not q.size:
                        continue
                    sh, sw_q = q.shape
                    x0s = min(rx0 >> level, sw_q)
                    y0s = min(ry0 >> level, sh)
                    x1s = min(max(x0s + 1, -(-rx1 >> level)), sw_q)
                    y1s = min(max(y0s + 1, -(-ry1 >> level)), sh)
                    q[y0s:y1s, x0s:x1s] <<= roi_s
        tx, ty = ti % ntx, ti // ntx
        tx0, ty0 = tx * xts, ty * yts
        tx1, ty1 = min(tx0 + xts, w), min(ty0 + yts, h)
        body = bytearray()
        # packets are generated per (resolution, component, precinct) —
        # each packet's bytes are order-independent (single layer, fresh
        # per-precinct tag trees) — then emitted in the progression
        # order, position-major orders included (_tile_packet_steps)
        pkt_bytes: dict[tuple[int, int, int], bytes] = {}
        per_cr: list[list[tuple[int, int, int, int]]] = [
            [] for _ in range(n_comp)
        ]
        for r, ci in (
            (r_, c_) for r_ in range(levels + 1) for c_ in range(n_comp)
        ):
            xr, yr = sampling[ci]
            cw_ = -(-tx1 // xr) - (-(-tx0 // xr))
            ch_ = -(-ty1 // yr) - (-(-ty0 // yr))
            tgeom = _band_geometry(cw_, ch_, levels)
            blist = tgeom[r]
            half = 1 if r > 0 else 0
            if precincts is not None:
                cbw_eff = min(64, 1 << (precincts[0] - half))
                cbh_eff = min(64, 1 << (precincts[1] - half))
                l = levels - r
                rw = (cw_ + (1 << l) - 1) >> l
                rh = (ch_ + (1 << l) - 1) >> l
                npx = max(1, -(-rw // (1 << precincts[0])))
                npy = max(1, -(-rh // (1 << precincts[1])))
                psw = 1 << (precincts[0] - half)
                psh = 1 << (precincts[1] - half)
            else:
                cbw_eff = cbh_eff = 64
                npx = npy = 1
                psw = psh = 1 << 30
            per_cr[ci].append(
                (npx * npy, npx,
                 xr << (precincts[0] + levels - r),
                 yr << (precincts[1] + levels - r))
                if precincts is not None
                else (1, 1, 1, 1)
            )
            # per-subband block data for this (resolution, component)
            sb_blocks = []
            for name, level, bw_, bh_ in blist:
                eps, mu = qvals[_qcd_index(name, level, levels)]
                mb = guard + eps - 1
                if bw_ <= 0 or bh_ <= 0:
                    sb_blocks.append((name, 0, 0, {}, np.zeros((0, 0)), mb))
                    continue
                nbx = (bw_ + cbw_eff - 1) // cbw_eff
                nby = (bh_ + cbh_eff - 1) // cbh_eff
                q = comp_quant[ci][(name, level)]
                zvals = np.zeros((nby, nbx), dtype=np.int32)
                blocks: dict[tuple[int, int], tuple[bytes, int, int]] = {}
                for by in range(nby):
                    for bx in range(nbx):
                        blkq = q[
                            by * cbh_eff : min((by + 1) * cbh_eff, bh_),
                            bx * cbw_eff : min((bx + 1) * cbw_eff, bw_),
                        ]
                        mx = int(np.abs(blkq).max()) if blkq.size else 0
                        if mx == 0:
                            continue
                        n_planes = mx.bit_length()
                        if cb_style:
                            segs, n_passes = encode_block_styled(
                                blkq, _BAND_IDX[name], n_planes,
                                bypass=bypass, reset=st_reset,
                                restart=st_restart, causal=st_causal,
                                segsym=st_segsym,
                            )
                        else:
                            seg, n_passes = encode_block(
                                blkq, _BAND_IDX[name], n_planes
                            )
                            segs = [seg]
                        zvals[by, bx] = mb - n_planes
                        blocks[(by, bx)] = (segs, n_passes, n_planes)
                sb_blocks.append((name, nbx, nby, blocks, zvals, mb))
            # one packet per precinct (raster over the resolution grid)
            for py in range(npy):
                for px in range(npx):
                    bw = _HeaderWriter()
                    seg_parts: list[bytes] = []
                    bw.bit(1)  # non-empty packet
                    for name, nbx, nby, blocks, zvals, mb in sb_blocks:
                        if nbx == 0 or nby == 0:
                            continue
                        bpx = max(1, psw // cbw_eff)
                        bpy = max(1, psh // cbh_eff)
                        bx0 = min(px * bpx, nbx)
                        bx1 = min(bx0 + bpx, nbx)
                        by0 = min(py * bpy, nby)
                        by1 = min(by0 + bpy, nby)
                        vw, vh = max(1, bx1 - bx0), max(1, by1 - by0)
                        incl = _TagTree(vw, vh)
                        zb = _TagTree(vw, vh)
                        ivals = np.ones((vh, vw), dtype=np.int32)
                        zv = np.zeros((vh, vw), dtype=np.int32)
                        for by in range(by0, by1):
                            for bx in range(bx0, bx1):
                                if (by, bx) in blocks:
                                    ivals[by - by0, bx - bx0] = 0
                                    zv[by - by0, bx - bx0] = zvals[by, bx]
                        incl.set_values(ivals)
                        zb.set_values(zv)
                        for by in range(by0, by1):
                            for bx in range(bx0, bx1):
                                tx, ty = bx - bx0, by - by0
                                incl.encode(bw, tx, ty, 1)
                                if (by, bx) not in blocks:
                                    continue
                                segs, n_passes, _np_ = blocks[(by, bx)]
                                for t in range(1, zv[ty, tx] + 2):
                                    zb.encode(bw, tx, ty, t)
                                _write_npasses(bw, n_passes)
                                # one signalled length per codeword
                                # segment (bypass > 1); the Lblock
                                # escalation must fit the worst piece
                                pieces = (
                                    _bypass_pieces(0, n_passes, st_restart)
                                    if (bypass or st_restart)
                                    else [(n_passes, False)]
                                )
                                lblock = 3
                                k = 0
                                for (npp, _t), sbytes in zip(pieces, segs):
                                    avail = lblock + (npp.bit_length() - 1)
                                    need = max(1, len(sbytes).bit_length())
                                    k = max(k, need - avail)
                                for _ in range(k):
                                    bw.bit(1)
                                bw.bit(0)
                                lblock += k
                                for (npp, _t), sbytes in zip(pieces, segs):
                                    bw.bits(
                                        len(sbytes),
                                        lblock + (npp.bit_length() - 1),
                                    )
                                    seg_parts.append(sbytes)
                    pkt_bytes[(r, ci, py * npx + px)] = bw.flush() + b"".join(
                        seg_parts
                    )
        emit_steps = (
            _poc_steps(poc, progression, 1, per_cr)
            if poc is not None
            else _tile_packet_steps(progression, 1, per_cr)
        )
        for _l, r_, c_, p_ in emit_steps:
            body += pkt_bytes[(r_, c_, p_)]
        psot = 12 + 2 + len(body)  # SOT seg (12) + SOD marker + body
        out += b"\xff\x90" + struct.pack(">HHIBB", 10, ti, psot, 0, 1)
        out += b"\xff\x93" + body
    out += b"\xff\xd9"  # EOC
    return bytes(out)


def encode_jp2(
    comps: list[np.ndarray], lossless: bool = True, levels: int = 3,
    quality_step: float = 1.0 / 32, bypass: bool = False,
) -> bytes:
    """Wrap :func:`encode_jpx` in the JP2 container (signature, ftyp,
    jp2h with ihdr + colr, jp2c) — the box layout real .jp2 files and
    many PDF /JPXDecode payloads use."""
    cs = encode_jpx(comps, lossless, levels, quality_step, bypass=bypass)
    h, w = comps[0].shape

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I4s", 8 + len(payload), btype) + payload

    sig = box(b"jP  ", b"\x0d\x0a\x87\x0a")
    ftyp = box(b"ftyp", b"jp2 " + struct.pack(">I", 0) + b"jp2 ")
    ihdr = box(
        b"ihdr",
        struct.pack(">IIHBBBB", h, w, len(comps), 7, 7, 0, 0),
    )
    colr = box(
        b"colr",
        bytes([1, 0, 0]) + struct.pack(">I", 16 if len(comps) == 3 else 17),
    )
    jp2h = box(b"jp2h", ihdr + colr)
    return sig + ftyp + jp2h + box(b"jp2c", cs)
