"""VP8L — WebP lossless codec (functions/codec_vp8l.py).

The fixture encoder emits spec-valid streams for the encoder-reachable
paths (simple/normal prefix codes, subtract-green, mode-1 predictor
tiles, palette bundling at every bpp, distance-code-2 LZ77, color
cache); decoder-only paths — the color transform, all 14 predictor
modes, general 2-D distance codes, meta prefix tiling — are exercised
with hand-built streams whose residuals are computed by the FORWARD
transform in this file, so decode must invert them back to the
original image (not a decoder-against-itself check).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gnosis_ocr_spark.functions import codec_vp8l as V
from gnosis_ocr_spark.functions.codec_vp8l import (
    _BitWriter,
    _encode_spatial,
    _PRED_BLACK,
    _add_pixels,
    _predict,
)


def _rand_gray(w: int, h: int, maxv: int = 256, seed: int = 7) -> bytes:
    rng = np.random.default_rng(seed)
    return rng.integers(0, maxv, size=w * h, dtype=np.uint8).tobytes()


def _grad_gray(w: int, h: int, maxv: int = 256) -> bytes:
    return (np.add.outer(np.arange(h), np.arange(w)) % maxv).astype(
        np.uint8
    ).tobytes()


# ----------------------------------------------------- encoder round-trips


SHAPES = [(1, 1), (3, 2), (16, 16), (37, 23), (64, 5), (130, 3)]

OPTIONS = [
    ("plain", {}, 256),
    ("no_subtract_green", dict(subtract_green=False), 256),
    ("predictor", dict(predictor=True), 256),
    ("predictor_nosg", dict(predictor=True, subtract_green=False), 256),
    ("lz77_rle", dict(rle=True), 256),
    ("color_cache", dict(cache_bits=4), 256),
    ("rle_cache", dict(rle=True, cache_bits=6), 256),
    ("pred_rle_cache", dict(predictor=True, rle=True, cache_bits=3), 256),
    ("palette_1bpp", dict(palette=True), 2),
    ("palette_2bpp", dict(palette=True), 4),
    ("palette_4bpp", dict(palette=True), 16),
    ("palette_8bpp", dict(palette=True), 256),
    ("palette_rle", dict(palette=True, rle=True), 16),
    ("palette_cache", dict(palette=True, cache_bits=4), 4),
]


@pytest.mark.parametrize("name,kw,maxv", OPTIONS, ids=[o[0] for o in OPTIONS])
@pytest.mark.parametrize("shape", SHAPES, ids=[f"{w}x{h}" for w, h in SHAPES])
def test_roundtrip_matrix(name, kw, maxv, shape):
    w, h = shape
    for gray in (_rand_gray(w, h, maxv), _grad_gray(w, h, maxv),
                 bytes([maxv // 2]) * (w * h)):
        webp = V.encode_webp_lossless_gray(gray, w, h, **kw)
        dw, dh, out = V.decode_webp_gray(webp)
        assert (dw, dh) == (w, h)
        assert out == gray


def test_container_dims_agree_with_header_parse():
    from gnosis_ocr_spark.functions.codec_media import webp_dimensions

    gray = _rand_gray(19, 13)
    webp = V.encode_webp_lossless_gray(gray, 19, 13)
    assert webp_dimensions(webp) == (19, 13)


def test_lossy_vp8_dispatches_to_codec_vp8():
    # round 5: lossy key frames decode in-engine (codec_vp8); the
    # header-only filler fixture is spec-decodable as an all-default
    # flat frame (boolean-decoder zero-extension)
    from gnosis_ocr_spark.functions.codec_media import build_webp_lossy_header

    w, h, gray = V.decode_webp_gray(build_webp_lossy_header(64, 64))
    assert (w, h) == (64, 64) and len(gray) == 64 * 64


def test_pixel_bound_rejects_hostile_header():
    bw = _BitWriter()
    bw.write(16383, 14)  # 16384 wide
    bw.write(16383, 14)  # 16384 tall → 268 MPix > MAX_PIXELS
    bw.write(0, 1)
    bw.write(0, 3)
    with pytest.raises(V.Vp8lError, match="pixel bound"):
        V.decode_vp8l(b"\x2f" + bw.finish())


# ------------------------------------------------ hand-built decoder paths


def _level0_header(bw: _BitWriter, w: int, h: int) -> None:
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version


def test_color_transform_inverts_forward():
    """Forward cross-channel transform (computed here, per RFC 9649 §4.2.3)
    encoded as literal residuals + a COLOR transform tile image; the
    decoder must reproduce the original ARGB pixels."""
    w, h = 9, 6
    rng = np.random.default_rng(11)
    orig = [
        0xFF000000
        | (int(r) << 16) | (int(g) << 8) | int(b)
        for r, g, b in rng.integers(0, 256, size=(w * h, 3))
    ]
    g2r, g2b, r2b = 0x45, 0xE3, 0x1A  # mixed-sign 3.5 fixed-point factors

    def delta(t, c):
        ts = t - 256 if t >= 128 else t
        cs = c - 256 if c >= 128 else c
        return (ts * cs) >> 5

    residual = []
    for px in orig:
        r, g, b = (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF
        tr = (r - delta(g2r, g)) & 0xFF
        tb = (b - delta(g2b, g) - delta(r2b, r)) & 0xFF
        residual.append((px & 0xFF00FF00) | (tr << 16) | tb)

    bw = _BitWriter()
    _level0_header(bw, w, h)
    bw.write(1, 1)
    bw.write(1, 2)  # COLOR transform
    bits = 4  # one 16x16 tile covers the image
    bw.write(bits - 2, 3)
    tile = 0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
    _encode_spatial(bw, [tile], 1, rle=False, cache_bits=0, is_level0=False)
    bw.write(0, 1)  # no more transforms
    _encode_spatial(bw, residual, w, rle=False, cache_bits=0)

    dw, dh, _, argb = V.decode_vp8l(b"\x2f" + bw.finish())
    assert (dw, dh) == (w, h)
    assert argb == orig


@pytest.mark.parametrize("mode", range(14))
def test_predictor_all_modes(mode):
    """Every predictor mode: residuals computed with the module's forward
    predictor over an independent reference reconstruction — certifies the
    tile dispatch, the scan-order neighbor indexing, and mod-256 re-add."""
    w, h = 21, 9
    rng = np.random.default_rng(mode)
    orig = [
        0xFF000000 | (int(v) << 16) | (int(v2) << 8) | int(v3)
        for v, v2, v3 in rng.integers(0, 256, size=(w * h, 3))
    ]
    residual = [0] * (w * h)
    for pos, px in enumerate(orig):
        y, x = divmod(pos, w)
        if pos == 0:
            pred = _PRED_BLACK
        elif y == 0:
            pred = orig[pos - 1]
        elif x == 0:
            pred = orig[pos - w]
        else:
            pred = _predict(
                mode,
                orig[pos - 1],
                orig[pos - w],
                orig[pos - w - 1],
                orig[pos - w + 1],
            )
        d = 0
        for shift in (24, 16, 8, 0):
            d |= ((((px >> shift) & 0xFF) - ((pred >> shift) & 0xFF)) & 0xFF) << shift
        residual[pos] = d

    bw = _BitWriter()
    _level0_header(bw, w, h)
    bw.write(1, 1)
    bw.write(0, 2)  # PREDICTOR transform
    bits = 5  # single 32x32 tile → one mode everywhere
    bw.write(bits - 2, 3)
    _encode_spatial(bw, [0xFF000000 | (mode << 8)], 1,
                    rle=False, cache_bits=0, is_level0=False)
    bw.write(0, 1)
    _encode_spatial(bw, residual, w, rle=False, cache_bits=0)

    dw, dh, _, argb = V.decode_vp8l(b"\x2f" + bw.finish())
    assert (dw, dh) == (w, h)
    assert argb == orig


def test_predict_formulas_known_values():
    """Spot-check the arithmetic predictors against hand-computed values."""
    L, T, TL, TR = 0xFF102030, 0xFF405060, 0xFF304050, 0xFF506070
    assert _predict(0, L, T, TL, TR) == 0xFF000000
    assert _predict(1, L, T, TL, TR) == L
    assert _predict(7, L, T, TL, TR) == 0xFF283848  # per-channel floor avg
    # ClampAddSubtractFull: L + T - TL channel-wise, clamped to [0,255]
    assert _predict(12, L, T, TL, TR) == 0xFF203040
    # Select: p = L+T-TL = (0x20,0x30,0x40); |p-L|=48 < |p-T|=96 → Left
    assert _predict(11, L, T, TL, TR) == L


def test_distance_map_2d_codes():
    """A copy with a 2-D distance code (0,1) = one row up must duplicate
    the previous ROW (xsize-dependent), not the previous pixel."""
    w, h = 8, 4
    rng = np.random.default_rng(3)
    row = [0xFF000000 | (int(v) << 8) for v in rng.integers(0, 256, size=w)]
    orig = row * h  # every row identical

    from gnosis_ocr_spark.functions.codec_vp8l import (
        _emit_prefix_code,
        _value_to_prefix,
    )

    bw = _BitWriter()
    _level0_header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta image
    # literal row, then one copy of length w*(h-1) at distance code 1=(0,1)
    length = w * (h - 1)
    lcode, lextra, lnbits = _value_to_prefix(length)
    gf = {}
    for px in row:
        g = (px >> 8) & 0xFF
        gf[g] = gf.get(g, 0) + 1
    gf[256 + lcode] = gf.get(256 + lcode, 0) + 1
    gc = _emit_prefix_code(bw, gf, 256 + 24)
    rc = _emit_prefix_code(bw, {0: 1}, 256)
    bc = _emit_prefix_code(bw, {0: 1}, 256)
    ac = _emit_prefix_code(bw, {0xFF: 1}, 256)
    dc = _emit_prefix_code(bw, {0: 1}, 40)  # distance prefix 0 → value 1
    for px in row:
        code, n = gc[(px >> 8) & 0xFF]
        bw.write_code(code, n)
        code, n = rc[0]
        bw.write_code(code, n)
        code, n = bc[0]
        bw.write_code(code, n)
        code, n = ac[0xFF]
        bw.write_code(code, n)
    code, n = gc[256 + lcode]
    bw.write_code(code, n)
    bw.write(lextra, lnbits)
    code, n = dc[0]
    bw.write_code(code, n)  # dist value 1 → 2-D code 1 → (0,1) → dist = w

    dw, dh, _, argb = V.decode_vp8l(b"\x2f" + bw.finish())
    assert (dw, dh) == (w, h)
    assert argb == orig


def test_meta_prefix_image_selects_groups():
    """Two prefix-code groups selected by a meta image: left tile's group
    codes only value A, right tile's only value B — decoding proves group
    switching happens at the tile boundary mid-row."""
    w, h = 8, 4
    bits = 2  # 4x4 tiles → 2 tiles across
    A, B = 0xFF00AA00 | (7 << 8), 0xFF000000 | (9 << 8)
    A = 0xFF000000 | (7 << 8)
    B = 0xFF000000 | (9 << 8)
    orig = []
    for y in range(h):
        orig += [A] * 4 + [B] * 4

    from gnosis_ocr_spark.functions.codec_vp8l import _emit_prefix_code

    bw = _BitWriter()
    _level0_header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(1, 1)  # meta prefix image present
    bw.write(bits - 2, 3)
    # meta image (2x1): group ids in the upper bytes ((px>>8) & 0xFFFF)
    _encode_spatial(bw, [0xFF000000 | (0 << 8), 0xFF000000 | (1 << 8)], 2,
                    rle=False, cache_bits=0, is_level0=False)
    groups = []
    for gval in (7, 9):
        gc = _emit_prefix_code(bw, {gval: 1}, 256 + 24)
        rc = _emit_prefix_code(bw, {0: 1}, 256)
        bc = _emit_prefix_code(bw, {0: 1}, 256)
        ac = _emit_prefix_code(bw, {0xFF: 1}, 256)
        dc = _emit_prefix_code(bw, {0: 1}, 40)
        groups.append((gc, rc, bc, ac, dc))
    for px in orig:
        g = (px >> 8) & 0xFF
        gc, rc, bc, ac, dc = groups[0 if g == 7 else 1]
        for table, sym in ((gc, g), (rc, 0), (bc, 0), (ac, 0xFF)):
            code, n = table[sym]
            bw.write_code(code, n)

    dw, dh, _, argb = V.decode_vp8l(b"\x2f" + bw.finish())
    assert (dw, dh) == (w, h)
    assert argb == orig


# ----------------------------------------------------------- hostile input


def test_truncated_streams_raise():
    gray = _rand_gray(24, 16)
    payload = V.encode_vp8l_gray(gray, 24, 16)
    for cut in (1, 3, len(payload) // 2, len(payload) - 1):
        with pytest.raises(V.Vp8lError):
            V.decode_vp8l(payload[:cut])


def test_bad_signature_and_container():
    with pytest.raises(V.Vp8lError):
        V.decode_vp8l(b"\x2e\x00\x00\x00\x00")
    with pytest.raises(V.Vp8lError):
        V.decode_webp_gray(b"RIFF\x00\x00\x00\x00WAVE" + bytes(16))
    with pytest.raises(V.Vp8lError, match="no VP8L"):
        V.decode_webp_gray(
            b"RIFF\x0c\x00\x00\x00WEBPXXXX\x00\x00\x00\x00"
        )


@settings(max_examples=40, deadline=None)
@given(
    pos=st.integers(min_value=1, max_value=200),
    val=st.integers(min_value=0, max_value=255),
)
def test_mutation_fuzz_never_hangs_or_segfaults(pos, val):
    """Byte mutations either still decode to SOME wxh-sized image or raise
    Vp8lError/ValueError — never an unbounded loop or non-ValueError."""
    gray = _grad_gray(16, 12)
    payload = bytearray(V.encode_vp8l_gray(gray, 16, 12, cache_bits=3))
    payload[pos % len(payload)] ^= val or 0xFF
    try:
        w, h, _, argb = V.decode_vp8l(bytes(payload))
        assert len(argb) == w * h
    except ValueError:
        pass
