"""VP8L — WebP lossless bitstream (RFC 9649 / "WebP Lossless Bitstream
Specification", public) — from-scratch decoder + a fixture encoder.

This closes the lossless half of the WebP boundary documented in
``codec_media.webp_dimensions``: VP8L is a prefix-coded (canonical
Huffman, deflate conventions: values LSB-first, code bits MSB-first)
ARGB format with LZ77 backward references over a 2-D distance
neighborhood, an optional color cache, meta prefix-code tiling, and four
invertible transforms (predictor, color, subtract-green, color-indexing
with sub-byte pixel bundling). All of those decode here. The lossy half
(the ``VP8 `` chunk — boolean-arithmetic DCT coding) decodes in
codec_vp8 (conformance-verified against the system libwebp) and is
dispatched to from ``decode_webp_gray``.

Decoder scope/honesty:
- Full feature coverage: simple + normal prefix codes (incl. the
  code-length code with 16/17/18 repeats and the max_symbol short
  form), color cache, meta prefix images, all 120 2-D distance codes,
  all 14 predictor modes, color transform, subtract-green, palette
  bundling at 1/2/4/8 bpp.
- Per-pixel Python decode: ~linear, honest about throughput (same class
  as the EBCOT/JPEG notes in CLAUDE.md/FIXTURES.md); bounded by
  MAX_PIXELS against hostile headers.
- The 2-D distance table and predictor pseudocode follow the RFC text;
  no conformance decoder exists in this container to cross-check, so
  the fixture round-trips certify encoder/decoder consistency and the
  container/metadata layer, while spec-exactness rests on the cited
  public text (libwebp is the swap seam, as with libjpeg-turbo).

The encoder emits spec-valid streams used by the tests and the
multimodal fixtures: literal coding with real canonical prefix codes,
optional subtract-green, mode-1 predictor tiles, palette (with
bundling), distance-code-2 run-length LZ77, and a color cache.
"""

from __future__ import annotations

import struct

import numpy as np

MAX_PIXELS = 50_000_000  # hostile-input bound, same as codec_tiff/jpeg


class Vp8lError(ValueError):
    pass


# ------------------------------------------------------------------ bits


class _BitReader:
    """LSB-first over bytes; prefix-code bits are drawn one at a time
    (first bit = MSB of the canonical code, deflate convention)."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            if self.pos >= len(self.data):
                raise Vp8lError("VP8L: truncated stream")
            v |= ((self.data[self.pos] >> self.bit) & 1) << i
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
        return v

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise Vp8lError("VP8L: truncated stream")
        b = (self.data[self.pos] >> self.bit) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:  # LSB-first
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, length: int) -> None:  # MSB-first
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


# --------------------------------------------------------- prefix codes


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """Deflate-style canonical assignment: {symbol: (code, length)}."""
    max_len = max(lengths, default=0)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 2)
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


class _PrefixDecoder:
    """Canonical prefix decoder (first/count tables, bit-at-a-time)."""

    __slots__ = ("single", "first_code", "first_sym", "counts", "syms", "max_len")

    def __init__(self, lengths: list[int], simple_syms: list[int] | None = None):
        if simple_syms is not None:  # simple code: listed order, not sorted
            if len(simple_syms) == 1:
                self.single = simple_syms[0]
                return
            self.single = None
            self.max_len = 1
            self.counts = [0, 2]
            self.first_code = [0, 0]
            self.first_sym = [0, 0]
            self.syms = list(simple_syms)
            return
        used = [(ln, s) for s, ln in enumerate(lengths) if ln]
        if not used:
            raise Vp8lError("VP8L: empty prefix code")
        if len(used) == 1:  # degenerate: zero bits per symbol
            self.single = used[0][1]
            return
        self.single = None
        used.sort()
        self.max_len = used[-1][0]
        # Kraft check: complete codes only (over/under-subscribed → error)
        kraft = sum(1 << (self.max_len - ln) for ln, _ in used)
        if kraft != (1 << self.max_len):
            raise Vp8lError("VP8L: invalid prefix code")
        self.counts = [0] * (self.max_len + 1)
        for ln, _ in used:
            self.counts[ln] += 1
        self.syms = [s for _, s in used]
        self.first_code = [0] * (self.max_len + 1)
        self.first_sym = [0] * (self.max_len + 1)
        code = 0
        sym_i = 0
        for ln in range(1, self.max_len + 1):
            self.first_code[ln] = code
            self.first_sym[ln] = sym_i
            code = (code + self.counts[ln]) << 1
            sym_i += self.counts[ln]

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, self.max_len + 1):
            code = (code << 1) | br.read_bit()
            idx = code - self.first_code[ln]
            if 0 <= idx < self.counts[ln]:
                return self.syms[self.first_sym[ln] + idx]
        raise Vp8lError("VP8L: bad prefix code bits")


_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _read_code_lengths(br: _BitReader, cl_dec: _PrefixDecoder,
                       alphabet_size: int) -> list[int]:
    if br.read_bit():  # short form: explicit symbol-count bound
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        clen = cl_dec.decode(br)
        if clen < 16:
            lengths[symbol] = clen
            symbol += 1
            if clen:
                prev = clen
        elif clen == 16:
            n = 3 + br.read(2)
            for _ in range(n):
                if symbol >= alphabet_size:
                    raise Vp8lError("VP8L: code-length repeat overflow")
                lengths[symbol] = prev
                symbol += 1
        else:
            n = (3 + br.read(3)) if clen == 17 else (11 + br.read(7))
            symbol += n
            if symbol > alphabet_size:
                raise Vp8lError("VP8L: code-length zero-run overflow")
    return lengths


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixDecoder:
    if br.read_bit():  # simple
        num_symbols = br.read(1) + 1
        if br.read_bit():
            sym0 = br.read(8)
        else:
            sym0 = br.read(1)
        syms = [sym0]
        if num_symbols == 2:
            syms.append(br.read(8))
        for s in syms:
            if s >= alphabet_size:
                raise Vp8lError("VP8L: simple-code symbol out of range")
        return _PrefixDecoder([], simple_syms=syms)
    num_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_dec = _PrefixDecoder(cl_lengths)
    return _PrefixDecoder(_read_code_lengths(br, cl_dec, alphabet_size))


# -------------------------------------------------------------- LZ77


def _prefix_value(code: int, br: _BitReader) -> int:
    """LZ77 length/distance prefix coding (RFC 9649 §5.2.3)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _value_to_prefix(v: int) -> tuple[int, int, int]:
    """Inverse of :func:`_prefix_value`: value → (code, extra, n_extra)."""
    if v <= 4:
        return v - 1, 0, 0
    bits = (v - 1).bit_length() - 1
    base = 1 << bits
    if v - 1 < base + (base >> 1):
        code = 2 * bits
        offset = base
    else:
        code = 2 * bits + 1
        offset = base + (base >> 1)
    return code, v - offset - 1, bits - 1


# 2-D distance neighborhood, codes 1..120 (RFC 9649 §5.2.3): (dx, dy),
# distance = dy * xsize + dx (clamped to ≥ 1); codes > 120 are plain
# distances minus 120.
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (4, 6), (-4, 6), (6, 4), (-6, 4),
    (7, 1), (-7, 1), (5, 5), (-5, 5), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (6, 5), (-6, 5), (5, 6), (-5, 6),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (2, 8), (7, 5), (-7, 5), (5, 7), (-5, 7), (8, 3), (4, 8),
    (6, 7), (-6, 7), (7, 6), (-7, 6), (8, 4), (5, 8), (8, 5), (6, 8),
    (8, 6), (7, 7), (-7, 7), (7, 8), (8, 7), (8, 8),
)


def _map_distance(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    return max(1, dy * xsize + dx)


# ---------------------------------------------------------- transforms

_PRED_BLACK = 0xFF000000


def _avg2(a: int, b: int) -> int:
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _select(left: int, top: int, top_left: int) -> int:
    """RFC 9649 §4.2.2 Select: compare L/T against the full predictor
    p = L + T - TL; pick the neighbor closer to p."""
    p = 0
    for shift in (24, 16, 8, 0):
        c = ((left >> shift) & 0xFF) + ((top >> shift) & 0xFF) - ((top_left >> shift) & 0xFF)
        p |= (c & 0x1FF) << shift  # carry kept; compared channel-wise below
    p_l = p_t = 0
    for shift in (24, 16, 8, 0):
        pc = ((left >> shift) & 0xFF) + ((top >> shift) & 0xFF) - ((top_left >> shift) & 0xFF)
        p_l += abs(pc - ((left >> shift) & 0xFF))
        p_t += abs(pc - ((top >> shift) & 0xFF))
    return left if p_l < p_t else top


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _clamp_add_sub_full(a: int, b: int, c: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        out |= _clamp(((a >> shift) & 0xFF) + ((b >> shift) & 0xFF)
                      - ((c >> shift) & 0xFF)) << shift
    return out


def _clamp_add_sub_half(a: int, c: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        av = (a >> shift) & 0xFF
        out |= _clamp(av + (av - ((c >> shift) & 0xFF)) // 2) << shift
    return out


def _predict(mode: int, left: int, top: int, top_left: int, top_right: int) -> int:
    if mode == 0:
        return _PRED_BLACK
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return top_right
    if mode == 4:
        return top_left
    if mode == 5:
        return _avg2(_avg2(left, top_right), top)
    if mode == 6:
        return _avg2(left, top_left)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(top_left, top)
    if mode == 9:
        return _avg2(top, top_right)
    if mode == 10:
        return _avg2(_avg2(left, top_left), _avg2(top, top_right))
    if mode == 11:
        return _select(left, top, top_left)
    if mode == 12:
        return _clamp_add_sub_full(left, top, top_left)
    if mode == 13:
        return _clamp_add_sub_half(_avg2(left, top), top_left)
    raise Vp8lError(f"VP8L: predictor mode {mode} out of range")


def _add_pixels(pred: int, residual: int) -> int:
    """Per-channel addition mod 256."""
    out = 0
    for shift in (24, 16, 8, 0):
        out |= ((((pred >> shift) & 0xFF) + ((residual >> shift) & 0xFF)) & 0xFF) << shift
    return out


def _inverse_predictor(argb: list[int], w: int, h: int,
                       tiles: list[int], tile_bits: int) -> None:
    tiles_w = -(-w >> tile_bits) if False else ((w + (1 << tile_bits) - 1) >> tile_bits)
    for y in range(h):
        for x in range(w):
            pos = y * w + x
            if pos == 0:
                pred = _PRED_BLACK
            elif y == 0:
                pred = argb[pos - 1]  # top row: Left
            elif x == 0:
                pred = argb[pos - w]  # first column: Top
            else:
                mode = (tiles[(y >> tile_bits) * tiles_w + (x >> tile_bits)]
                        >> 8) & 0xFF
                left = argb[pos - 1]
                top = argb[pos - w]
                top_left = argb[pos - w - 1]
                top_right = argb[pos - w + 1]  # wraps per linear-buffer rule
                pred = _predict(mode, left, top, top_left, top_right)
            argb[pos] = _add_pixels(pred, argb[pos])


def _ct_delta(t: int, c: int) -> int:
    """ColorTransformDelta: signed 3.5 fixed-point (int8 * int8) >> 5."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inverse_color_transform(argb: list[int], w: int, h: int,
                             tiles: list[int], tile_bits: int) -> None:
    tiles_w = (w + (1 << tile_bits) - 1) >> tile_bits
    for y in range(h):
        for x in range(w):
            pos = y * w + x
            t = tiles[(y >> tile_bits) * tiles_w + (x >> tile_bits)]
            # channel layout per the spec / libwebp ColorCodeToMultipliers:
            # green_to_red in bits 0-7 (BLUE channel), green_to_blue in
            # bits 8-15 (GREEN), red_to_blue in bits 16-23 (RED)
            g2r = t & 0xFF
            g2b = (t >> 8) & 0xFF
            r2b = (t >> 16) & 0xFF
            px = argb[pos]
            g = (px >> 8) & 0xFF
            r = ((px >> 16) & 0xFF) + _ct_delta(g2r, g)
            r &= 0xFF
            b = (px & 0xFF) + _ct_delta(g2b, g) + _ct_delta(r2b, r)
            argb[pos] = (px & 0xFF00FF00) | (r << 16) | (b & 0xFF)


def _inverse_subtract_green(argb: list[int]) -> None:
    for i, px in enumerate(argb):
        g = (px >> 8) & 0xFF
        r = (((px >> 16) & 0xFF) + g) & 0xFF
        b = ((px & 0xFF) + g) & 0xFF
        argb[i] = (px & 0xFF00FF00) | (r << 16) | b


def _palette_width_bits(palette_size: int) -> int:
    if palette_size <= 2:
        return 3  # 8 pixels / byte (1 bpp)
    if palette_size <= 4:
        return 2
    if palette_size <= 16:
        return 1
    return 0


def _inverse_color_indexing(argb: list[int], w: int, h: int,
                            palette: list[int], width_bits: int) -> list[int]:
    n = len(palette)
    if width_bits == 0:
        out = []
        for px in argb:
            idx = (px >> 8) & 0xFF
            if idx >= n:
                raise Vp8lError("VP8L: palette index out of range")
            out.append(palette[idx])
        return out
    bpp = 8 >> width_bits
    per = 1 << width_bits
    mask = (1 << bpp) - 1
    packed_w = (w + per - 1) >> width_bits
    out = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            packed = argb[y * packed_w + (x >> width_bits)]
            idx = ((packed >> 8) >> (bpp * (x & (per - 1)))) & mask
            if idx >= n:
                raise Vp8lError("VP8L: palette index out of range")
            out[y * w + x] = palette[idx]
    return out


# ------------------------------------------------------------- decoder

_CACHE_MUL = 0x1E35A7BD


def _decode_entropy_image(br: _BitReader, w: int, h: int) -> list[int]:
    """Entropy/tile sub-images are spatially coded with no transforms and
    no meta prefix image of their own (RFC 9649 §5.1)."""
    return _decode_spatial(br, w, h, is_level0=False)


def decode_vp8l(data: bytes) -> tuple[int, int, bool, list[int]]:
    """VP8L chunk payload → (width, height, has_alpha, ARGB pixel list).

    ``data`` starts at the signature byte 0x2F. Pixels are packed
    0xAARRGGBB ints in raster order."""
    if not data or data[0] != 0x2F:
        raise Vp8lError("VP8L: bad signature")
    br = _BitReader(data[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    has_alpha = bool(br.read_bit())
    if br.read(3) != 0:
        raise Vp8lError("VP8L: unknown version")
    if w * h > MAX_PIXELS:
        raise Vp8lError("VP8L: image exceeds pixel bound")
    argb = _decode_image_data_top(br, w, h)
    if len(argb) != w * h:
        raise Vp8lError("VP8L: pixel count mismatch")
    return w, h, has_alpha, argb


def _decode_image_data_top(br: _BitReader, w: int, h: int) -> list[int]:
    """Level-0 wrapper that tracks the color-indexing width change so the
    inverse unbundle knows the TRUE width (the packed image is decoded at
    the bundled width)."""
    true_w = w
    transforms: list[tuple] = []
    seen = set()
    while br.read_bit():
        ttype = br.read(2)
        if ttype in seen:
            raise Vp8lError("VP8L: duplicate transform")
        seen.add(ttype)
        if ttype in (0, 1):  # PREDICTOR / COLOR share the tile shape
            bits = br.read(3) + 2
            tw, th = ((w + (1 << bits) - 1) >> bits,
                      (h + (1 << bits) - 1) >> bits)
            tiles = _decode_entropy_image(br, tw, th)
            transforms.append(
                ("predictor" if ttype == 0 else "color", bits, tiles)
            )
        elif ttype == 2:
            transforms.append(("subtract_green",))
        else:
            n = br.read(8) + 1
            raw = _decode_entropy_image(br, n, 1)
            palette = []
            prev = 0
            for px in raw:
                prev = _add_pixels(prev, px)
                palette.append(prev)
            width_bits = _palette_width_bits(n)
            transforms.append(("color_indexing", width_bits, palette))
            if width_bits:
                w = (w + (1 << width_bits) - 1) >> width_bits

    argb = _decode_spatial(br, w, h, is_level0=True)

    for t in reversed(transforms):
        if t[0] == "predictor":
            _inverse_predictor(argb, w, h, t[2], t[1])
        elif t[0] == "color":
            _inverse_color_transform(argb, w, h, t[2], t[1])
        elif t[0] == "subtract_green":
            _inverse_subtract_green(argb)
        else:
            argb = _inverse_color_indexing(argb, true_w, h, t[2], t[1])
            w = true_w
    return argb


def _decode_spatial(br: _BitReader, w: int, h: int, is_level0: bool) -> list[int]:
    """Spatially-coded image: cache info, prefix groups (meta tiling at
    level 0), then the literal/LZ77/cache symbol stream."""
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not (1 <= cache_bits <= 11):
            raise Vp8lError("VP8L: bad color-cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta_tiles: list[int] | None = None
    meta_bits = 0
    num_groups = 1
    if is_level0 and br.read_bit():
        meta_bits = br.read(3) + 2
        mw, mh = ((w + (1 << meta_bits) - 1) >> meta_bits,
                  (h + (1 << meta_bits) - 1) >> meta_bits)
        meta_tiles = [((px >> 8) & 0xFFFF) for px in
                      _decode_entropy_image(br, mw, mh)]
        num_groups = max(meta_tiles) + 1

    green_alpha = 256 + 24 + cache_size
    groups = []
    for _ in range(num_groups):
        groups.append((
            _read_prefix_code(br, green_alpha),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 40),
        ))

    cache = [0] * cache_size
    shift = 32 - cache_bits if cache_bits else 0
    npix = w * h
    argb: list[int] = []
    tiles_w = ((w + (1 << meta_bits) - 1) >> meta_bits) if meta_tiles else 0

    while len(argb) < npix:
        pos = len(argb)
        if meta_tiles is not None:
            x, y = pos % w, pos // w
            g = groups[meta_tiles[(y >> meta_bits) * tiles_w + (x >> meta_bits)]]
        else:
            g = groups[0]
        s = g[0].decode(br)
        if s < 256:
            red = g[1].decode(br)
            blue = g[2].decode(br)
            alpha = g[3].decode(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            argb.append(px)
            if cache_size:
                cache[((_CACHE_MUL * px) & 0xFFFFFFFF) >> shift] = px
        elif s < 280:
            length = _prefix_value(s - 256, br)
            dist_code = _prefix_value(g[4].decode(br), br)
            dist = _map_distance(dist_code, w)
            if dist > pos or length > npix - pos:
                raise Vp8lError("VP8L: backward reference out of range")
            for _ in range(length):
                px = argb[len(argb) - dist]
                argb.append(px)
                if cache_size:
                    cache[((_CACHE_MUL * px) & 0xFFFFFFFF) >> shift] = px
        else:
            if not cache_size or s - 280 >= cache_size:
                raise Vp8lError("VP8L: cache index without cache")
            argb.append(cache[s - 280])
    return argb


# --------------------------------------------------------- container


def decode_webp_gray(data: bytes) -> tuple[int, int, bytes]:
    """Full WebP container → visual 8-bit grayscale (ITU-R 601 integer
    luma) for LOSSLESS (VP8L) payloads; lossy (``VP8 ``) key frames
    dispatch to the codec_vp8 decoder (Y plane = luma)."""
    if len(data) < 16 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise Vp8lError("WebP: bad container")
    pos = 12
    while pos + 8 <= len(data):
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        payload = data[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8L":
            w, h, _, argb = decode_vp8l(payload)
            px = np.asarray(argb, dtype=np.uint32)
            r = (px >> 16) & 0xFF
            g = (px >> 8) & 0xFF
            b = px & 0xFF
            luma = ((77 * r + 150 * g + 29 * b) >> 8).astype(np.uint8)
            return w, h, luma.tobytes()
        if fourcc == b"VP8 ":
            # lossy key frames decode in-engine too (codec_vp8 —
            # conformance-verified byte-for-byte against the system
            # libwebp); the Y plane is the BT.601 luma directly
            from gnosis_ocr_spark.functions.codec_vp8 import decode_vp8_gray

            return decode_vp8_gray(payload)
        pos += 8 + size + (size & 1)
    raise Vp8lError("WebP: no VP8L/VP8 bitstream chunk")


# ------------------------------------------------------------- encoder


def _huffman_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Canonical-ready code lengths from frequencies (plain Huffman; the
    fixture histograms never exceed the length cap — asserted)."""
    import heapq

    items = [(f, s) for s, f in freqs.items() if f]
    if not items:
        raise Vp8lError("empty histogram")
    if len(items) == 1:
        return {items[0][1]: 1}
    heap = [(f, len(items) + i, (s,)) for i, (f, s) in enumerate(items)]
    heapq.heapify(heap)
    depth = {s: 0 for _, s in items}
    uid = 2 * len(items)
    while len(heap) > 1:
        f1, _, g1 = heapq.heappop(heap)
        f2, _, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        uid += 1
        heapq.heappush(heap, (f1 + f2, uid, g1 + g2))
    if max(depth.values()) > max_len:
        raise Vp8lError("fixture histogram exceeds prefix-length cap")
    return depth


def _write_simple_code(bw: _BitWriter, symbols: list[int]) -> dict[int, tuple[int, int]]:
    """Emit a simple prefix code (1-2 symbols, each < 256) and return the
    symbol → (code, length) map (listed order, per spec)."""
    bw.write(1, 1)
    bw.write(len(symbols) - 1, 1)
    first = symbols[0]
    if first <= 1:
        bw.write(0, 1)
        bw.write(first, 1)
    else:
        bw.write(1, 1)
        bw.write(first, 8)
    if len(symbols) == 1:
        return {first: (0, 0)}
    bw.write(symbols[1], 8)
    return {symbols[0]: (0, 1), symbols[1]: (1, 1)}


def _write_normal_code(bw: _BitWriter, lengths: dict[int, int],
                       alphabet_size: int) -> dict[int, tuple[int, int]]:
    """Emit a normal (code-length-coded) prefix code; returns the
    canonical symbol → (code, length) map."""
    bw.write(0, 1)  # not simple
    last_used = max(lengths)
    full = [lengths.get(s, 0) for s in range(alphabet_size)]
    # code-length code over the lengths actually transmitted
    cl_freq: dict[int, int] = {}
    for ln in full[: last_used + 1]:
        cl_freq[ln] = cl_freq.get(ln, 0) + 1
    if len(cl_freq) == 1:
        # degenerate cl histogram: add a guaranteed-present second symbol
        # (length 0 exists whenever the alphabet has unused entries)
        only = next(iter(cl_freq))
        cl_lengths = {only: 1, (0 if only else 1): 1}
    else:
        cl_lengths = _huffman_lengths(cl_freq, max_len=7)
    num_cl = max(4, 1 + max(_CL_ORDER.index(s) for s in cl_lengths))
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths.get(_CL_ORDER[i], 0), 3)
    cl_codes = _canonical_codes(
        [cl_lengths.get(s, 0) for s in range(19)]
    )
    # short form: transmit exactly last_used+1 entries
    n_transmit = last_used + 1
    if n_transmit >= 2:
        bw.write(1, 1)
        length_nbits = max(2, (n_transmit - 2).bit_length())
        if length_nbits % 2:
            length_nbits += 1
        bw.write((length_nbits - 2) // 2, 3)
        bw.write(n_transmit - 2, length_nbits)
    else:
        bw.write(0, 1)
    for ln in full[:n_transmit]:
        code, nbits = cl_codes[ln]
        bw.write_code(code, nbits)
    return _canonical_codes(full)


def _emit_prefix_code(bw: _BitWriter, freqs: dict[int, int],
                      alphabet_size: int) -> dict[int, tuple[int, int]]:
    used = sorted(s for s, f in freqs.items() if f)
    if 1 <= len(used) <= 2 and all(s < 256 for s in used):
        return _write_simple_code(bw, used)
    lengths = _huffman_lengths(freqs)
    if len(used) == 1:  # normal path needs ≥2 distinct lengths anyway
        return _write_simple_code(bw, used) if used[0] < 256 else \
            _write_normal_code(bw, {used[0]: 1}, alphabet_size)
    return _write_normal_code(bw, lengths, alphabet_size)


def _tokenize(pixels: list[int], w: int, rle: bool, cache_bits: int):
    """Pixel list → symbol stream: ('lit', px) / ('copy', length) (always
    distance code 2 = previous pixel) / ('cache', idx)."""
    tokens = []
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [None] * cache_size
    shift = 32 - cache_bits if cache_bits else 0
    i = 0
    n = len(pixels)
    while i < n:
        px = pixels[i]
        if rle and i > 0 and px == pixels[i - 1]:
            run = 1
            while i + run < n and pixels[i + run] == px and run < 4096:
                run += 1
            tokens.append(("copy", run))
            if cache_size:
                h = ((_CACHE_MUL * px) & 0xFFFFFFFF) >> shift
                cache[h] = px
            i += run
            continue
        if cache_size:
            h = ((_CACHE_MUL * px) & 0xFFFFFFFF) >> shift
            if cache[h] == px:
                tokens.append(("cache", h))
                i += 1
                continue
            cache[h] = px
        tokens.append(("lit", px))
        i += 1
    return tokens


def _encode_spatial(bw: _BitWriter, pixels: list[int], w: int,
                    rle: bool, cache_bits: int,
                    is_level0: bool = True) -> None:
    """Cache info + one prefix-code group + the symbol stream. The meta
    prefix-image bit exists only at level 0 (entropy sub-images skip it,
    RFC 9649 §5.1) — writing it unconditionally shifts every sub-image
    stream by one bit."""
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if is_level0:
        bw.write(0, 1)  # no meta prefix image

    tokens = _tokenize(pixels, w, rle, cache_bits)
    green_alpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    gf: dict[int, int] = {}
    rf: dict[int, int] = {}
    bf: dict[int, int] = {}
    af: dict[int, int] = {}
    df: dict[int, int] = {}
    for kind, v in tokens:
        if kind == "lit":
            gf[(v >> 8) & 0xFF] = gf.get((v >> 8) & 0xFF, 0) + 1
            rf[(v >> 16) & 0xFF] = rf.get((v >> 16) & 0xFF, 0) + 1
            bf[v & 0xFF] = bf.get(v & 0xFF, 0) + 1
            af[(v >> 24) & 0xFF] = af.get((v >> 24) & 0xFF, 0) + 1
        elif kind == "copy":
            code, _, _ = _value_to_prefix(v)
            gf[256 + code] = gf.get(256 + code, 0) + 1
            df[1] = df.get(1, 0) + 1  # distance prefix symbol 1 → value 2
        else:
            gf[280 + v] = gf.get(280 + v, 0) + 1
    if not rf:  # all-copy/cache degenerate: give channel codes one symbol
        rf, bf, af = {0: 1}, {0: 1}, {255: 1}
    if not df:
        df = {0: 1}

    gc = _emit_prefix_code(bw, gf, green_alpha)
    rc = _emit_prefix_code(bw, rf, 256)
    bc = _emit_prefix_code(bw, bf, 256)
    ac = _emit_prefix_code(bw, af, 256)
    dc = _emit_prefix_code(bw, df, 40)

    for kind, v in tokens:
        if kind == "lit":
            code, n = gc[(v >> 8) & 0xFF]
            bw.write_code(code, n)
            code, n = rc[(v >> 16) & 0xFF]
            bw.write_code(code, n)
            code, n = bc[v & 0xFF]
            bw.write_code(code, n)
            code, n = ac[(v >> 24) & 0xFF]
            bw.write_code(code, n)
        elif kind == "copy":
            lcode, extra, nbits = _value_to_prefix(v)
            code, n = gc[256 + lcode]
            bw.write_code(code, n)
            bw.write(extra, nbits)
            code, n = dc[1]  # distance value 2 → 2-D code (1, 0) = prev px
            bw.write_code(code, n)
        else:
            code, n = gc[280 + v]
            bw.write_code(code, n)


def encode_vp8l_gray(
    gray: bytes,
    width: int,
    height: int,
    subtract_green: bool = True,
    predictor: bool = False,
    palette: bool = False,
    rle: bool = False,
    cache_bits: int = 0,
) -> bytes:
    """8-bit grayscale → a spec-valid VP8L chunk payload. Options pick
    which decoder paths the stream exercises: subtract-green / mode-1
    predictor tiles / color-indexing with pixel bundling / distance-code
    LZ77 runs / a color cache."""
    g = np.frombuffer(gray, dtype=np.uint8).reshape(height, width)
    bw = _BitWriter()
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version

    if palette:
        values = sorted(set(gray))
        if len(values) > 256:
            raise Vp8lError("palette fixture needs ≤256 distinct values")
        lut = {v: i for i, v in enumerate(values)}
        n = len(values)
        bw.write(1, 1)
        bw.write(3, 2)  # COLOR_INDEXING
        bw.write(n - 1, 8)
        # palette entries, delta-coded, as a 1×n literal image
        entries = [0xFF000000 | (v << 16) | (v << 8) | v for v in values]
        deltas = []
        prev = 0
        for e in entries:
            d = 0
            for shift in (24, 16, 8, 0):
                d |= ((((e >> shift) & 0xFF) - ((prev >> shift) & 0xFF)) & 0xFF) << shift
            deltas.append(d)
            prev = e
        _encode_spatial(bw, deltas, n, rle=False, cache_bits=0,
                        is_level0=False)
        bw.write(0, 1)  # no more transforms
        width_bits = _palette_width_bits(n)
        if width_bits:
            per = 1 << width_bits
            bpp = 8 >> width_bits
            packed_w = (width + per - 1) >> width_bits
            px: list[int] = []
            for y in range(height):
                for bx in range(packed_w):
                    v = 0
                    for k in range(per):
                        x = bx * per + k
                        if x < width:
                            v |= lut[g[y, x]] << (bpp * k)
                    px.append(0xFF000000 | (v << 8))
            _encode_spatial(bw, px, packed_w, rle, cache_bits)
        else:
            px = [0xFF000000 | (lut[v] << 8) for v in g.reshape(-1)]
            _encode_spatial(bw, px, width, rle, cache_bits)
        return b"\x2f" + bw.finish()

    # ARGB pixels (gray → r=g=b)
    px = [0xFF000000 | (int(v) << 16) | (int(v) << 8) | int(v)
          for v in g.reshape(-1)]
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # SUBTRACT_GREEN
        out = []
        for p in px:
            gg = (p >> 8) & 0xFF
            r = (((p >> 16) & 0xFF) - gg) & 0xFF
            b = ((p & 0xFF) - gg) & 0xFF
            out.append((p & 0xFF00FF00) | (r << 16) | b)
        px = out
    if predictor:
        bits = 4  # 16×16 tiles, every tile mode 1 (Left)
        bw.write(1, 1)
        bw.write(0, 2)  # PREDICTOR
        bw.write(bits - 2, 3)
        tw = (width + (1 << bits) - 1) >> bits
        th = (height + (1 << bits) - 1) >> bits
        tiles = [0xFF000000 | (1 << 8)] * (tw * th)  # mode in GREEN
        _encode_spatial(bw, tiles, tw, rle=False, cache_bits=0,
                        is_level0=False)
        res = []
        for pos, p in enumerate(px):
            y, x = divmod(pos, width)
            if pos == 0:
                pred = _PRED_BLACK
            elif y == 0:
                pred = px[pos - 1]
            elif x == 0:
                pred = px[pos - width]
            else:
                pred = px[pos - 1]  # mode 1 everywhere
            d = 0
            for shift in (24, 16, 8, 0):
                d |= ((((p >> shift) & 0xFF) - ((pred >> shift) & 0xFF)) & 0xFF) << shift
            res.append(d)
        px = res
    bw.write(0, 1)  # no more transforms
    _encode_spatial(bw, px, width, rle, cache_bits)
    return b"\x2f" + bw.finish()


def encode_webp_lossless_gray(gray: bytes, width: int, height: int,
                              **kwargs) -> bytes:
    """Full RIFF/WebP container around :func:`encode_vp8l_gray`."""
    vp8l = encode_vp8l_gray(gray, width, height, **kwargs)
    chunk = b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
    if len(vp8l) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
