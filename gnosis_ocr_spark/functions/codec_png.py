"""Minimal stdlib-only PNG encoder/decoder (public PNG spec, RFC 2083).

The reference rasterizes PDF pages to PNG at dpi=150 via poppler
(/root/reference/app/jobs.py:386-390, fmt='PNG'). Poppler/PIL are not
available in this container, so the rasterize stage produces *real* (valid,
decodable) grayscale PNGs whose pixels are a deterministic function of the
page text, and embeds the ground-truth page text in an iTXt chunk. The
deterministic stub OCR engine (operators/ocr.py) reads that chunk back — a
clearly-marked CI stand-in for the Nanonets-OCR-s model; the Spark-side
plumbing (schemas, batching, partitioning) is real and benchmarked.
"""

from __future__ import annotations

import struct
import zlib

_MAGIC = b"\x89PNG\r\n\x1a\n"
_KEYWORD = b"gnosis-stub-text"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


# dpi=150 US-letter raster dimensions — the reference's poppler output shape
# (/root/reference/app/jobs.py:386-390, dpi=150, fmt='PNG')
DPI150_SIZE = (1275, 1650)


def _pixels(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic grayscale pixels as filter-0 scanlines (numpy-vectorized;
    pure-Python fallback keeps the codec stdlib-only)."""
    seed = zlib.crc32(payload)
    try:
        import numpy as np

        # low-byte identity: (seed ^ (31x+17y) ^ pat) & 0xFF works entirely in
        # uint8/uint16 — avoids width*height int64 temporaries (the naive
        # formulation is memory-bandwidth-bound and kills multi-core scaling).
        # r6: compute IN PLACE into the scanline buffer (uint8 wrap-add ==
        # & 0xFF; broadcast_to replaces the np.tile copy) — 4.2 → 1.0 ms per
        # dpi150 page, byte-identical output (asserted against the old
        # formulation on edge payloads before landing).
        rows = np.empty((height, width + 1), dtype=np.uint8)
        rows[:, 0] = 0  # column 0 = filter type 0 (None)
        g = rows[:, 1:]
        x31 = ((np.arange(width, dtype=np.uint16) * 31) & 0xFF).astype(np.uint8)
        y17 = ((np.arange(height, dtype=np.uint16) * 17) & 0xFF).astype(np.uint8)
        np.add(y17[:, None], x31[None, :], out=g)
        g ^= np.uint8(seed & 0xFF)
        if payload:
            pat = np.frombuffer(payload, dtype=np.uint8)
            n = width * height
            reps = n // len(pat) + 1
            g ^= np.broadcast_to(pat, (reps, len(pat))).reshape(-1)[:n].reshape(
                height, width
            )
        return rows.tobytes()
    except ImportError:  # pragma: no cover - numpy is in this container
        rows = bytearray()
        for y in range(height):
            rows.append(0)
            for x in range(width):
                b = payload[(x + y * width) % len(payload)] if payload else 0
                rows.append((seed ^ (x * 31 + y * 17) ^ b) & 0xFF)
        return bytes(rows)


def encode_page_png(text: str, width: int = 64, height: int = 64) -> bytes:
    """Render ``text`` to a deterministic grayscale PNG.

    Pixels are a seeded pattern of the text bytes (so distinct pages get
    distinct images); the exact text rides along in an iTXt chunk (UTF-8 per
    the PNG spec — tEXt is Latin-1 only). Pass ``width/height = DPI150_SIZE``
    to produce pages with the reference's real raster cost/shape.
    """
    payload = text.encode("utf-8")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # 8-bit gray
    itxt = _KEYWORD + b"\x00" + b"\x00\x00" + b"\x00" + b"\x00" + payload
    return (
        _MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"iTXt", itxt)
        # level 1: the synthetic scanline pattern costs 7.4 ms/page to
        # deflate at level 6 vs 3.9 ms at level 1 (dpi150, measured r6),
        # and in the fused raster+OCR stage the bytes never leave the
        # Python worker — CPU per page is the only thing the level buys.
        # Pixels and the iTXt ground truth are unchanged (still a valid,
        # decodable PNG).
        + _chunk(b"IDAT", zlib.compress(_pixels(payload, width, height), 1))
        + _chunk(b"IEND", b"")
    )


def encode_gray_png(pixels: bytes, width: int, height: int) -> bytes:
    """Encode raw 8-bit grayscale pixels (row-major, len == width*height)
    as a valid PNG — pdf_split's re-encode of decoded image pages and the
    image fixtures' writer."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    try:
        import numpy as np

        # one vectorized interleave instead of a per-row Python loop
        # (~1-2 ms/page at dpi150 shapes); identical scanline bytes
        rows_a = np.empty((height, width + 1), dtype=np.uint8)
        rows_a[:, 0] = 0  # filter type 0
        rows_a[:, 1:] = np.frombuffer(pixels, dtype=np.uint8).reshape(
            height, width
        )
        rows = rows_a.tobytes()
    except ImportError:  # pragma: no cover - numpy is in this container
        buf = bytearray()
        for y in range(height):
            buf.append(0)  # filter type 0
            buf += pixels[y * width : (y + 1) * width]
        rows = bytes(buf)
    return (
        _MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(rows, 6))
        + _chunk(b"IEND", b"")
    )


def iter_chunks(png: bytes):
    """Yield ``(tag, data)`` for each chunk of a PNG byte string."""
    if png[:8] != _MAGIC:
        raise ValueError("not a PNG")
    off = 8
    while off + 8 <= len(png):
        (length,) = struct.unpack(">I", png[off : off + 4])
        tag = png[off + 4 : off + 8]
        data = png[off + 8 : off + 8 + length]
        yield tag, data
        off += 12 + length
        if tag == b"IEND":
            break


def decode_dimensions(png: bytes) -> tuple[int, int]:
    for tag, data in iter_chunks(png):
        if tag == b"IHDR":
            w, h = struct.unpack(">II", data[:8])
            return w, h
    raise ValueError("no IHDR")


def decode_pixels(png: bytes) -> bytes:
    """Return raw grayscale pixel bytes (filter-0 scanlines stripped).
    Inflate is bounded to the declared geometry — its caller, the OCR
    stub's decode_scan_png_text, runs it on every page PNG, and those can
    carry bytes lifted from crawled documents, so a zlib bomb behind a
    small IHDR must fail loudly, not MemoryError the executor (same
    rationale as decode_png_gray's bounded inflate below). The declared
    geometry is itself attacker-controlled, so it gets the same 50 MPix
    gate as the general decoder; and a first-IDAT inflate that comes up
    SHORT (multi-IDAT or truncated stream) raises — decode_png_gray,
    which concatenates all IDAT chunks, reads such files — never a
    silently short pixel buffer."""
    w, h = decode_dimensions(png)
    if w == 0 or h == 0 or w * h > 50_000_000:
        raise ValueError("unreasonable PNG dimensions")
    for tag, data in iter_chunks(png):
        if tag == b"IDAT":
            need = h * (w + 1)  # gray8 + one filter byte per scanline
            dec = zlib.decompressobj()
            try:
                raw = dec.decompress(data, need + 1)
            except zlib.error as exc:
                raise ValueError(f"bad IDAT stream: {exc}") from exc
            if len(raw) > need:
                raise ValueError("IDAT decompresses past expected size")
            if len(raw) < need:
                raise ValueError("truncated IDAT")
            out = bytearray()
            stride = w + 1
            for y in range(h):
                row = raw[y * stride : (y + 1) * stride]
                if row[0] != 0:
                    raise ValueError("only filter 0 supported")
                out += row[1:]
            return bytes(out)
    raise ValueError("no IDAT")


def decode_stub_text(png: bytes) -> str:
    """Read the ground-truth text embedded by :func:`encode_page_png`."""
    for tag, data in iter_chunks(png):
        if tag == b"iTXt" and data.startswith(_KEYWORD + b"\x00"):
            body = data[len(_KEYWORD) + 1 :]
            # compression flag, compression method, then lang\0 translated\0
            body = body[2:]
            body = body.split(b"\x00", 2)[2]
            return body.decode("utf-8")
    raise ValueError("no gnosis-stub-text iTXt chunk")


# ---------------------------------------------------------------------------
# scan-matrix pixels — the scanned-page ground-truth carrier
#
# A scanned PDF page is one raster image with no text layer; the reference
# rasterizes it with poppler and the OCR model reads the pixels
# (/root/reference/app/jobs.py:386-390, app/ocr_service.py:160-215). No OCR
# model runs in this container, so the scanned fixtures carry their ground
# truth IN the sample data itself: a 4-byte magic + big-endian length header
# followed by the UTF-8 text bytes as pixel values, padded with a
# deterministic background. The stub OCR "reads the pixels" by decoding this
# matrix — the same clearly-marked CI stand-in contract as the iTXt chunk on
# rendered pages (module docstring), applied to images that arrive as
# pixels rather than being rendered from a text layer.
# ---------------------------------------------------------------------------

SCAN_MAGIC = b"GSCN"


def encode_scan_pixels(text: str, width: int = 64, height: int = 64) -> bytes:
    """Raw 8-bit grayscale pixels (row-major) carrying ``text`` as a
    scan-matrix: GSCN + u32be length + UTF-8 bytes, deterministic background
    fill. Raises if the text does not fit the raster."""
    payload = text.encode("utf-8")
    head = SCAN_MAGIC + struct.pack(">I", len(payload))
    n = width * height
    if len(head) + len(payload) > n:
        raise ValueError(
            f"text ({len(payload)} bytes) does not fit a {width}x{height} scan"
        )
    rest = n - len(head) - len(payload)
    try:
        import numpy as np

        idx = np.arange(len(head) + len(payload), n, dtype=np.uint32)
        bg = (((idx % width) * 31 + (idx // width) * 17) ^ 0xA5).astype(np.uint8)
        return head + payload + bg.tobytes()
    except ImportError:  # pragma: no cover - numpy is in this container
        bg = bytearray(rest)
        for i in range(rest):
            j = len(head) + len(payload) + i
            bg[i] = (((j % width) * 31 + (j // width) * 17) ^ 0xA5) & 0xFF
        return head + payload + bytes(bg)


def decode_scan_text(pixels: bytes) -> str | None:
    """Invert :func:`encode_scan_pixels`; None when the buffer is not a
    scan-matrix (wrong magic, truncated, or invalid UTF-8)."""
    if pixels[:4] != SCAN_MAGIC or len(pixels) < 8:
        return None
    (n,) = struct.unpack(">I", pixels[4:8])
    if 8 + n > len(pixels):
        return None
    try:
        return pixels[8 : 8 + n].decode("utf-8")
    except UnicodeDecodeError:
        return None


def decode_scan_png_text(png: bytes) -> str | None:
    """Scan-matrix text from a grayscale PNG (the re-encoded form an image
    XObject takes after pdf_split decodes it): exact matrix first, then the
    JPEG-survivable robust matrix, then the bilevel (1-bit CCITT/raw
    scanned fax) matrix. None if not a scan page."""
    try:
        px = decode_pixels(png)
    except Exception:
        return None
    exact = decode_scan_text(px)
    if exact is not None:
        return exact
    robust = decode_scan_text_robust(px)
    if robust is not None:
        return robust
    return decode_scan_bits_gray(px)


# robust scan-matrix: the JPEG-survivable variant. Baseline JPEG round-trips
# pixels within a few levels (codec_jpeg, all-ones quant), so DCT scanned
# fixtures carry their ground truth one NIBBLE per pixel, each centered in a
# 16-level band (value = nibble*16 + 8): decode rounds to the band center and
# tolerates ±7 of codec noise. Half the density of the exact matrix
# (2 pixels/byte) — capacity 64×64 = 2043 bytes, ample for page text.

SCAN_ROBUST_MAGIC = b"GSRB"


def encode_scan_pixels_robust(text: str, width: int = 64, height: int = 64) -> bytes:
    payload = text.encode("utf-8")
    head = SCAN_ROBUST_MAGIC + struct.pack(">I", len(payload))
    nibbles = []
    for b in head + payload:
        nibbles.append(b >> 4)
        nibbles.append(b & 0xF)
    n = width * height
    if len(nibbles) > n:
        raise ValueError(
            f"text ({len(payload)} bytes) does not fit a {width}x{height} robust scan"
        )
    px = bytearray(n)
    for i, nib in enumerate(nibbles):
        px[i] = nib * 16 + 8
    for i in range(len(nibbles), n):  # deterministic background, in-band
        px[i] = ((((i % width) * 31 + (i // width) * 17) ^ 0xA5) & 0xF) * 16 + 8
    return bytes(px)


def decode_scan_text_robust(pixels: bytes) -> str | None:
    """Invert :func:`encode_scan_pixels_robust` tolerating ±7/pixel noise;
    None when the buffer is not a robust scan-matrix."""
    if len(pixels) < 16:
        return None

    def byte_at(i: int) -> int:
        return ((pixels[2 * i] // 16) << 4) | (pixels[2 * i + 1] // 16)

    if bytes(byte_at(i) for i in range(4)) != SCAN_ROBUST_MAGIC:
        return None
    (n,) = struct.unpack(">I", bytes(byte_at(4 + i) for i in range(4)))
    if 2 * (8 + n) > len(pixels):
        return None
    try:
        return bytes(byte_at(8 + i) for i in range(n)).decode("utf-8")
    except UnicodeDecodeError:
        return None


# bilevel scan-matrix: the 1-bit-survivable variant. CCITT-G4 / raw-1-bit
# scanned pages carry one BIT per pixel, so the ground truth is laid out as
# payload bits over the flat row-major pixel sequence: payload bit 1 ->
# black pixel. GSB1 magic + u32be length + UTF-8 bytes, deterministic
# in-band background. Capacity = width*height/8 - 8 bytes (128x128 = 2040).

SCAN_BITS_MAGIC = b"GSB1"


def encode_scan_bits(text: str, width: int = 128, height: int = 128) -> bytes:
    """Packed 1-bpp DeviceGray rows (stride = ceil(width/8), sample 0 =
    black) carrying ``text`` as a bilevel scan-matrix. Raises if the text
    does not fit the raster."""
    import numpy as np

    payload = text.encode("utf-8")
    data = SCAN_BITS_MAGIC + struct.pack(">I", len(payload)) + payload
    n = width * height
    if len(data) * 8 > n:
        raise ValueError(
            f"text ({len(payload)} bytes) does not fit a {width}x{height} "
            f"bilevel scan"
        )
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
    black = np.zeros(n, dtype=np.uint8)
    black[: len(bits)] = bits
    idx = np.arange(len(bits), n, dtype=np.uint32)
    black[len(bits):] = (((idx % width) * 31 + (idx // width) * 17) ^ 0xA5) & 1
    white = (black == 0).reshape(height, width)
    return np.packbits(white, axis=1).tobytes()  # DeviceGray: 1 = white


def decode_scan_bits_gray(pixels: bytes) -> str | None:
    """Invert :func:`encode_scan_bits` from 8-bit grayscale pixels (the
    post-unpack form: row padding already dropped, black pixels < 128).
    None when the buffer is not a bilevel scan-matrix."""
    import numpy as np

    arr = np.frombuffer(pixels, dtype=np.uint8)
    if len(arr) < 64:
        return None
    data = np.packbits(arr < 128).tobytes()
    if data[:4] != SCAN_BITS_MAGIC:
        return None
    (n,) = struct.unpack(">I", data[4:8])
    if 8 + n > len(data):
        return None
    try:
        return data[8 : 8 + n].decode("utf-8")
    except UnicodeDecodeError:
        return None


# ---------------------------------------------------------------------------
# general PNG decode — real crawl PNGs, not just this module's own output
#
# decode_pixels above is the fast internal path (filter-0 grayscale, the
# only shape our writers emit). Crawl PNGs use every filter type, RGB /
# palette / alpha color types, 1-16 bit depths, split IDATs, and Adam7
# interlacing; this decoder handles the full baseline.
# ---------------------------------------------------------------------------

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 pass geometry (spec §8.2): (x_start, x_step, y_start, y_step)
_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def _unfilter(raw: bytes, pos: int, h: int, stride: int, bpp: int):
    """Unfilter ``h`` scanlines of one (sub-)image starting at byte ``pos``
    (spec §9: None/Sub/Up/Average/Paeth per row). Returns (rows array of
    shape (h, stride), next pos)."""
    import numpy as np

    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[pos]
        row = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter {ftype}")
        out[y] = prev = np.frombuffer(bytes(row), dtype=np.uint8)
    return out, pos


def _rows_to_px(out, w: int, h: int, ch: int, depth: int, ctype: int):
    """Unfiltered scanline bytes (h, stride) → per-channel uint8 samples
    (h, w, ch); depths 1/2/4 scale to 8-bit except palette indices."""
    import numpy as np

    if depth == 8:
        return out[:, : w * ch].reshape(h, w, ch)
    if depth == 16:
        px = out.view(">u2")[:, : w * ch].reshape(h, w, ch)
        return (px >> 8).astype(np.uint8)  # high byte ≈ 8-bit value
    # 1/2/4-bit packed, big-endian within the byte
    bits = np.unpackbits(out, axis=1)[:, : w * ch * depth]
    vals = bits.reshape(h, w * ch, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    px = (vals * weights).sum(axis=2).astype(np.uint16)
    if ctype != 3:  # scale to 8-bit range (palette indices stay raw)
        px = (px * (255 // ((1 << depth) - 1))).astype(np.uint16)
    return px.reshape(h, w, ch).astype(np.uint8)


def decode_png_gray(png: bytes) -> tuple[int, int, bytes]:
    """(width, height, 8-bit grayscale pixels) for any baseline PNG:
    all five row filters, color types 0/2/3/4/6, bit depths 1/2/4/8/16,
    multiple IDAT chunks, PLTE palettes (mapped by integer luma), alpha
    dropped, Adam7 interlacing. Raises ValueError on malformed files."""
    import numpy as np

    ihdr = None
    idat = bytearray()
    plte = None
    for tag, data in iter_chunks(png):
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data[:13])
        elif tag == b"IDAT":
            idat += data
        elif tag == b"PLTE":
            plte = data
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if comp or filt or ctype not in _CHANNELS or depth not in (1, 2, 4, 8, 16):
        raise ValueError("malformed IHDR")
    if interlace not in (0, 1):
        raise ValueError("malformed IHDR")
    if w == 0 or h == 0 or w * h > 50_000_000:
        raise ValueError("unreasonable dimensions")
    ch = _CHANNELS[ctype]
    bpp = max(1, ch * depth // 8)
    # pass geometry: one full-image pass, or the seven Adam7 sub-images
    if interlace:
        passes = []
        for x0, dx, y0, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            passes.append((x0, dx, y0, dy, pw, ph))
    else:
        passes = [(0, 1, 0, 1, w, h)]
    # bounded decompress: a crafted "zip bomb" IDAT (small declared dims,
    # huge stream) must not MemoryError an executor — same hostile-input
    # rationale as codec_jpeg's MAX_PIXELS. Ask for exactly one byte past
    # the expected size; anything extra is malformed.
    need = sum(
        ph * ((ch * depth * pw + 7) // 8 + 1)
        for _, _, _, _, pw, ph in passes
        if pw and ph
    )
    dec = zlib.decompressobj()
    try:
        raw = dec.decompress(bytes(idat), need + 1)
    except zlib.error as exc:  # corrupt stream: keep the ValueError contract
        raise ValueError(f"bad IDAT stream: {exc}") from exc
    if len(raw) > need:
        raise ValueError("IDAT decompresses past expected size")
    if len(raw) < need:
        raise ValueError("truncated IDAT")
    px = np.zeros((h, w, ch), dtype=np.uint8)
    pos = 0
    for x0, dx, y0, dy, pw, ph in passes:
        if not pw or not ph:
            continue  # empty Adam7 pass contributes zero scanlines
        pstride = (ch * depth * pw + 7) // 8
        rows, pos = _unfilter(raw, pos, ph, pstride, bpp)
        px[y0::dy, x0::dx] = _rows_to_px(rows, pw, ph, ch, depth, ctype)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette image without PLTE")
        import numpy as _np

        pal = _np.frombuffer(plte, dtype=_np.uint8)
        pal = pal[: len(pal) // 3 * 3].reshape(-1, 3).astype(_np.uint32)
        luma = ((pal[:, 0] * 299 + pal[:, 1] * 587 + pal[:, 2] * 114) // 1000)
        idx = _np.clip(px[:, :, 0], 0, len(luma) - 1)
        gray = luma[idx].astype(_np.uint8)
    elif ctype in (0, 4):
        gray = px[:, :, 0]
    else:  # RGB / RGBA → integer luma
        rgb = px[:, :, :3].astype(np.uint32)
        gray = (
            (rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114)
            // 1000
        ).astype(np.uint8)
    return w, h, gray.tobytes()
