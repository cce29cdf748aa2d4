"""Media container metadata plus the GIF and BMP pixel decoders —
stdlib/numpy, public specs.

- **WAV** (RIFF/WAVE, Microsoft spec): fmt chunk → channels/sample-rate/
  bits; data chunk size → duration.
- **MP4** (ISO 14496-12 box structure): walk top-level boxes → moov/mvhd →
  timescale + duration (version 0 and 1 boxes). The section's
  ``_walk_boxes`` iterator is the one box walker: the mvhd lookup and the
  HEIF/AVIF ``meta`` → ``ispe`` parse both use it.
- **GIF** (GIF87a/89a): logical-screen dims, global palette, and a full
  LZW decoder for the first image frame (LSB-first variable-width codes —
  note this is the OPPOSITE bit order from PDF's /LZWDecode) with
  interlace handling; palette maps to 8-bit grayscale by luma. A fixture
  encoder writes valid GIFs via the classic clear-code-per-symbol trick
  (no compression state, spec-legal), so round-trips are provable
  in-container.
- **BMP** pixel decode; **WebP**, **SVG** and **ICO** dimensions; **MP3**,
  **FLAC** and **Ogg** durations (see each section's header).

Every writer exists so tests can build REAL fixtures without external
tools; every parser degrades by raising ValueError (``media_metadata``
maps that to null fields, the image route to a blank page)."""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- WAV


def wav_info(data: bytes) -> tuple[int, int, int, float]:
    """(channels, sample_rate, bits_per_sample, duration_sec) from RIFF/WAVE
    chunks. Raises ValueError on non-WAV or malformed chunk layout."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    data_size = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            _, ch, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            fmt = (ch, rate, bits)
        elif cid == b"data":
            data_size = size
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data_size is None:
        raise ValueError("missing fmt/data chunk")
    ch, rate, bits = fmt
    byte_rate = ch * rate * max(bits // 8, 1)
    if byte_rate == 0:
        raise ValueError("zero byte rate")
    return ch, rate, bits, data_size / byte_rate


def build_wav(
    samples: np.ndarray, sample_rate: int = 16000, channels: int = 1
) -> bytes:
    """Fixture writer: float [-1,1] samples → 16-bit PCM mono/interleaved WAV."""
    pcm = np.clip(np.rint(np.asarray(samples) * 32767.0), -32768, 32767).astype(
        "<i2"
    ).tobytes()
    byte_rate = channels * sample_rate * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate,
                      channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------- MP4


def mp4_duration(data: bytes) -> float:
    """Duration in seconds from the moov/mvhd box (ISO 14496-12 §8.2.2,
    version 0 and 1). Raises ValueError when no mvhd is present or its
    body is too short for its version's fields."""

    def walk(start: int, end: int, depth: int = 0) -> float | None:
        if depth >= 8:
            return None
        for btype, bs, be in _walk_boxes(data, start, end):
            if btype == b"mvhd":
                body = data[bs:be]
                # version 1: 64-bit times, duration ends at byte 32
                long = bool(body) and body[0] == 1
                if len(body) < (32 if long else 20):
                    raise ValueError("truncated mvhd box")
                if long:
                    timescale, dur = struct.unpack(">IQ", body[20:32])
                else:
                    timescale, dur = struct.unpack(">II", body[12:20])
                if timescale == 0:
                    raise ValueError("zero timescale")
                return dur / timescale
            if btype == b"moov":
                found = walk(bs, be, depth + 1)
                if found is not None:
                    return found
        return None

    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF file")
    dur = walk(0, len(data))
    if dur is None:
        raise ValueError("no mvhd box")
    return dur


def _walk_boxes(buf: bytes, start: int, end: int):
    """Yield (fourcc, body_start, box_end) for each box in [start, end);
    handles 64-bit largesize and size-0 (to end) boxes, stops on corrupt
    sizes instead of looping."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", buf[pos : pos + 4])
        btype = buf[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                return
            (size,) = struct.unpack(">Q", buf[pos + 8 : pos + 16])
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            return
        yield btype, pos + hdr, pos + size
        pos += size


def _child(buf: bytes, start: int, end: int, fourcc: bytes):
    for bt, bs, be in _walk_boxes(buf, start, end):
        if bt == fourcc:
            return bs, be
    return None


def build_mp4(duration_sec: float, timescale: int = 1000) -> bytes:
    """Fixture writer: minimal valid ISO-BMFF file — ftyp + moov(mvhd)."""
    dur = int(round(duration_sec * timescale))
    mvhd_body = b"\x00" + b"\x00" * 3  # version 0 + flags
    mvhd_body += struct.pack(">II", 0, 0)  # creation/modification
    mvhd_body += struct.pack(">II", timescale, dur)
    mvhd_body += struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
    mvhd_body += b"\x00" * 10 + b"\x00" * 36 + b"\x00" * 24 + struct.pack(">I", 2)
    mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 512)
    return ftyp + moov


# ---------------------------------------------------------------- GIF


def gif_dimensions(data: bytes) -> tuple[int, int]:
    if data[:4] != b"GIF8" or len(data) < 10:
        raise ValueError("not a GIF")
    return struct.unpack("<HH", data[6:10])


def decode_gif_gray(data: bytes) -> tuple[int, int, bytes]:
    """Decode the FIRST image of a GIF87a/89a to 8-bit grayscale (palette
    mapped by integer luma): (width, height, pixels). LZW codes are
    LSB-first (the opposite of PDF /LZWDecode); interlaced images are
    de-interlaced."""
    w, h = gif_dimensions(data)
    flags = data[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = data[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            ix, iy, iw, ih = struct.unpack("<HHHH", data[pos + 1 : pos + 9])
            iflags = data[pos + 9]
            pos += 10
            pal = gct
            if iflags & 0x80:  # local palette
                n = 2 << (iflags & 0x07)
                pal = data[pos : pos + 3 * n]
                pos += 3 * n
            if pal is None:
                raise ValueError("no palette")
            interlaced = bool(iflags & 0x40)
            min_code_size = data[pos]
            pos += 1
            chunks = []
            while pos < len(data) and data[pos] != 0:
                ln = data[pos]
                chunks.append(data[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            indices = _gif_lzw_decode(b"".join(chunks), min_code_size)
            if len(indices) < iw * ih:
                raise ValueError("truncated GIF image data")
            idx = np.frombuffer(bytes(indices[: iw * ih]), dtype=np.uint8)
            p = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3).astype(np.uint32)
            luma = ((p[:, 0] * 299 + p[:, 1] * 587 + p[:, 2] * 114) // 1000).astype(
                np.uint8
            )
            img = luma[np.clip(idx, 0, len(luma) - 1)].reshape(ih, iw)
            if interlaced:
                out = np.zeros_like(img)
                rows = (
                    list(range(0, ih, 8)) + list(range(4, ih, 8))
                    + list(range(2, ih, 4)) + list(range(1, ih, 2))
                )
                for src, dst in enumerate(rows):
                    out[dst] = img[src]
                img = out
            return iw, ih, img.tobytes()
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block {b:#x}")
    raise ValueError("no image block")


def _gif_lzw_decode(data: bytes, min_code_size: int) -> bytearray:
    """GIF LZW: LSB-first variable-width codes, clear/EOI codes, table
    growth to 12 bits."""
    clear = 1 << min_code_size
    eoi = clear + 1

    def fresh() -> list[bytes | None]:
        t: list[bytes | None] = [bytes([i]) for i in range(clear)]
        t += [None, None]  # clear, eoi
        return t

    table = fresh()
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = fresh()
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if code < len(table) and table[code] is not None:
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError("bad LZW code")
            out += entry
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return out


def encode_gray_gif(pixels: bytes, width: int, height: int) -> bytes:
    """Fixture writer: 8-bit grayscale → GIF87a with a 256-gray palette,
    emitting a clear code before every pixel code (spec-legal, stateless —
    the classic uncompressed-GIF construction)."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    out = bytearray(b"GIF87a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | 0x07, 0, 0])  # GCT present, 256 entries
    for i in range(256):
        out += bytes([i, i, i])
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    min_code_size = 8
    clear = 1 << min_code_size  # 256
    eoi = clear + 1
    out.append(min_code_size)
    # 9-bit codes LSB-first: clear, px, clear, px, ..., eoi — the table
    # never grows past the initial width because of the repeated clears
    acc = 0
    nbits = 0
    stream = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += 9
        while nbits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    for px in pixels:
        emit(px)
        emit(clear)
    emit(eoi)
    if nbits:
        stream.append(acc & 0xFF)
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


# ---------------------------------------------------------------- BMP


def bmp_dimensions(data: bytes) -> tuple[int, int]:
    """Windows BMP (BITMAPINFOHEADER family) width/height; height is
    |biHeight| (negative marks top-down row order)."""
    if len(data) < 26 or data[:2] != b"BM":
        raise ValueError("BMP: bad header")
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size == 12:  # OS/2 BITMAPCOREHEADER: 16-bit dims
        w, h = struct.unpack_from("<HH", data, 18)
        return w, h
    if hdr_size < 40:
        raise ValueError("BMP: unknown DIB header")
    w, h = struct.unpack_from("<ii", data, 18)
    return w, abs(h)


def decode_bmp_gray(data: bytes) -> tuple[int, int, bytes]:
    """Uncompressed (BI_RGB) 1/4/8-bit palette / 24-bit / 32-bit BMP →
    visual 8-bit grayscale (integer ITU-R 601 luma). Rows are 4-byte
    padded and bottom-up unless biHeight < 0."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("BMP: bad header")
    (px_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise ValueError("BMP: core-header pixels unsupported")
    w, h_signed = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (comp,) = struct.unpack_from("<I", data, 30)
    (clr_used,) = struct.unpack_from("<I", data, 46)
    top_down = h_signed < 0
    h = abs(h_signed)
    if w <= 0 or h == 0 or w * h > 50_000_000:
        raise ValueError("BMP: bad dimensions")
    if comp != 0:  # BI_RGB only; RLE/bitfields are a vanishing crawl tail
        raise ValueError(f"BMP: compression {comp} unsupported")
    if bpp not in (1, 4, 8, 24, 32):
        raise ValueError(f"BMP: {bpp}-bpp unsupported")
    stride = ((w * bpp + 31) // 32) * 4
    need = px_off + stride * h
    if need > len(data):
        raise ValueError("BMP: truncated pixel array")
    rows = np.frombuffer(
        data[px_off : px_off + stride * h], dtype=np.uint8
    ).reshape(h, stride)
    if not top_down:
        rows = rows[::-1]
    if bpp <= 8:
        n = clr_used or (1 << bpp)
        pal_off = 14 + hdr_size
        if pal_off + 4 * n > px_off or pal_off + 4 * n > len(data):
            raise ValueError("BMP: truncated palette")
        pal = np.frombuffer(
            data[pal_off : pal_off + 4 * n], dtype=np.uint8
        ).reshape(n, 4).astype(np.uint16)  # BGRA entries
        luma = ((29 * pal[:, 0] + 150 * pal[:, 1] + 77 * pal[:, 2]) >> 8
                ).astype(np.uint8)
        if bpp == 8:
            idx = rows[:, :w]
        elif bpp == 4:  # high nibble is the left pixel
            nib = np.empty((h, rows.shape[1] * 2), dtype=np.uint8)
            nib[:, 0::2] = rows >> 4
            nib[:, 1::2] = rows & 0x0F
            idx = nib[:, :w]
        else:  # 1-bpp: MSB is the left pixel
            idx = np.unpackbits(rows, axis=1)[:, :w]
        if idx.max(initial=0) >= n:
            raise ValueError("BMP: palette index out of range")
        return w, h, luma[idx].tobytes()
    ch = bpp // 8
    px = rows[:, : w * ch].reshape(h, w, ch).astype(np.uint16)  # BGR(A)
    luma = ((29 * px[:, :, 0] + 150 * px[:, :, 1] + 77 * px[:, :, 2]) >> 8
            ).astype(np.uint8)
    return w, h, luma.tobytes()


def encode_gray_bmp(pixels: bytes, width: int, height: int) -> bytes:
    """Fixture writer: 8-bit grayscale → 8-bpp palette BMP (BI_RGB,
    bottom-up, gray-identity palette) — any BMP reader opens it."""
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    stride = (width + 3) & ~3
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, :width] = arr[::-1]  # bottom-up
    pal = bytearray()
    for v in range(256):
        pal += bytes((v, v, v, 0))  # BGRA gray identity
    px_off = 14 + 40 + len(pal)
    size = px_off + stride * height
    hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, px_off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 0, stride * height,
        2835, 2835, 256, 0,
    )
    return hdr + dib + bytes(pal) + rows.tobytes()


# ---------------------------------------------------------------- WebP


def webp_dimensions(data: bytes) -> tuple[int, int]:
    """WebP canvas dimensions — REAL header parse for all three container
    shapes (public RIFF/WebP spec): VP8X (extended: 24-bit canvas size
    minus one), VP8 (lossy: the keyframe start code + 14-bit dims), VP8L
    (lossless: signature 0x2F + two LSB-packed 14-bit dims minus one).
    Both pixel decodes are REAL: VP8L via codec_vp8l (the full
    Huffman/LZ77/transform stack) and lossy VP8 key frames via
    codec_vp8 (boolean-arithmetic DCT, conformance-verified
    byte-for-byte against the system libwebp)."""
    if len(data) < 30 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("WebP: bad container")
    fourcc = data[12:16]
    if fourcc == b"VP8X":
        w = int.from_bytes(data[24:27], "little") + 1
        h = int.from_bytes(data[27:30], "little") + 1
        return w, h
    if fourcc == b"VP8 ":
        # frame tag (3 B) must mark a keyframe; then 3-byte start code
        if data[23:26] != b"\x9d\x01\x2a":
            raise ValueError("WebP: missing VP8 keyframe start code")
        w = struct.unpack_from("<H", data, 26)[0] & 0x3FFF
        h = struct.unpack_from("<H", data, 28)[0] & 0x3FFF
        return w, h
    if fourcc == b"VP8L":
        if data[20] != 0x2F:
            raise ValueError("WebP: bad VP8L signature")
        bits = int.from_bytes(data[21:25], "little")
        return (bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1
    raise ValueError("WebP: unknown chunk " + fourcc.decode("latin-1"))


def build_webp_lossy_header(width: int, height: int) -> bytes:
    """Fixture: a VP8 (lossy) WebP whose header fields are spec-exact and
    whose coefficient payload is zero filler — dimension parsing and
    sniffing are REAL-testable; codec_vp8 decodes it as an all-default
    flat frame (the boolean decoder's zero-extension semantics)."""
    if not (0 < width <= 0x3FFF and 0 < height <= 0x3FFF):
        raise ValueError("WebP: dims out of 14-bit range")
    frame_tag = bytes((0x10, 0x00, 0x00))  # keyframe, version 0, show=1
    vp8 = frame_tag + b"\x9d\x01\x2a" + struct.pack("<HH", width, height)
    vp8 += b"\x00" * 16  # opaque filler in place of coefficient data
    if len(vp8) & 1:
        vp8 += b"\x00"
    riff = b"WEBP" + b"VP8 " + struct.pack("<I", len(vp8)) + vp8
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def build_webp_lossless_header(width: int, height: int) -> bytes:
    """Fixture: a VP8L WebP header (signature + LSB-packed dims)."""
    if not (0 < width <= 0x4000 and 0 < height <= 0x4000):
        raise ValueError("WebP: dims out of 14-bit range")
    bits = (width - 1) | ((height - 1) << 14)  # + alpha=0, version=0
    vp8l = b"\x2f" + bits.to_bytes(4, "little") + b"\x00" * 8
    if len(vp8l) & 1:
        vp8l += b"\x00"
    riff = b"WEBP" + b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


# ---------------------------------------------------------------- HEIF/AVIF
#
# HEIF (ISO 23008-12) and AVIF (AOM AVIF spec) are still-image containers
# over the same ISO-BMFF box grammar as MP4, so they share _walk_boxes.
# The metadata layer is REAL: ftyp brand dispatch, meta → pitm/iinf/iprp
# walk, ispe dimensions resolved through the ipma property-association
# table for the primary item. Pixel decode stays out, loudly: the coded
# payloads are HEVC (ITU H.265) / AV1 — entropy machinery far beyond the
# codecs shipped here — so heif_info never returns pixels and callers
# treat these types as metadata-only (exactly how video/mp4 is handled).

_HEIF_IMAGE_BRANDS = frozenset(
    {b"heic", b"heix", b"hevc", b"hevx", b"heim", b"heis", b"mif1"}
)
_AVIF_BRANDS = frozenset({b"avif", b"avis"})


def ftyp_brands(data: bytes) -> tuple[bytes, frozenset[bytes]]:
    """(major_brand, {major + compatible brands}) of an ISO-BMFF file."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF file")
    (size,) = struct.unpack(">I", data[:4])
    size = min(size, len(data))
    major = data[8:12]
    brands = {major}
    for off in range(16, size - 3, 4):
        brands.add(data[off : off + 4])
    return major, frozenset(brands)


def bmff_media_type(data: bytes) -> str:
    """image/avif, image/heif, or video/mp4 for an ISO-BMFF payload."""
    try:
        major, brands = ftyp_brands(data)
    except ValueError:
        return "application/octet-stream"
    if brands & _AVIF_BRANDS:
        return "image/avif"
    if major in _HEIF_IMAGE_BRANDS or brands & (_HEIF_IMAGE_BRANDS - {b"mif1"}):
        # mif1 as a mere COMPATIBLE brand is generic (any MIAF file) and
        # does not claim heif by itself; mif1 as the MAJOR brand does
        return "image/heif"
    return "video/mp4"


def _fullbox_body(buf: bytes, bs: int, be: int) -> tuple[int, int, int]:
    """(version, flags, body_start_after_fullbox_header)."""
    if bs + 4 > be:
        raise ValueError("truncated FullBox")
    ver = buf[bs]
    flags = int.from_bytes(buf[bs + 1 : bs + 4], "big")
    return ver, flags, bs + 4


MAX_HEIF_ITEMS = 4096  # hostile-input bound: iinf can claim 2^32 entries


def heif_info(data: bytes) -> dict:
    """HEIF/AVIF metadata: primary item dimensions via meta → pitm + ipma →
    ispe (ISO 23008-12 §6.2, ISO 14496-12 §8.11). Returns
    {major_brand, codec, width, height, rotation, n_items}; raises
    ValueError when the meta tree is absent or malformed — mutated box
    trees included (struct/index errors wrap to the contract)."""
    try:
        return _heif_info_impl(data)
    except (IndexError, KeyError, struct.error) as exc:
        raise ValueError(f"malformed HEIF boxes: {type(exc).__name__}") from exc


def _heif_info_impl(data: bytes) -> dict:
    major, _brands = ftyp_brands(data)
    meta = _child(data, 0, len(data), b"meta")
    if meta is None:
        raise ValueError("HEIF: no meta box")
    _, _, body = _fullbox_body(data, *meta)  # meta is a FullBox

    primary = None
    item_types: dict[int, bytes] = {}
    ipco_props: list[tuple[bytes, int, int]] = []
    assoc: dict[int, list[int]] = {}

    for bt, bs, be in _walk_boxes(data, body, meta[1]):
        if bt == b"pitm":
            ver, _, p = _fullbox_body(data, bs, be)
            if ver == 0:
                (primary,) = struct.unpack(">H", data[p : p + 2])
            else:
                (primary,) = struct.unpack(">I", data[p : p + 4])
        elif bt == b"iinf":
            ver, _, p = _fullbox_body(data, bs, be)
            if ver == 0:
                (count,) = struct.unpack(">H", data[p : p + 2])
                p += 2
            else:
                (count,) = struct.unpack(">I", data[p : p + 4])
                p += 4
            if count > MAX_HEIF_ITEMS:
                raise ValueError("HEIF: iinf entry count exceeds bound")
            for ibt, ibs, ibe in _walk_boxes(data, p, be):
                if ibt != b"infe":
                    continue
                iver, _, ip = _fullbox_body(data, ibs, ibe)
                if iver >= 2:
                    if iver == 2:
                        (iid,) = struct.unpack(">H", data[ip : ip + 2])
                        ip += 2
                    else:
                        (iid,) = struct.unpack(">I", data[ip : ip + 4])
                        ip += 4
                    ip += 2  # item_protection_index
                    item_types[iid] = data[ip : ip + 4]
        elif bt == b"iprp":
            ipco = _child(data, bs, be, b"ipco")
            if ipco is not None:
                for pbt, pbs, pbe in _walk_boxes(data, *ipco):
                    ipco_props.append((pbt, pbs, pbe))
            ipma_box = _child(data, bs, be, b"ipma")
            if ipma_box is not None:
                ver, flags, p = _fullbox_body(data, *ipma_box)
                (count,) = struct.unpack(">I", data[p : p + 4])
                p += 4
                if count > MAX_HEIF_ITEMS:
                    raise ValueError("HEIF: ipma entry count exceeds bound")
                for _ in range(count):
                    if ver == 0:
                        (iid,) = struct.unpack(">H", data[p : p + 2])
                        p += 2
                    else:
                        (iid,) = struct.unpack(">I", data[p : p + 4])
                        p += 4
                    acount = data[p]
                    p += 1
                    idxs = []
                    for _ in range(acount):
                        if flags & 1:
                            (v,) = struct.unpack(">H", data[p : p + 2])
                            p += 2
                            idxs.append(v & 0x7FFF)
                        else:
                            idxs.append(data[p] & 0x7F)
                            p += 1
                    assoc[iid] = idxs

    def _prop_for(item_id: int | None, fourcc: bytes):
        if item_id is not None and item_id in assoc:
            for idx in assoc[item_id]:  # 1-based into ipco
                if 1 <= idx <= len(ipco_props) and ipco_props[idx - 1][0] == fourcc:
                    return ipco_props[idx - 1]
        for prop in ipco_props:  # fallback: first such property
            if prop[0] == fourcc:
                return prop
        return None

    width = height = None
    ispe = _prop_for(primary, b"ispe")
    if ispe is not None:
        _, _, p = _fullbox_body(data, ispe[1], ispe[2])
        width, height = struct.unpack(">II", data[p : p + 8])

    rotation = 0
    irot = _prop_for(primary, b"irot")
    if irot is not None:
        rotation = (data[irot[1]] & 3) * 90

    codec_cc = item_types.get(primary) if primary is not None else None
    if codec_cc is None and item_types:
        codec_cc = next(iter(item_types.values()))
    codec = {
        b"hvc1": "hevc",
        b"av01": "av1",
        b"avc1": "avc",
        b"jpeg": "jpeg",
        b"grid": "grid",
    }.get(codec_cc, codec_cc.decode("ascii", "replace") if codec_cc else "unknown")

    if width is None:
        raise ValueError("HEIF: no ispe property (no dimensions)")
    return {
        "major_brand": major.decode("ascii", "replace"),
        "codec": codec,
        "width": int(width),
        "height": int(height),
        "rotation": rotation,
        "n_items": len(item_types),
    }


def build_heif(
    width: int,
    height: int,
    *,
    brand: bytes = b"heic",
    codec: bytes = b"hvc1",
    rotation: int = 0,
    payload: bytes = b"\x00" * 16,
) -> bytes:
    """Fixture writer: a structurally valid single-item HEIF/AVIF file —
    ftyp + meta(hdlr/pict, pitm, iinf/infe, iprp(ipco(ispe[,irot]) + ipma),
    iloc) + mdat. The coded payload is opaque filler (we never decode
    HEVC/AV1); every box follows ISO 14496-12 §8.11 / ISO 23008-12 §6.2 so
    conformant readers resolve the primary item and its ispe dimensions."""

    def box(fourcc: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + fourcc + body

    def full(fourcc: bytes, body: bytes, ver: int = 0, flags: int = 0) -> bytes:
        return box(fourcc, bytes((ver,)) + flags.to_bytes(3, "big") + body)

    ftyp = box(b"ftyp", brand + struct.pack(">I", 0) + brand + b"mif1")
    hdlr = full(b"hdlr", b"\x00" * 4 + b"pict" + b"\x00" * 12 + b"\x00")
    pitm = full(b"pitm", struct.pack(">H", 1))
    infe = full(b"infe", struct.pack(">H", 1) + b"\x00\x00" + codec + b"\x00", ver=2)
    iinf = full(b"iinf", struct.pack(">H", 1) + infe)
    props = [full(b"ispe", struct.pack(">II", width, height))]
    if codec == b"hvc1":
        # minimal HEVCDecoderConfigurationRecord (ISO 14496-15 §8.3.3.1):
        # version 1, Main profile/level placeholders, zero NAL arrays
        hvcc = bytes(
            [1, 0x01, 0x60, 0, 0, 0, 0xB0, 0, 0, 0, 0, 0, 0x5D]
        ) + bytes([0xF0, 0x00, 0xFC, 0xFD, 0xF8, 0xF8, 0, 0, 0x03, 0])
        props.append(box(b"hvcC", hvcc))
    elif codec == b"av01":
        # AV1CodecConfigurationRecord (AV1-ISOBMFF §2.3): marker+version,
        # seq_profile 0 / level 0, no initial presentation delay
        props.append(box(b"av1C", bytes([0x81, 0x00, 0x00, 0x00])))
    if rotation:
        props.append(box(b"irot", bytes(((rotation // 90) & 3,))))
    ipco = box(b"ipco", b"".join(props))
    n_assoc = len(props)
    ipma_entry = struct.pack(">H", 1) + bytes((n_assoc,)) + bytes(
        0x80 | (i + 1) for i in range(n_assoc)  # essential bit + 1-based idx
    )
    ipma = full(b"ipma", struct.pack(">I", 1) + ipma_entry)
    iprp = box(b"iprp", ipco + ipma)

    # iloc v0: 4-bit offset/length/base sizes (4,4,0,0), 1 item, file-offset
    # construction. Offset patched after meta size is known.
    iloc_body = bytearray(
        b"\x44\x00" + struct.pack(">H", 1)  # sizes + item_count
        + struct.pack(">H", 1)  # item_ID
        + struct.pack(">H", 0)  # data_reference_index
        + struct.pack(">H", 1)  # extent_count
        + struct.pack(">I", 0)  # extent_offset (patched)
        + struct.pack(">I", len(payload))
    )
    iloc = full(b"iloc", bytes(iloc_body))
    meta = full(b"meta", hdlr + pitm + iinf + iprp + iloc)
    mdat_off = len(ftyp) + len(meta) + 8
    # patch extent_offset: it sits 12 bytes before the end of meta
    meta = bytearray(meta)
    meta[-8:-4] = struct.pack(">I", mdat_off)
    return bytes(ftyp) + bytes(meta) + box(b"mdat", payload)


# ---------------------------------------------------------------- SVG
#
# SVG is XML, not a binary codec, but it IS a first-class crawl image
# format; the metadata layer (dimensions) lives here next to the other
# per-format parsers. Text extraction lives in operators/html_extract
# (extract_svg_text) since it shares the DOM-walking machinery.

import re as _re

_SVG_SNIFF_RE = _re.compile(
    rb"^\xef?\xbb?\xbf?\s*(?:<\?xml[^>]*\?>\s*)?"
    rb"(?:<!--.*?-->\s*|<!DOCTYPE[^>]*>\s*)*<svg[\s>]",
    _re.I | _re.S,
)
_SVG_TAG_RE = _re.compile(rb"<svg\b[^>]*>", _re.I | _re.S)
_SVG_LEN_RE = _re.compile(
    rb"""\b(width|height)\s*=\s*["']\s*([0-9.]+)\s*([a-z%]*)\s*["']""", _re.I
)
_SVG_VIEWBOX_RE = _re.compile(
    rb"""\bviewBox\s*=\s*["']\s*[-0-9.]+[\s,]+[-0-9.]+[\s,]+([0-9.]+)[\s,]+([0-9.]+)""",
    _re.I,
)
# CSS absolute-length units → px (CSS Values §6.2: 1in = 96px = 72pt = 6pc,
# 1in = 2.54cm); unitless/px pass through, % and font-relative units are
# context-dependent → treated as unresolvable
_SVG_UNIT_PX = {
    b"": 1.0, b"px": 1.0, b"pt": 96.0 / 72.0, b"pc": 16.0,
    b"in": 96.0, b"cm": 96.0 / 2.54, b"mm": 96.0 / 25.4,
}


def is_svg(data: bytes) -> bool:
    """True when the payload ROOT is an <svg> element (XML prolog/doctype/
    comments allowed before it) — inline SVG inside HTML does not match."""
    return bool(_SVG_SNIFF_RE.match(data[:2048]))


def svg_dimensions(data: bytes) -> tuple[int, int]:
    """(width, height) in CSS px from the root tag's width/height
    attributes (absolute units converted), falling back to the viewBox
    extent (SVG 1.1 §7.2). Raises ValueError when neither resolves."""
    m = _SVG_TAG_RE.search(data[:4096])
    if m is None:
        raise ValueError("SVG: no root tag")
    tag = m.group(0)
    dims: dict[bytes, int] = {}
    for name, num, unit in _SVG_LEN_RE.findall(tag):
        scale = _SVG_UNIT_PX.get(unit.lower())
        if scale is not None:
            dims[name.lower()] = int(round(float(num) * scale))
    if b"width" in dims and b"height" in dims:
        return dims[b"width"], dims[b"height"]
    vb = _SVG_VIEWBOX_RE.search(tag)
    if vb:
        return int(round(float(vb.group(1)))), int(round(float(vb.group(2))))
    raise ValueError("SVG: no width/height or viewBox")


def build_svg(width: int, height: int, texts: tuple[str, ...] = ()) -> bytes:
    """Fixture writer: a minimal valid SVG 1.1 document with the given
    pixel dimensions and optional <text> elements."""
    body = "".join(
        f'<text x="0" y="{16 * (i + 1)}">{t}</text>' for i, t in enumerate(texts)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" '
        f'height="{height}" viewBox="0 0 {width} {height}">{body}</svg>\n'
    ).encode("utf-8")


# ---------------------------------------------------------------- MP3
#
# MPEG audio (ISO 11172-3 / 13818-3) metadata: ID3v2 skip, frame-header
# walk, Xing/Info VBR frame count. Only HEADERS are parsed — bitrate,
# sample rate, channel mode, frame length — which is all duration needs;
# the entropy-coded audio payload stays out (same boundary class as
# video/mp4: container/framing real, codec out).

# bitrate kbps by [version_key][layer][index]; 0 = free-format (refused)
_MP3_BITRATES = {
    # MPEG-1: layer 1, 2, 3
    (1, 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    # MPEG-2/2.5: layer 1 and layers 2+3 share a table
    (2, 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_RATES = {
    3: (44100, 48000, 32000),  # MPEG-1 (version bits 11)
    2: (22050, 24000, 16000),  # MPEG-2 (10)
    0: (11025, 12000, 8000),  # MPEG-2.5 (00)
}
# samples per frame by (mpeg1?, layer)
_MP3_SPF = {(True, 1): 384, (True, 2): 1152, (True, 3): 1152,
            (False, 1): 384, (False, 2): 1152, (False, 3): 576}

MAX_MP3_FRAMES = 500_000  # hostile-input walk bound (~3.6 h at 26 ms/frame)


def _id3v2_size(data: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (syncsafe 28-bit size)."""
    if data[:3] != b"ID3" or len(data) < 10:
        return 0
    sz = ((data[6] & 0x7F) << 21) | ((data[7] & 0x7F) << 14) \
        | ((data[8] & 0x7F) << 7) | (data[9] & 0x7F)
    return 10 + sz + (10 if data[5] & 0x10 else 0)  # footer flag


def _mp3_frame(data: bytes, pos: int):
    """Parse one frame header at pos → (frame_len, sample_rate, spf,
    bitrate_kbps, mpeg1, layer) or None."""
    if pos + 4 > len(data) or data[pos] != 0xFF or (data[pos + 1] & 0xE0) != 0xE0:
        return None
    vbits = (data[pos + 1] >> 3) & 3
    if vbits == 1:
        return None  # reserved version
    layer = 4 - ((data[pos + 1] >> 1) & 3)
    if layer == 4:
        return None  # reserved layer
    mpeg1 = vbits == 3
    br_idx = data[pos + 2] >> 4
    sr_idx = (data[pos + 2] >> 2) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free-format / bad
    kbps = _MP3_BITRATES[(1 if mpeg1 else 2, layer)][br_idx]
    rate = _MP3_RATES[vbits][sr_idx]
    padding = (data[pos + 2] >> 1) & 1
    spf = _MP3_SPF[(mpeg1, layer)]
    if layer == 1:
        flen = (12 * kbps * 1000 // rate + padding) * 4
    else:
        flen = spf // 8 * kbps * 1000 // rate + padding
    return flen, rate, spf, kbps, mpeg1, layer


def is_mp3(data: bytes) -> bool:
    """True for an ID3v2-tagged or bare MPEG-audio stream (the first frame
    header must parse AND a second frame must follow it back-to-back — a
    lone 0xFFEx sync matches random binary far too often)."""
    pos = _id3v2_size(data)
    f = _mp3_frame(data, pos)
    if f is None:
        return False
    if data[:3] == b"ID3":
        return True  # explicit tag + one valid frame is decisive
    nxt = _mp3_frame(data, pos + f[0])
    return nxt is not None or pos + f[0] == len(data)


def mp3_info(data: bytes) -> dict:
    """{sample_rate, bitrate_kbps, layer, mpeg1, n_frames, duration_sec}
    by walking frame headers from after any ID3v2 tag. A Xing/Info header
    in the first frame supplies the frame count for VBR files; otherwise
    frames are counted directly (bounded by MAX_MP3_FRAMES, then
    extrapolated by mean frame length over the walked prefix)."""
    start = _id3v2_size(data)
    first = _mp3_frame(data, start)
    if first is None:
        raise ValueError("MP3: no valid frame header")
    flen, rate, spf, kbps, mpeg1, layer = first

    # Xing/Info: offset past side info (layer 3): MPEG-1 mono 17, stereo 32;
    # MPEG-2 mono 9, stereo 17
    n_frames = None
    if layer == 3:
        chan = (data[start + 3] >> 6) & 3
        side = (17 if chan == 3 else 32) if mpeg1 else (9 if chan == 3 else 17)
        xo = start + 4 + side
        if len(data) >= xo + 12 and data[xo : xo + 4] in (b"Xing", b"Info") \
                and data[xo + 7] & 1:
            n_frames = struct.unpack(">I", data[xo + 8 : xo + 12])[0]

    walked = 0
    pos = start
    if n_frames is None:
        while walked < MAX_MP3_FRAMES:
            f = _mp3_frame(data, pos)
            if f is None:
                break
            pos += f[0]
            walked += 1
        n_frames = walked
        if walked == MAX_MP3_FRAMES and pos < len(data):
            # bounded walk: extrapolate the tail by mean frame length
            mean = (pos - start) / walked
            n_frames = walked + int((len(data) - pos) / mean)
        if n_frames == 0:
            raise ValueError("MP3: no frames")
    return {
        "sample_rate": rate,
        "bitrate_kbps": kbps,
        "layer": layer,
        "mpeg1": mpeg1,
        "n_frames": n_frames,
        "duration_sec": n_frames * spf / rate,
    }


def build_mp3(n_frames: int, *, sample_rate: int = 32000, id3: bytes = b"") -> bytes:
    """Fixture writer: MPEG-1 Layer III, 128 kbps, mono frames with valid
    headers and zeroed payloads (the metadata layer never reads payload
    bytes), after an optional ID3v2 tag. At 32 kHz each frame is exactly
    1152/32000 s = 36 ms and 576 bytes (no padding), so durations are
    exact in milliseconds."""
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    hdr = bytes(
        (0xFF, 0xFB, (9 << 4) | (sr_idx << 2), 0xC0)
    )  # sync, MPEG-1 L3 no-CRC, 128 kbps, single-channel
    flen = 1152 // 8 * 128 * 1000 // sample_rate
    frame = hdr + b"\x00" * (flen - 4)
    tag = b""
    if id3:
        body = id3
        sz = len(body)
        tag = b"ID3\x04\x00\x00" + bytes(
            ((sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F)
        ) + body
    return tag + frame * n_frames


# ---------------------------------------------------------------- FLAC / Ogg
#
# FLAC (xiph.org format spec): the mandatory STREAMINFO metadata block
# carries sample rate (20 bits) and total samples (36 bits) → exact
# duration. Ogg (RFC 3533): pages are self-delimiting; duration comes
# from the LAST page's granule position against the codec's granule
# clock — Vorbis (identification header, its own rate) or Opus
# (OpusHead, 48 kHz clock minus pre-skip). Audio payload decode stays
# out for all three (same boundary as MP3/MP4).


def flac_info(data: bytes) -> dict:
    """{sample_rate, channels, bits, total_samples, duration_sec} from the
    STREAMINFO block (always first, per spec §'METADATA_BLOCK')."""
    if data[:4] != b"fLaC" or len(data) < 42:
        raise ValueError("not a FLAC stream")
    btype = data[4] & 0x7F
    if btype != 0:
        raise ValueError("FLAC: first metadata block is not STREAMINFO")
    si = data[8:42]  # 34-byte STREAMINFO body
    rate = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
    channels = ((si[12] >> 1) & 7) + 1
    bits = (((si[12] & 1) << 4) | (si[13] >> 4)) + 1
    total = ((si[13] & 0x0F) << 32) | struct.unpack(">I", si[14:18])[0]
    if rate == 0:
        raise ValueError("FLAC: zero sample rate")
    return {
        "sample_rate": rate,
        "channels": channels,
        "bits": bits,
        "total_samples": total,
        "duration_sec": total / rate,
    }


def build_flac(total_samples: int, *, sample_rate: int = 16000) -> bytes:
    """Fixture writer: fLaC + a last-block STREAMINFO declaring the given
    totals (no frames — the metadata layer never reads audio frames)."""
    si = bytearray(34)
    si[0:2] = struct.pack(">H", 4096)  # min block size
    si[2:4] = struct.pack(">H", 4096)  # max block size
    si[10] = (sample_rate >> 12) & 0xFF
    si[11] = (sample_rate >> 4) & 0xFF
    # si[12]: rate low nibble | channels-1 (0 = mono) | bits-1 top bit
    # (bits-1 = 15 → 16-bit, top bit 0); si[13]: bits-1 low nibble | the
    # 36-bit total's high nibble
    si[12] = ((sample_rate & 0xF) << 4) | (0 << 1) | ((15 >> 4) & 1)
    si[13] = ((15 & 0xF) << 4) | ((total_samples >> 32) & 0x0F)
    si[14:18] = struct.pack(">I", total_samples & 0xFFFFFFFF)
    return b"fLaC" + bytes((0x80,)) + b"\x00\x00\x22" + bytes(si)


def _ogg_pages(data: bytes):
    """Yield (header_type, granule, body_start, body_end) per RFC 3533."""
    pos = 0
    while pos + 27 <= len(data):
        if data[pos : pos + 4] != b"OggS" or data[pos + 4] != 0:
            pos = data.find(b"OggS", pos + 1)
            if pos < 0:
                return
            continue
        htype = data[pos + 5]
        (granule,) = struct.unpack("<q", data[pos + 6 : pos + 14])
        nseg = data[pos + 26]
        seg_table = data[pos + 27 : pos + 27 + nseg]
        if len(seg_table) < nseg:
            return
        body = pos + 27 + nseg
        blen = sum(seg_table)
        if body + blen > len(data):
            return
        yield htype, granule, body, body + blen
        pos = body + blen


def ogg_info(data: bytes) -> dict:
    """{codec, sample_rate, duration_sec} for an Ogg Vorbis/Opus stream:
    codec + clock from the first packet's identification header, duration
    from the last page's granule position (RFC 3533 §6; Opus granules run
    on a 48 kHz clock and subtract the OpusHead pre-skip, RFC 7845 §4)."""
    if data[:4] != b"OggS":
        raise ValueError("not an Ogg stream")
    codec = None
    rate = None
    pre_skip = 0
    last_granule = None
    for htype, granule, bs, be in _ogg_pages(data):
        body = data[bs:be]
        if codec is None:
            if body.startswith(b"\x01vorbis"):
                codec = "vorbis"
                (rate,) = struct.unpack("<I", body[12:16])
            elif body.startswith(b"OpusHead"):
                codec = "opus"
                (pre_skip,) = struct.unpack("<H", body[10:12])
                rate = 48000  # granule clock is always 48 kHz (RFC 7845)
            else:
                raise ValueError("Ogg: unrecognized first packet")
        if granule >= 0:
            last_granule = granule
    if codec is None or last_granule is None or not rate:
        raise ValueError("Ogg: no granule-bearing pages")
    samples = last_granule - (pre_skip if codec == "opus" else 0)
    return {
        "codec": codec,
        "sample_rate": rate,
        "duration_sec": max(samples, 0) / rate,
    }


def _ogg_page(serial: int, seq: int, htype: int, granule: int, body: bytes) -> bytes:
    segs = []
    rest = len(body)
    while True:
        segs.append(min(rest, 255))
        if segs[-1] < 255:
            break
        rest -= 255
    hdr = (
        b"OggS\x00" + bytes((htype,)) + struct.pack("<q", granule)
        + struct.pack("<I", serial) + struct.pack("<I", seq)
        + b"\x00\x00\x00\x00" + bytes((len(segs),)) + bytes(segs)
    )
    page = bytearray(hdr + body)
    # RFC 3533 CRC: polynomial 0x04c11db7, init 0, no reflection — compute
    # directly (zlib's reflected CRC is NOT the Ogg CRC)
    reg = 0
    for byte in bytes(page):
        reg ^= byte << 24
        for _ in range(8):
            reg = ((reg << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if reg & 0x80000000 else (reg << 1) & 0xFFFFFFFF
    page[22:26] = struct.pack("<I", reg)
    return bytes(page)


def build_ogg_opus(duration_ms: int, *, pre_skip: int = 312) -> bytes:
    """Fixture writer: OpusHead BOS page + one EOS page whose granule is
    pre_skip + duration_ms*48 (the 48 kHz granule clock), bodies empty of
    real audio (the metadata layer never reads packet payloads)."""
    head = (
        b"OpusHead" + bytes((1, 2)) + struct.pack("<H", pre_skip)
        + struct.pack("<I", 48000) + struct.pack("<h", 0) + bytes((0,))
    )
    granule = pre_skip + duration_ms * 48
    return _ogg_page(7, 0, 2, 0, head) + _ogg_page(7, 1, 4, granule, b"\x00")


def build_ogg_vorbis(total_samples: int, *, sample_rate: int = 8000) -> bytes:
    """Fixture writer: Vorbis identification BOS page + one EOS page whose
    granule is total_samples."""
    ident = (
        b"\x01vorbis" + struct.pack("<I", 0) + bytes((1,))
        + struct.pack("<I", sample_rate) + struct.pack("<iii", 0, 128000, 0)
        + bytes((0xB8, 1))
    )
    return _ogg_page(3, 0, 2, 0, ident) + _ogg_page(3, 1, 4, total_samples, b"\x00")


# ---------------------------------------------------------------- ICO
#
# Windows icon container — the favicon format every crawl fetches
# alongside pages. ICONDIR header + 16-byte entries; each image payload
# is either a PNG stream (modern, Vista+) or a header-less DIB
# (BITMAPINFOHEADER with DOUBLED height covering the XOR pixels plus the
# 1-bit AND mask). The 4-byte magic 00 00 01 00 is weak, so is_ico
# refines by structure (entry table in bounds) before a type is claimed —
# the same discipline as the RIFF/"BM" sniffs.

MAX_ICO_IMAGES = 64


def is_ico(data: bytes) -> bool:
    if len(data) < 6 + 16 or data[:4] != b"\x00\x00\x01\x00":
        return False
    (count,) = struct.unpack_from("<H", data, 4)
    if not 1 <= count <= MAX_ICO_IMAGES or len(data) < 6 + 16 * count:
        return False
    for i in range(count):
        size, off = struct.unpack_from("<II", data, 6 + 16 * i + 8)
        if size == 0 or off < 6 + 16 * count or off + size > len(data):
            return False
    return True


def ico_info(data: bytes) -> dict:
    """{"count", "images": [(w, h, size, offset), ...]} — entry dims of 0
    mean 256 per the format."""
    if not is_ico(data):
        raise ValueError("not an ICO file")
    (count,) = struct.unpack_from("<H", data, 4)
    images = []
    for i in range(count):
        base = 6 + 16 * i
        w = data[base] or 256
        h = data[base + 1] or 256
        size, off = struct.unpack_from("<II", data, base + 8)
        images.append((w, h, size, off))
    return {"count": count, "images": images}


def build_ico(
    images: list[tuple[np.ndarray, str]],
) -> bytes:
    """Fixture writer: [(gray (h,w) uint8, kind)] with kind in
    {'png', 'dib32', 'dib24', 'dib8'} → a spec-valid multi-image ICO."""
    if not 1 <= len(images) <= MAX_ICO_IMAGES:
        raise ValueError("ICO: 1-64 images")
    payloads = []
    for gray, kind in images:
        h, w = gray.shape
        if w > 256 or h > 256:
            raise ValueError("ICO: images cap at 256x256")
        if kind == "png":
            from gnosis_ocr_spark.functions.codec_png import encode_gray_png

            payloads.append(encode_gray_png(gray.tobytes(), w, h))
            continue
        bpp = {"dib32": 32, "dib24": 24, "dib8": 8}[kind]
        hdr = struct.pack(
            "<IiiHHIIiiII", 40, w, 2 * h, 1, bpp, 0, 0, 0, 0,
            256 if bpp == 8 else 0, 0,
        )
        body = bytearray(hdr)
        if bpp == 8:
            for v in range(256):  # identity gray palette (BGRA)
                body += bytes((v, v, v, 0))
        stride = ((w * bpp + 31) // 32) * 4
        flipped = gray[::-1]
        for y in range(h):
            row = bytearray()
            for x in range(w):
                v = int(flipped[y, x])
                if bpp == 8:
                    row.append(v)
                elif bpp == 24:
                    row += bytes((v, v, v))
                else:
                    row += bytes((v, v, v, 255))
            row += b"\x00" * (stride - len(row))
            body += row
        and_stride = ((w + 31) // 32) * 4
        body += b"\x00" * (and_stride * h)  # AND mask: fully opaque
        payloads.append(bytes(body))
    out = bytearray(struct.pack("<HHH", 0, 1, len(images)))
    off = 6 + 16 * len(images)
    for (gray, _), payload in zip(images, payloads):
        h, w = gray.shape
        out += bytes((w % 256, h % 256, 0, 0))
        out += struct.pack("<HHII", 1, 32, len(payload), off)
        off += len(payload)
    for p in payloads:
        out += p
    return bytes(out)
