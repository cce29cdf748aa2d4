"""WAV/MP4/GIF/ICO codec tests (functions/codec_media.py), the PNG
decoders (functions/codec_png.py) and the real multimodal metadata they
unlock (round 4)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gnosis_ocr_spark.functions import codec_media as M


def test_wav_roundtrip_info_and_samples():
    t = np.linspace(0, 2, 32000, endpoint=False)
    sig = (0.25 * np.sin(2 * np.pi * 220 * t)).astype(np.float32)
    wav = M.build_wav(sig, 16000)
    ch, rate, bits, dur = M.wav_info(wav)
    assert (ch, rate, bits) == (1, 16000, 16)
    assert abs(dur - 2.0) < 1e-9
    with pytest.raises(ValueError):
        M.wav_info(b"RIFF\x00\x00\x00\x00WAVEjunk")
    with pytest.raises(ValueError):
        M.wav_info(b"not a wav")


def test_mp4_duration_box_walk():
    assert abs(M.mp4_duration(M.build_mp4(12.345)) - 12.345) < 1e-3
    assert abs(M.mp4_duration(M.build_mp4(0.5, timescale=90000)) - 0.5) < 1e-6
    with pytest.raises(ValueError):
        M.mp4_duration(b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00")  # no moov
    with pytest.raises(ValueError):
        M.mp4_duration(b"RIFFxxxx")


def test_mp4_duration_truncated_mvhd_raises_valueerror():
    """A consistent box tree whose mvhd body is too short for its version's
    fields — empty, cut inside the v0 duration, or a v1 flag over a v0-sized
    body — is a decode failure (ValueError), not struct.error/IndexError."""
    import struct

    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 512)
    full = M.build_mp4(2.5)[len(ftyp) + 16 :]  # mvhd body after its header
    for body in (b"", full[:14], b"\x01" + full[1:24]):
        mvhd = struct.pack(">I", 8 + len(body)) + b"mvhd" + body
        moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
        with pytest.raises(ValueError):
            M.mp4_duration(ftyp + moov)


def test_gif_gray_roundtrip_exact():
    px = bytes((x * 7 + 13) % 256 for x in range(40 * 25))
    gif = M.encode_gray_gif(px, 40, 25)
    assert M.gif_dimensions(gif) == (40, 25)
    w, h, out = M.decode_gif_gray(gif)
    # identity gray palette → the roundtrip is EXACT
    assert (w, h) == (40, 25) and out == px
    with pytest.raises(ValueError):
        M.decode_gif_gray(b"GIF8 garbage")


def test_gif_interlaced_decode():
    """Interlace pass reordering: rows land where the 4-pass schedule puts
    them, verified against a straight (non-interlaced) encode."""
    px = bytes((y * 16 + x) % 256 for y in range(16) for x in range(8))
    # image descriptor sits right after header(6) + LSD(7) + 256-entry
    # palette(768) — computed structurally, NOT via index() (0x2C occurs
    # inside the gray palette)
    desc = 6 + 7 + 768
    rows = [px[y * 8 : (y + 1) * 8] for y in range(16)]
    order = (
        list(range(0, 16, 8)) + list(range(4, 16, 8))
        + list(range(2, 16, 4)) + list(range(1, 16, 2))
    )
    stored = b"".join(rows[r] for r in order)
    inter = M.encode_gray_gif(stored, 8, 16)
    inter = bytearray(inter)
    inter[desc + 9] |= 0x40
    w, h, out = M.decode_gif_gray(bytes(inter))
    assert out == px


def test_multimodal_metadata_is_real_for_all_sniffed_types(spark):
    from gnosis_ocr_spark.functions.codec_jpeg import encode_gray_jpeg
    from gnosis_ocr_spark.functions.codec_png import encode_page_png
    from gnosis_ocr_spark.operators.multimodal import media_metadata

    from gnosis_ocr_spark.functions.codec_jpx import encode_jp2, encode_jpx

    wav = M.build_wav(np.zeros(8000, dtype=np.float32), 16000)
    j2arr = np.zeros((20, 35), dtype=np.uint8)
    rows = [
        ("png", bytearray(encode_page_png("x", 30, 20))),
        ("jpg", bytearray(encode_gray_jpeg(bytes(50 * 40), 50, 40))),
        ("gif", bytearray(M.encode_gray_gif(bytes(25 * 10), 25, 10))),
        ("wav", bytearray(wav)),
        ("mp4", bytearray(M.build_mp4(3.25))),
        ("jp2", bytearray(encode_jp2([j2arr]))),
        ("j2c", bytearray(encode_jpx([j2arr]))),  # raw codestream form
    ]
    df = spark.createDataFrame(rows, schema="url string, data binary")
    got = {r["url"]: r.asDict() for r in media_metadata(df).collect()}
    assert (got["png"]["width"], got["png"]["height"]) == (30, 20)
    assert (got["jpg"]["width"], got["jpg"]["height"]) == (50, 40)
    assert (got["gif"]["width"], got["gif"]["height"]) == (25, 10)
    assert got["wav"]["duration_sec"] == 0.5
    assert got["mp4"]["duration_sec"] == 3.25
    for k in ("jp2", "j2c"):
        assert got[k]["media_type"] == "image/jp2"
        assert (got[k]["width"], got[k]["height"]) == (35, 20)


def _foreign_png(w, h, depth, ctype, rows_raw, plte=None):
    """Hand-built PNG in a shape OUR writers never emit (foreign-crawl
    simulation): arbitrary filter types / color types / palettes."""
    import struct as _s
    import zlib as _z

    from gnosis_ocr_spark.functions import codec_png as G

    ihdr = _s.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
    out = G._MAGIC + G._chunk(b"IHDR", ihdr)
    if plte:
        out += G._chunk(b"PLTE", plte)
    # split the IDAT in two — multi-IDAT files are common in the wild
    z = _z.compress(rows_raw)
    return (out + G._chunk(b"IDAT", z[: len(z) // 2])
            + G._chunk(b"IDAT", z[len(z) // 2 :]) + G._chunk(b"IEND", b""))


def test_general_png_decoder_rgb_paeth_and_palette():
    """Real-crawl PNG shapes (RGB + Paeth filter, 1-bit palette, split
    IDATs) decode through codec_png.decode_png_gray."""
    from gnosis_ocr_spark.functions.codec_png import decode_png_gray

    w, h = 6, 4
    rgb = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w * 3)
    rows = bytearray()
    for y in range(h):
        rows.append(0)  # None filter keeps expected values trivial
        rows += rgb[y].tobytes()
    png = _foreign_png(w, h, 8, 2, bytes(rows))
    w2, h2, gray = decode_png_gray(png)
    lum = rgb.reshape(h, w, 3).astype(np.uint32)
    exp = ((lum[:, :, 0] * 299 + lum[:, :, 1] * 587 + lum[:, :, 2] * 114)
           // 1000).astype(np.uint8)
    assert (w2, h2) == (w, h) and gray == exp.tobytes()

    # Paeth-filtered grayscale roundtrip: filter math vs the spec formula
    gw, gh = 9, 5
    src = np.arange(gw * gh, dtype=np.uint8).reshape(gh, gw)
    rows = bytearray()
    prev = np.zeros(gw, dtype=int)
    for y in range(gh):
        rows.append(4)  # Paeth
        row = src[y].astype(int)
        enc = []
        for i in range(gw):
            a = row[i - 1] if i else 0
            b = prev[i]
            c = prev[i - 1] if i else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc.append((row[i] - pred) & 0xFF)
        rows += bytes(enc)
        prev = row
    png = _foreign_png(gw, gh, 8, 0, bytes(rows))
    assert decode_png_gray(png)[2] == src.tobytes()


def _adam7_png(src: np.ndarray) -> bytes:
    """Interlaced grayscale PNG of ``src`` (h, w) built BY HAND from the
    spec's pass geometry (filter-0 rows per sub-image) — an independent
    writer so the decoder isn't graded against itself."""
    import struct as _s
    import zlib as _z

    from gnosis_ocr_spark.functions import codec_png as G

    h, w = src.shape
    raw = bytearray()
    for x0, dx, y0, dy in ((0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8),
                           (2, 4, 0, 4), (0, 2, 2, 4), (1, 2, 0, 2),
                           (0, 1, 1, 2)):
        sub = src[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            raw.append(0)  # filter None
            raw += row.tobytes()
    ihdr = _s.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1)  # interlace=1
    return (G._MAGIC + G._chunk(b"IHDR", ihdr)
            + G._chunk(b"IDAT", _z.compress(bytes(raw)))
            + G._chunk(b"IEND", b""))


def test_general_png_decoder_adam7_interlace():
    """Adam7-interlaced crawl PNGs (round-4 VERDICT task #6) decode to the
    same pixels as the straight encoding — exercised at sizes that produce
    empty passes (w or h < 5) and partial final passes."""
    from gnosis_ocr_spark.functions.codec_png import decode_png_gray

    for w, h in ((1, 1), (3, 2), (8, 8), (13, 7), (33, 17)):
        src = ((np.arange(h)[:, None] * 31 + np.arange(w) * 7) % 251).astype(
            np.uint8
        )
        got_w, got_h, gray = decode_png_gray(_adam7_png(src))
        assert (got_w, got_h) == (w, h)
        assert gray == src.tobytes(), (w, h)


def test_general_png_decoder_rejects_bombs():
    import struct as _s

    from gnosis_ocr_spark.functions import codec_png as G
    from gnosis_ocr_spark.functions.codec_png import decode_png_gray

    ihdr = _s.pack(">IIBBBBB", 60000, 60000, 8, 0, 0, 0, 0)  # 3.6 GPix bomb
    png = G._MAGIC + G._chunk(b"IHDR", ihdr) + G._chunk(b"IDAT", b"x") + G._chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="unreasonable"):
        decode_png_gray(png)
    # zip-bomb IDAT: small dims, stream decompressing far past the need
    import zlib as _z

    ihdr = _s.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bomb = _z.compress(b"\x00" * 10_000_000)
    png = (G._MAGIC + G._chunk(b"IHDR", ihdr) + G._chunk(b"IDAT", bomb)
           + G._chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="past expected size"):
        decode_png_gray(png)


def test_fast_path_png_decoder_rejects_bombs():
    """decode_pixels (the filter-0 fast path the OCR stub runs on every
    page PNG) bounds its inflate to the declared geometry — a zlib
    bomb behind a 4x4 IHDR raises instead of allocating 10 MB."""
    import struct as _s
    import zlib as _z

    from gnosis_ocr_spark.functions import codec_png as G
    from gnosis_ocr_spark.functions.codec_png import decode_pixels

    ihdr = _s.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bomb = _z.compress(b"\x00" * 10_000_000)
    png = (G._MAGIC + G._chunk(b"IHDR", ihdr) + G._chunk(b"IDAT", bomb)
           + G._chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="past expected size"):
        decode_pixels(png)


def test_fast_path_png_rejects_huge_dims_and_short_idat():
    """The fast path's geometry bound cannot be defeated by declaring huge
    dimensions (50 MPix gate, same as the general decoder) or a zero width
    (0*h passes a bare pixel-count gate), and a first IDAT that inflates
    SHORT (multi-IDAT/truncated PNGs) raises — decode_png_gray's all-chunk
    path reads such files — never a silently short pixel buffer."""
    import struct as _s
    import zlib as _z

    from gnosis_ocr_spark.functions import codec_png as G
    from gnosis_ocr_spark.functions.codec_png import decode_pixels, decode_png_gray

    ihdr = _s.pack(">IIBBBBB", 65535, 65535, 8, 0, 0, 0, 0)
    png = (G._MAGIC + G._chunk(b"IHDR", ihdr)
           + G._chunk(b"IDAT", _z.compress(b"\x00" * 1000)) + G._chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="unreasonable"):
        decode_pixels(png)
    ihdr = _s.pack(">IIBBBBB", 0, 300, 8, 0, 0, 0, 0)
    png = (G._MAGIC + G._chunk(b"IHDR", ihdr)
           + G._chunk(b"IDAT", _z.compress(b"\x00" * 300)) + G._chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="unreasonable"):
        decode_pixels(png)
    # split-IDAT: valid 4x4 image, scanlines split across two IDAT chunks
    w = h = 4
    raw = b"".join(b"\x00" + bytes(range(i * w, (i + 1) * w)) for i in range(h))
    z = _z.compress(raw)
    ihdr = _s.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    split = (G._MAGIC + G._chunk(b"IHDR", ihdr)
             + G._chunk(b"IDAT", z[:6]) + G._chunk(b"IDAT", z[6:])
             + G._chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="truncated IDAT"):
        decode_pixels(split)
    gw, gh, gray = decode_png_gray(split)  # the fallback reads all chunks
    assert (gw, gh) == (w, h) and gray == bytes(range(16))


def test_ico_codec_and_multimodal_surface(spark):
    """ICO (favicons — every crawl fetches them): directory parse over PNG
    and 8/24/32-bpp DIB entries, sniff refined by structure (the weak
    00 00 01 00 magic alone never claims the type), and real metadata —
    the largest entry's dimensions — through media_metadata."""
    import numpy as np

    from gnosis_ocr_spark.functions.codec_media import (
        build_ico,
        ico_info,
        is_ico,
    )
    from gnosis_ocr_spark.operators.multimodal import (
        media_metadata,
        sniff_media_type,
    )

    g16 = ((np.arange(256).reshape(16, 16) * 7) % 256).astype(np.uint8)
    g48 = ((np.arange(48 * 48).reshape(48, 48) * 3) % 256).astype(np.uint8)
    for kind in ("png", "dib32", "dib24", "dib8"):
        ico = build_ico([(g16, "dib24"), (g48, kind)])
        assert is_ico(ico) and ico_info(ico)["count"] == 2
    # structure-refined sniff: magic alone is not enough
    assert sniff_media_type(build_ico([(g16, "png")])) == "image/x-icon"
    assert sniff_media_type(b"\x00\x00\x01\x00\xff\xff" + b"x" * 64) \
        == "application/octet-stream"
    # hostile: truncated directory / payload raise loudly in the codec
    full = build_ico([(g48, "dib32")])
    with pytest.raises(ValueError):
        ico_info(full[:10])
    df = spark.createDataFrame(
        [("fav", bytearray(build_ico([(g16, "dib24"), (g48, "png")])))],
        "url string, data binary",
    )
    meta = media_metadata(df).collect()[0]
    assert meta["media_type"] == "image/x-icon"
    assert (meta["width"], meta["height"]) == (48, 48)


def test_corrupt_idat_raises_valueerror_not_zlib_error():
    """Corrupt deflate bytes inside IDAT keep the codec's ValueError
    contract (callers distinguish decode failure from bugs by it) —
    found by fuzz: flipped payload bytes in a PNG-entry ICO leaked a raw
    zlib.error out of the PNG decoder."""
    import struct as _s
    import zlib as _z

    from gnosis_ocr_spark.functions import codec_png as G
    from gnosis_ocr_spark.functions.codec_png import decode_pixels, decode_png_gray

    good = _z.compress(b"\x00" * (5 * 5 + 5))
    corrupt = good[:8] + bytes([good[8] ^ 0xFF]) + good[9:]
    ihdr = _s.pack(">IIBBBBB", 5, 5, 8, 0, 0, 0, 0)
    png = (G._MAGIC + G._chunk(b"IHDR", ihdr) + G._chunk(b"IDAT", corrupt)
           + G._chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        decode_png_gray(png)
    with pytest.raises(ValueError):
        decode_pixels(png)
