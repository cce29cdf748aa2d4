"""TIFF codec (functions/codec_tiff.py) + the BMP/WebP additions to
codec_media, and the multimodal surface they extend: sniffing and real
metadata for scanned-archive formats.

codec_tiff is composition: the strips route through the in-repo CCITT
G3/G4, LZW, deflate, and PackBits decoders, so these tests double as
cross-module integration checks for those codecs."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gnosis_ocr_spark.functions import codec_media as M
from gnosis_ocr_spark.functions import codec_tiff as T


def _doc_gray(w: int, h: int, seed: int = 7) -> np.ndarray:
    """Text-like page: white background, black run structure + salt."""
    rng = np.random.default_rng(seed)
    g = np.full((h, w), 255, dtype=np.uint8)
    for y0 in range(3, h - 3, 9):
        g[y0 : y0 + 4, 2 : w - 2] = 0
    g[rng.random((h, w)) < 0.02] = 0
    return g


FAX = ("g4", "g3", "g3_2d", "rle")
RASTER = ("none", "packbits", "deflate", "lzw")


@pytest.mark.parametrize("comp", FAX + RASTER)
@pytest.mark.parametrize("rps", [None, 7])
def test_gray_roundtrip_all_compressions(comp, rps):
    w, h = 83, 37
    gray = _doc_gray(w, h)
    t = T.encode_tiff_gray(
        gray.tobytes(), w, h, compression=comp, rows_per_strip=rps,
        photometric=0 if comp in FAX else 1,
    )
    assert T.tiff_dimensions(t) == (w, h)
    dw, dh, out = T.decode_tiff_gray(t)
    exp = np.where(gray < 128, 0, 255).astype(np.uint8) if comp in FAX else gray
    assert (dw, dh) == (w, h) and out == exp.tobytes()


@pytest.mark.parametrize("comp", FAX)
@pytest.mark.parametrize("photometric", [0, 1])
@pytest.mark.parametrize("fill_order", [1, 2])
def test_fax_photometric_and_fill_order(comp, photometric, fill_order):
    """Both sample conventions and both bit orders decode to the same
    VISUAL image — the LSB-first (FillOrder 2) fax-world shape included."""
    w, h = 64, 21
    gray = _doc_gray(w, h, seed=3)
    t = T.encode_tiff_gray(
        gray.tobytes(), w, h, compression=comp,
        photometric=photometric, fill_order=fill_order,
    )
    _, _, out = T.decode_tiff_gray(t)
    assert out == np.where(gray < 128, 0, 255).astype(np.uint8).tobytes()


@pytest.mark.parametrize("comp", ["lzw", "deflate"])
def test_predictor_horizontal_differencing(comp):
    w, h = 51, 19
    gray = _doc_gray(w, h, seed=11)
    t = T.encode_tiff_gray(gray.tobytes(), w, h, compression=comp,
                           predictor=2, rows_per_strip=5)
    _, _, out = T.decode_tiff_gray(t)
    assert out == gray.tobytes()
    # the predictor tag must actually be on the wire
    assert T.tiff_info(t)["predictor"] == 2


def test_big_endian_and_multipage():
    w, h = 40, 10
    gray = _doc_gray(w, h, seed=5)
    t = T.encode_tiff_gray(gray.tobytes(), w, h, big_endian=True)
    assert t[:4] == b"MM\x00*"
    assert T.decode_tiff_gray(t)[2] == gray.tobytes()
    assert T.tiff_num_pages(t) == 1
    # chain a second IFD by hand: point the first IFD's next pointer at a
    # copy of itself placed at the end of the file
    info = T.tiff_info(t)
    (ifd_off,) = struct.unpack_from(">I", t, 4)
    (n,) = struct.unpack_from(">H", t, ifd_off)
    ifd_len = 2 + 12 * n + 4
    two = bytearray(t) + t[ifd_off : ifd_off + ifd_len]
    struct.pack_into(">I", two, ifd_off + 2 + 12 * n, len(t))
    assert T.tiff_num_pages(bytes(two)) == 2
    assert info["next_ifd"] == 0


def test_rgb_luma_matches_reference():
    rng = np.random.default_rng(3)
    w, h = 31, 17
    rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    p16 = rgb.astype(np.uint16)
    luma = ((77 * p16[:, :, 0] + 150 * p16[:, :, 1] + 29 * p16[:, :, 2]) >> 8
            ).astype(np.uint8)
    for comp in RASTER:
        pred = 2 if comp in ("lzw", "deflate") else 1
        t = T.encode_tiff_rgb(rgb.tobytes(), w, h, compression=comp,
                              rows_per_strip=5, predictor=pred)
        dw, dh, out = T.decode_tiff_gray(t)
        assert (dw, dh) == (w, h) and out == luma.tobytes(), comp


def test_palette_maps_through_colormap_luma():
    rng = np.random.default_rng(9)
    w, h = 23, 12
    cmap = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (128, 128, 128), (0, 0, 0)]
    idx = rng.integers(0, len(cmap), (h, w), dtype=np.uint8)
    t = T.encode_tiff_palette(idx.tobytes(), w, h, cmap, rows_per_strip=4)
    cm = np.array(cmap, dtype=np.uint32)
    lut = ((77 * cm[:, 0] + 150 * cm[:, 1] + 29 * cm[:, 2]) >> 8).astype(np.uint8)
    assert T.decode_tiff_gray(t)[2] == lut[idx].tobytes()


@given(st.integers(1, 100), st.integers(1, 40), st.integers(0, 2**32 - 1),
       st.sampled_from(["none", "packbits", "deflate", "lzw", "g4"]))
@settings(max_examples=40, deadline=None)
def test_property_roundtrip(w, h, seed, comp):
    rng = np.random.default_rng(seed)
    gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
    rps = 1 + seed % (h + 3)
    t = T.encode_tiff_gray(gray.tobytes(), w, h, compression=comp,
                           rows_per_strip=rps,
                           photometric=0 if comp == "g4" else 1)
    dw, dh, out = T.decode_tiff_gray(t)
    exp = np.where(gray < 128, 0, 255).astype(np.uint8) if comp == "g4" else gray
    assert (dw, dh) == (w, h) and out == exp.tobytes()


def test_hostile_inputs_raise_loudly():
    gray = _doc_gray(16, 8)
    good = T.encode_tiff_gray(gray.tobytes(), 16, 8)
    with pytest.raises(ValueError):
        T.tiff_info(b"II*\x00")  # short
    with pytest.raises(ValueError):
        T.tiff_info(b"ABCD" + good[4:])  # bad magic
    with pytest.raises(ValueError):
        T.decode_tiff_gray(good[: len(good) // 2])  # truncated IFD/strips
    # huge declared dims must be rejected before any allocation
    big = bytearray(good)
    (ifd_off,) = struct.unpack_from("<I", big, 4)
    (n,) = struct.unpack_from("<H", big, ifd_off)
    for i in range(n):
        pos = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from("<HHI", big, pos)
        if tag in (256, 257):
            struct.pack_into("<I", big, pos + 8, 1 << 19)
    with pytest.raises(ValueError):
        T.tiff_info(bytes(big))


def test_inconsistent_tile_tables_raise():
    gray = _doc_gray(16, 8)
    base = T.encode_tiff_gray(gray.tobytes(), 16, 8)
    # claim tiling by rewriting RowsPerStrip's tag id (278 → 322) — a
    # TileWidth with no tile offset/count tables must fail loudly
    mod = bytearray(base)
    (ifd_off,) = struct.unpack_from("<I", mod, 4)
    (n,) = struct.unpack_from("<H", mod, ifd_off)
    for i in range(n):
        pos = ifd_off + 2 + 12 * i
        (tag,) = struct.unpack_from("<H", mod, pos)
        if tag == 278:
            struct.pack_into("<H", mod, pos, 322)
    assert T.tiff_info(bytes(mod))["tiled"]
    with pytest.raises(ValueError, match="tile"):
        T.decode_tiff_gray(bytes(mod))


# ------------------------------------------------------- tiled / 16-bit / JPEG


@pytest.mark.parametrize("comp", ["none", "lzw", "deflate", "packbits", "g4"])
def test_tiled_roundtrip(comp):
    """§15 tiles: row-major layout, right/bottom edge padding cropped."""
    w, h = 83, 53  # not tile-aligned on purpose
    gray = (
        ((_doc_gray(w, h) > 127) * np.uint8(255))
        if comp == "g4" else _doc_gray(w, h)
    )
    photometric = 0 if comp == "g4" else 1
    blob = T.encode_tiff_gray_tiled(
        gray.tobytes(), w, h, tile_width=32, tile_length=16,
        compression=comp, photometric=photometric,
    )
    info = T.tiff_info(blob)
    assert info["tiled"] and len(info["tile_offsets"]) == 3 * 4
    assert T.decode_tiff_gray(blob) == (w, h, gray.tobytes())


def test_tiled_big_endian_and_guards():
    gray = _doc_gray(40, 40)
    blob = T.encode_tiff_gray_tiled(
        gray.tobytes(), 40, 40, tile_width=32, tile_length=32,
        big_endian=True,
    )
    assert blob[:2] == b"MM"
    assert T.decode_tiff_gray(blob) == (40, 40, gray.tobytes())
    with pytest.raises(ValueError, match="multiples of 16"):
        T.encode_tiff_gray_tiled(gray.tobytes(), 40, 40, tile_width=20)


@pytest.mark.parametrize("comp,predictor", [
    ("none", 1), ("deflate", 1), ("deflate", 2), ("lzw", 2), ("packbits", 1),
])
@pytest.mark.parametrize("big_endian", [False, True])
def test_16bit_samples_fold_to_high_byte(comp, predictor, big_endian):
    """16-bit samples (both byte orders, predictor 2 differencing 16-bit
    values) fold to the high byte — v<<8|v widening round-trips exactly."""
    w, h = 41, 23
    gray = _doc_gray(w, h, seed=11)
    blob = T.encode_tiff_gray16(
        gray.tobytes(), w, h, compression=comp, predictor=predictor,
        big_endian=big_endian,
    )
    assert T.tiff_info(blob)["bits"] == 16
    assert T.decode_tiff_gray(blob) == (w, h, gray.tobytes())


@pytest.mark.parametrize("shared_tables", [False, True])
@pytest.mark.parametrize("rps", [None, 16])
def test_jpeg_in_tiff_new_style(shared_tables, rps):
    """Compression 7: per-strip JPEG datastreams, optionally with the
    DQT/DHT tables shared via tag 347 (TechNote 2) — decodes through
    codec_jpeg within its documented few-levels noise band."""
    w, h = 48, 40
    gray = _doc_gray(w, h, seed=3)
    blob = T.encode_tiff_gray_jpeg(
        gray.tobytes(), w, h, rows_per_strip=rps, shared_tables=shared_tables
    )
    info = T.tiff_info(blob)
    assert info["compression"] == 7
    assert (info["jpeg_tables"] is not None) == shared_tables
    if shared_tables:
        # strips must actually be abbreviated (no DQT/DHT of their own)
        off, cnt = info["strip_offsets"][0], info["strip_counts"][0]
        strip = blob[off : off + cnt]
        assert b"\xff\xdb" not in strip[:40] and strip[:2] == b"\xff\xd8"
    dw, dh, out = T.decode_tiff_gray(blob)
    assert (dw, dh) == (w, h)
    err = np.abs(
        np.frombuffer(out, np.uint8).astype(np.int16)
        - gray.reshape(-1).astype(np.int16)
    )
    assert int(err.max()) <= 8  # codec_jpeg all-ones-quant noise band


def test_old_style_jpeg_raises_loudly():
    gray = _doc_gray(16, 16)
    blob = bytearray(T.encode_tiff_gray(gray.tobytes(), 16, 16))
    (ifd_off,) = struct.unpack_from("<I", blob, 4)
    (n,) = struct.unpack_from("<H", blob, ifd_off)
    for i in range(n):
        pos = ifd_off + 2 + 12 * i
        (tag,) = struct.unpack_from("<H", blob, pos)
        if tag == 259:
            struct.pack_into("<H", blob, pos + 8, 6)  # Compression 6
    with pytest.raises(ValueError, match="old-style"):
        T.decode_tiff_gray(bytes(blob))


def test_lzw_and_deflate_strips_are_output_bounded():
    """A strip that inflates past its declared pixel size must raise, not
    allocate (zip-bomb rationale, codec_png/codec_jpeg parity)."""
    gray = _doc_gray(16, 8)
    base = T.encode_tiff_gray(gray.tobytes(), 16, 8, compression="deflate")
    info = T.tiff_info(base)
    off, cnt = info["strip_offsets"][0], info["strip_counts"][0]
    bomb = zlib.compress(b"\x00" * 4_000_000, 9)  # tiny input, huge output
    forged = bytearray(base)
    # graft the bomb after the file, repoint the strip at it
    forged += bomb
    (ifd_off,) = struct.unpack_from("<I", base, 4)
    (n,) = struct.unpack_from("<H", base, ifd_off)
    for i in range(n):
        pos = ifd_off + 2 + 12 * i
        (tag,) = struct.unpack_from("<H", forged, pos)
        if tag == 273:
            struct.pack_into("<I", forged, pos + 8, len(base))
        elif tag == 279:
            struct.pack_into("<I", forged, pos + 8, len(bomb))
    with pytest.raises(ValueError):
        T.decode_tiff_gray(bytes(forged))
    # LZW: the shared decoder enforces max_out (codec_pdf._lzw_decode)
    from gnosis_ocr_spark.functions.codec_pdf import _lzw_decode, _lzw_encode

    blob = _lzw_encode(b"\x01" * 100_000)
    with pytest.raises(ValueError, match="bound"):
        _lzw_decode(blob, max_out=1000)


# ---------------------------------------------------------------- BMP/WebP


def test_bmp_roundtrip_and_dimensions():
    rng = np.random.default_rng(5)
    w, h = 29, 13
    g = rng.integers(0, 256, (h, w), dtype=np.uint8)
    b = M.encode_gray_bmp(g.tobytes(), w, h)
    assert M.bmp_dimensions(b) == (w, h)
    dw, dh, out = M.decode_bmp_gray(b)
    assert (dw, dh) == (w, h) and out == g.tobytes()


def test_bmp_24bit_and_topdown():
    w, h = 5, 3
    rgb = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = rgb.reshape(h, -1)
    px_off = 54
    hdr = struct.pack("<2sIHHI", b"BM", px_off + stride * h, 0, 0, px_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, stride * h,
                      2835, 2835, 0, 0)  # negative height = top-down
    bmp = hdr + dib + rows.tobytes()
    dw, dh, out = M.decode_bmp_gray(bmp)
    p16 = rgb.astype(np.uint16)  # rows stored B,G,R
    luma = ((29 * p16[:, :, 0] + 150 * p16[:, :, 1] + 77 * p16[:, :, 2]) >> 8
            ).astype(np.uint8)
    assert (dw, dh) == (w, h) and out == luma.tobytes()


def test_bmp_hostile():
    with pytest.raises(ValueError):
        M.decode_bmp_gray(b"BMshort")
    g = M.encode_gray_bmp(bytes(16), 4, 4)
    with pytest.raises(ValueError):
        M.decode_bmp_gray(g[:40])  # truncated pixels
    rle = bytearray(g)
    struct.pack_into("<I", rle, 30, 1)  # BI_RLE8
    with pytest.raises(ValueError, match="compression"):
        M.decode_bmp_gray(bytes(rle))


def test_webp_dimensions_all_container_shapes():
    assert M.webp_dimensions(M.build_webp_lossy_header(640, 480)) == (640, 480)
    assert M.webp_dimensions(M.build_webp_lossless_header(321, 17)) == (321, 17)
    # VP8X extended container: 24-bit canvas minus one
    payload = bytes(4) + (799).to_bytes(3, "little") + (599).to_bytes(3, "little")
    riff = b"WEBP" + b"VP8X" + struct.pack("<I", len(payload)) + payload
    data = b"RIFF" + struct.pack("<I", len(riff)) + riff
    assert M.webp_dimensions(data) == (800, 600)
    with pytest.raises(ValueError):
        M.webp_dimensions(b"RIFF\x00\x00\x00\x00WEBPXXXX" + bytes(20))
    with pytest.raises(ValueError):
        M.webp_dimensions(b"RIFF\x00\x00\x00\x00WAVE" + bytes(20))


# ------------------------------------------------------- multimodal surface


def test_sniff_refinements():
    from gnosis_ocr_spark.operators.multimodal import sniff_media_type

    assert sniff_media_type(M.build_webp_lossy_header(10, 10)) == "image/webp"
    assert sniff_media_type(b"RIFF1234WAVEfmt ") == "audio/wav"
    gray = _doc_gray(16, 8)
    assert sniff_media_type(
        T.encode_tiff_gray(gray.tobytes(), 16, 8)) == "image/tiff"
    assert sniff_media_type(
        T.encode_tiff_gray(gray.tobytes(), 16, 8, big_endian=True)
    ) == "image/tiff"
    assert sniff_media_type(M.encode_gray_bmp(bytes(16), 4, 4)) == "image/bmp"
    # "BM" prose must NOT be claimed as BMP (weak magic refinement)
    assert sniff_media_type(
        b"BMW makes cars, and this is just text that goes on a while."
    ) == "application/octet-stream"


def test_media_metadata_real_for_tiff_bmp_webp(spark):
    from gnosis_ocr_spark.operators.multimodal import media_metadata

    gray = _doc_gray(44, 18)
    rows = [
        ("tif_g4", bytearray(T.encode_tiff_gray(
            gray.tobytes(), 44, 18, compression="g4", photometric=0))),
        ("tif_lzw", bytearray(T.encode_tiff_gray(
            gray.tobytes(), 44, 18, compression="lzw"))),
        ("bmp", bytearray(M.encode_gray_bmp(gray.tobytes(), 44, 18))),
        ("webp", bytearray(M.build_webp_lossy_header(123, 45))),
        ("webp_l", bytearray(M.build_webp_lossless_header(77, 31))),
    ]
    df = spark.createDataFrame(rows, schema="url string, data binary")
    got = {r["url"]: r.asDict() for r in media_metadata(df).collect()}
    for k in ("tif_g4", "tif_lzw"):
        assert got[k]["media_type"] == "image/tiff"
        assert (got[k]["width"], got[k]["height"]) == (44, 18)
    assert got["bmp"]["media_type"] == "image/bmp"
    assert (got["bmp"]["width"], got["bmp"]["height"]) == (44, 18)
    assert (got["webp"]["width"], got["webp"]["height"]) == (123, 45)
    assert (got["webp_l"]["width"], got["webp_l"]["height"]) == (77, 31)


def test_tiff_orientation_tag_applies_all_transforms():
    """Tag 274 (scanner/fax output routinely stores rotated) decodes to
    upright pixels via the same 8-transform table as the EXIF path —
    pinned against numpy on an asymmetric image, both byte orders, and
    through a G4 fax compression where the stored bits are 1-bit."""
    import numpy as np

    from gnosis_ocr_spark.functions.codec_tiff import (
        decode_tiff_gray,
        encode_tiff_gray,
    )

    w, h = 6, 4
    a = ((np.arange(w * h).reshape(h, w) * 9) % 256).astype(np.uint8)
    expect = {
        1: a, 2: a[:, ::-1], 3: a[::-1, ::-1], 4: a[::-1, :],
        5: a.T, 6: np.rot90(a, -1), 7: np.rot90(a, 2).T, 8: np.rot90(a, 1),
    }
    for be in (False, True):
        for o, want in expect.items():
            t = encode_tiff_gray(a.tobytes(), w, h, orientation=o,
                                 big_endian=be)
            gw, gh, gray = decode_tiff_gray(t)
            assert (gh, gw) == want.shape
            assert np.array_equal(
                np.frombuffer(gray, np.uint8).reshape(gh, gw), want
            ), (be, o)
    # fax path: 1-bit G4 storage, orientation 6 → upright portrait
    bw_img = np.where(a > 96, 255, 0).astype(np.uint8)
    t = encode_tiff_gray(bw_img.tobytes(), w, h, compression="g4",
                         orientation=6)
    gw, gh, gray = decode_tiff_gray(t)
    assert (gw, gh) == (h, w)
    assert np.array_equal(
        np.frombuffer(gray, np.uint8).reshape(gh, gw), np.rot90(bw_img, -1)
    )


def test_tiff_metadata_reports_upright_dims():
    """media_metadata's TIFF dims swap for orientations 5-8 — consistent
    with decode_tiff_gray's upright pixels on the same bytes."""
    import numpy as np

    from gnosis_ocr_spark.functions.codec_tiff import encode_tiff_gray
    from gnosis_ocr_spark.operators.multimodal import _decode_tiff_meta

    a = np.zeros((4, 6), dtype=np.uint8)
    plain = encode_tiff_gray(a.tobytes(), 6, 4)
    rot = encode_tiff_gray(a.tobytes(), 6, 4, orientation=6)
    assert _decode_tiff_meta(plain)[:2] == (6, 4)
    assert _decode_tiff_meta(rot)[:2] == (4, 6)
