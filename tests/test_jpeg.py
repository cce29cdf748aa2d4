"""Baseline JPEG codec tests (functions/codec_jpeg.py) — encoder/decoder
roundtrip, multi-component + subsampling + restart-marker decode, scanned
/DCTDecode PDF pages through the OCR seam."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gnosis_ocr_spark.functions import codec_jpeg as J
from gnosis_ocr_spark.functions import codec_pdf as P
from gnosis_ocr_spark.functions import codec_png as G


@given(st.integers(3, 80), st.integers(3, 80), st.integers(0, 2**32 - 1))
@settings(max_examples=25, deadline=None)
def test_gray_roundtrip_error_bound(w, h, seed):
    """All-ones quantization → roundtrip error is FDCT/IDCT rounding only:
    bounded at ±3 per pixel (observed ≤1; the bound leaves headroom for
    accumulated float rounding on large flat blocks)."""
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
    jp = J.encode_gray_jpeg(px, w, h)
    w2, h2, nc, out = J.decode_baseline_jpeg(jp)
    assert (w2, h2, nc) == (w, h, 1)
    a = np.frombuffer(px, dtype=np.uint8).astype(int)
    b = np.frombuffer(out, dtype=np.uint8).astype(int)
    assert int(np.abs(a - b).max()) <= 3


def test_dimensions_sniff_and_garbage():
    jp = J.encode_gray_jpeg(bytes(100 * 40), 100, 40)
    assert J.decode_jpeg_dimensions(jp) == (100, 40, 1)
    for bad in (b"", b"\xff\xd8garbage", b"PNG..."):
        with pytest.raises(Exception):
            J.decode_jpeg_dimensions(bad)
        with pytest.raises(Exception):
            J.decode_baseline_jpeg(bad)


def _encode_ycbcr_420(y: np.ndarray, restart_interval: int = 0) -> bytes:
    """Test-only 3-component 4:2:0 encoder (constant-128 chroma) built on
    the module's writer primitives — exercises the decoder's interleaved
    MCU walk, chroma sampling factors, luma passthrough at 2x2, and (with
    ``restart_interval``) RSTn handling. Luma dims must be multiples of 16."""
    h, w = y.shape
    assert h % 16 == 0 and w % 16 == 0
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    out += (
        b"\xff\xc0" + struct.pack(">H", 8 + 9) + b"\x08"
        + struct.pack(">HH", h, w) + b"\x03"
        + b"\x01\x22\x00"  # Y 2x2
        + b"\x02\x11\x00"  # Cb 1x1
        + b"\x03\x11\x00"  # Cr 1x1
    )
    for tc, bits, vals in ((0, J._ENC_DC_BITS, J._ENC_DC_VALS),
                           (1, J._ENC_AC_BITS, J._ENC_AC_VALS)):
        out += (
            b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
            + bytes([tc << 4]) + bytes(bits) + vals
        )
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += (b"\xff\xda" + struct.pack(">H", 6 + 6)
            + b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00")

    def encode_block(bw, block, dc_prev):
        coef = J._M @ (block - 128.0) @ J._M.T
        zz = np.rint(coef.reshape(64)[J._ZZ_FLAT]).astype(np.int64)
        diff = int(zz[0]) - dc_prev
        s = J._category(diff)
        ln, code = J._ENC_DC.code[s]
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
                ln, code = J._ENC_AC.code[0xF0]
                bw.write(code, ln)
                run -= 16
            s = J._category(v)
            ln, code = J._ENC_AC.code[(run << 4) | s]
            bw.write(code, ln)
            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            ln, code = J._ENC_AC.code[0x00]
            bw.write(code, ln)
        return int(zz[0])

    chroma = np.full((8, 8), 128.0)
    bw = J._BitWriter()
    dc = {1: 0, 2: 0, 3: 0}
    mcu = 0
    rst = 0
    for my in range(h // 16):
        for mx in range(w // 16):
            if restart_interval and mcu and mcu % restart_interval == 0:
                out += bw.flush()
                bw = J._BitWriter()
                out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                dc = {1: 0, 2: 0, 3: 0}
            for by in range(2):
                for bx in range(2):
                    blk = y[my * 16 + by * 8 : my * 16 + by * 8 + 8,
                            mx * 16 + bx * 8 : mx * 16 + bx * 8 + 8]
                    dc[1] = encode_block(bw, blk.astype(float), dc[1])
            dc[2] = encode_block(bw, chroma, dc[2])
            dc[3] = encode_block(bw, chroma, dc[3])
            mcu += 1
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


@pytest.mark.parametrize("dri", [0, 3])
def test_ycbcr_420_with_and_without_restarts(dri):
    """Interleaved 3-component 4:2:0 scan (and RSTn resets with dri=3):
    the decoder must return the luma plane within the rounding bound."""
    rng = np.random.default_rng(7)
    y = rng.integers(0, 256, size=(48, 64), dtype=np.uint8)
    jp = _encode_ycbcr_420(y.astype(float), restart_interval=dri)
    w, h, nc, out = J.decode_baseline_jpeg(jp)
    assert (w, h, nc) == (64, 48, 3)
    got = np.frombuffer(out, dtype=np.uint8).astype(int).reshape(48, 64)
    assert int(np.abs(got - y.astype(int)).max()) <= 3


def test_sof2_header_on_sequential_scan_decodes_as_one_full_scan():
    """Round 5: progressive (SOF2) no longer rejects. A sequential-coded
    stream relabeled SOF2 is, per the progressive rules, ONE full-band
    DC+AC scan — which this file's single SOS (Ss=0 Se=63) cannot legally
    claim; the decoder must either decode it or raise JpegError, never
    crash. Real progressive coverage lives in test_jpeg_progressive.py."""
    jp = bytearray(J.encode_gray_jpeg(bytes(64 * 64), 64, 64))
    jp[jp.index(b"\xff\xc0") + 1] = 0xC2  # flip SOF0 → SOF2
    try:
        J.decode_baseline_jpeg(bytes(jp))
    except J.JpegError:
        pass  # Ss=0/Se=63 is an illegal progressive band — clean reject


def test_jpeg_scanned_pdf_extracts_end_to_end(spark):
    """A /DCTDecode scanned page (REAL baseline JPEG of the robust scan
    matrix) extracts byte-identical text through the full Spark
    split→OCR path; the opaque-dct fixture still degrades to empty."""
    from gnosis_ocr_spark.operators.layout import assemble_documents
    from gnosis_ocr_spark.operators.pdf_split import (
        raster_ocr_pages,
        split_pdf_text_pages,
    )

    pages = ["jpeg scanned body\nsecond line", "tail page"]
    df = spark.createDataFrame(
        [
            ("jpeg", bytearray(P.build_pdf_scanned(pages, image_filter="jpeg"))),
            ("opaque", bytearray(P.build_pdf_scanned(["x"], image_filter="dct"))),
        ],
        schema="url string, html binary",
    )
    out = {r["url"]: r for r in assemble_documents(
        raster_ocr_pages(split_pdf_text_pages(df), ocr_engine="stub")
    ).collect()}
    assert out["jpeg"]["extracted_text"] == "\n\n".join(pages)
    assert out["jpeg"]["n_pages"] == 2
    assert out["opaque"]["extracted_text"] == "" and out["opaque"]["n_pages"] == 1


def test_robust_scan_matrix_tolerates_noise():
    text = "noise tolerant payload"
    px = bytearray(G.encode_scan_pixels_robust(text))
    for i in range(0, len(px), 3):  # ±7 noise on every third pixel
        px[i] = max(0, min(255, px[i] + (7 if i % 2 else -7)))
    assert G.decode_scan_text_robust(bytes(px)) == text
    # exact-matrix pixels are NOT a robust matrix (magic differs)
    assert G.decode_scan_text_robust(G.encode_scan_pixels("abc")) is None


def test_hostile_dimensions_raise_cleanly():
    """A mutated SOF declaring a 65535x65535 frame must be a clean
    JpegError, never a MemoryError that would kill an executor."""
    jp = bytearray(J.encode_gray_jpeg(bytes(64 * 64), 64, 64))
    sof = jp.index(b"\xff\xc0")
    jp[sof + 5 : sof + 9] = struct.pack(">HH", 65535, 65535)
    with pytest.raises(J.JpegError, match="unreasonable"):
        J.decode_baseline_jpeg(bytes(jp))


def test_exif_orientation_parse_and_transforms():
    """Tag 0x0112 parses from both byte orders; all eight EXIF transforms
    match the spec table (pinned on an asymmetric array); hostile/absent
    EXIF is total and returns 1."""
    import numpy as np

    from gnosis_ocr_spark.functions.codec_jpeg import (
        encode_gray_jpeg,
        exif_app1,
        exif_orientation,
        orient_gray,
    )

    base = encode_gray_jpeg(bytes(24), 6, 4)
    for bo in "<>":
        for o in range(1, 9):
            j = base[:2] + exif_app1(o, bo) + base[2:]
            assert exif_orientation(j) == o
    assert exif_orientation(base) == 1  # no EXIF
    assert exif_orientation(b"\xff\xd8\xff\xe1\x00\x04Ex") == 1  # hostile
    assert exif_orientation(base[:2] + exif_app1(99) + base[2:]) == 1

    a = np.arange(6, dtype=np.uint8).reshape(2, 3)
    px = a.tobytes()
    expect = {
        1: a,
        2: a[:, ::-1],
        3: a[::-1, ::-1],
        4: a[::-1, :],
        5: a.T,
        6: np.rot90(a, -1),
        7: np.rot90(a, 2).T,
        8: np.rot90(a, 1),
    }
    for o, want in expect.items():
        got, w, h = orient_gray(px, 3, 2, o)
        assert (h, w) == want.shape
        assert np.array_equal(np.frombuffer(got, np.uint8).reshape(h, w), want)
    # inverse sanity: orientation 6 then 8 round-trips
    p6, w6, h6 = orient_gray(px, 3, 2, 6)
    p_rt, w_rt, h_rt = orient_gray(p6, w6, h6, 8)
    assert (p_rt, w_rt, h_rt) == (px, 3, 2)


def test_oriented_jpeg_uprights_through_ocr_route():
    """An orientation-6 (90° CW stored) JPEG reaches OCR upright:
    decode_image_gray returns the rotated pixels with swapped dimensions —
    matching what a conformant viewer (and the reference's poppler
    rendering) shows."""
    import numpy as np

    from gnosis_ocr_spark.functions.codec_jpeg import (
        decode_jpeg,
        encode_gray_jpeg,
        exif_app1,
    )
    from gnosis_ocr_spark.operators.multimodal import decode_image_gray

    w, h = 96, 32
    px = bytes((x * 7 + 3) % 256 for x in range(w * h))
    plain = encode_gray_jpeg(px, w, h)
    oriented = plain[:2] + exif_app1(6) + plain[2:]
    _, _, _, luma = decode_jpeg(plain)
    want = np.rot90(
        np.frombuffer(luma, np.uint8).reshape(h, w), -1
    )
    gw, gh, gray = decode_image_gray(oriented)
    assert (gw, gh) == (h, w)  # dimensions swapped
    assert np.array_equal(np.frombuffer(gray, np.uint8).reshape(gh, gw), want)


def test_oriented_jpeg_metadata_reports_upright_dims(spark):
    """media_metadata reports the dimensions a browser shows: orientations
    5-8 swap w/h; 1-4 and EXIF-free JPEGs are unchanged."""
    from gnosis_ocr_spark.functions.codec_jpeg import encode_gray_jpeg, exif_app1
    from gnosis_ocr_spark.operators.multimodal import media_metadata

    plain = encode_gray_jpeg(bytes(96 * 32), 96, 32)
    rows = [
        ("plain", bytearray(plain)),
        ("o3", bytearray(plain[:2] + exif_app1(3) + plain[2:])),
        ("o6", bytearray(plain[:2] + exif_app1(6) + plain[2:])),
    ]
    df = spark.createDataFrame(rows, "url string, data binary")
    got = {r["url"]: (r["width"], r["height"])
           for r in media_metadata(df).collect()}
    assert got["plain"] == (96, 32)
    assert got["o3"] == (96, 32)
    assert got["o6"] == (32, 96)


def test_hostile_rational_orientation_is_identity():
    """A RATIONAL-typed (type 5) orientation tag decodes to a float —
    exif_orientation must reject it (exact int 1-8 only) and orient_gray
    must be identity for any non-spec value, never the catch-all rotate."""
    import struct as _s

    import numpy as np

    from gnosis_ocr_spark.functions.codec_jpeg import (
        encode_gray_jpeg,
        exif_orientation,
        orient_gray,
    )

    # minimal APP1 with tag 0x0112 typed RATIONAL (5), value 13/2 = 6.5
    hdr = b"II*\x00" + _s.pack("<I", 8)
    ifd = _s.pack("<H", 1)
    ifd += _s.pack("<HHI", 0x0112, 5, 1) + _s.pack("<I", 8 + 2 + 12 + 4)
    ifd += _s.pack("<I", 0)
    ifd += _s.pack("<II", 13, 2)  # the rational payload
    body = b"Exif\x00\x00" + hdr + ifd
    app1 = b"\xff\xe1" + _s.pack(">H", 2 + len(body)) + body
    base = encode_gray_jpeg(bytes(24), 6, 4)
    assert exif_orientation(base[:2] + app1 + base[2:]) == 1

    px = np.arange(6, dtype=np.uint8).tobytes()
    for bad in (6.5, 0, 9, -3, "6"):
        got, w, h = orient_gray(px, 3, 2, bad)
        assert (got, w, h) == (px, 3, 2)
