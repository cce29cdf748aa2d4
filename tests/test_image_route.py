"""Standalone-image OCR route (the reference's direct image-upload path:
png/jpg/jpeg/webp accepted at app/static/js/app.js:392, OCR'd like any
document). Every raster format rides the heavy branch — split packs the
still-compressed file, decode happens page-parallel in the fused
raster+OCR stage — and extracts its scan-matrix text byte-identically."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from gnosis_ocr_spark.functions.codec_jpeg import (
    encode_gray_jpeg,
    encode_gray_jpeg_progressive,
)
from gnosis_ocr_spark.functions.codec_jpx import encode_jp2
from gnosis_ocr_spark.functions.codec_media import encode_gray_bmp, encode_gray_gif
from gnosis_ocr_spark.functions.codec_png import (
    _MAGIC,
    _chunk,
    encode_gray_png,
    encode_scan_pixels,
    encode_scan_pixels_robust,
)
from gnosis_ocr_spark.functions.codec_vp8 import build_webp_lossy
from gnosis_ocr_spark.functions.codec_vp8l import encode_webp_lossless_gray
from gnosis_ocr_spark.operators.multimodal import decode_image_gray, is_raster_image

TEXT = "standalone image ocr fixture text"
_PX = encode_scan_pixels(TEXT, 64, 64)
_PXR = encode_scan_pixels_robust(TEXT, 64, 64)


def _fixtures() -> list[tuple[str, bytes]]:
    return [
        ("png", encode_gray_png(_PX, 64, 64)),
        ("jpeg", encode_gray_jpeg(_PXR, 64, 64)),
        ("gif", encode_gray_gif(_PX, 64, 64)),
        ("bmp", encode_gray_bmp(_PX, 64, 64)),
        ("webp", encode_webp_lossless_gray(_PX, 64, 64)),
        (
            "jp2",
            encode_jp2(
                [np.frombuffer(_PX, dtype=np.uint8).reshape(64, 64)],
                lossless=True,
            ),
        ),
    ]


def test_sniff_and_decode_every_format():
    lossy = [
        ("jpeg_prog", encode_gray_jpeg_progressive(_PXR, 64, 64)),
        (
            "webp_lossy",
            build_webp_lossy(np.frombuffer(_PXR, dtype=np.uint8).reshape(64, 64))[0],
        ),
    ]
    for fmt, blob in _fixtures() + lossy:
        assert is_raster_image(blob), fmt
        got = decode_image_gray(blob)
        assert got is not None, fmt
        w, h, gray = got
        assert (w, h) == (64, 64)
        if fmt not in ("jpeg", "jpeg_prog", "webp_lossy"):
            # lossless formats roundtrip the exact pixels
            assert gray == _PX, fmt


def test_sniff_rejects_non_images():
    assert not is_raster_image(b"%PDF-1.4")
    assert not is_raster_image(b"II*\x00" + b"\x00" * 32)  # TIFF: own route
    assert not is_raster_image(b"BMx not a bitmap")
    assert not is_raster_image(b"RIFF....WAVEfmt ")  # audio, not WebP
    assert decode_image_gray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16) is None
    # hostile IHDR declaring w=0: a bare pixel-count gate passes it (0*h=0)
    zero_w = (
        _MAGIC
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 0, 300, 8, 0, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(b"\x00" * 300))
        + _chunk(b"IEND", b"")
    )
    assert is_raster_image(zero_w)
    assert decode_image_gray(zero_w) is None


def test_jvm_route_matches_python_sniff(spark):
    import pyspark.sql.functions as F

    from gnosis_ocr_spark.operators.routing import route_col

    rows = [(fmt, bytearray(blob)) for fmt, blob in _fixtures()]
    rows += [
        ("wav", bytearray(b"RIFF\x24\x00\x00\x00WAVEfmt ")),
        ("bm-text", bytearray(b"BM is just prose here, not a bitmap")),
        ("tiff", bytearray(b"II*\x00" + b"\x00" * 16)),
    ]
    df = spark.createDataFrame(rows, "name string, html binary")
    got = {
        r["name"]: r["r"]
        for r in df.select("name", route_col(F.col("html")).alias("r")).collect()
    }
    for fmt, _ in _fixtures():
        assert got[fmt] == "image", (fmt, got[fmt])
    assert got["wav"] == "html"
    assert got["bm-text"] == "html"
    assert got["tiff"] == "tiff"


def test_images_extract_through_pipeline(spark):
    from gnosis_ocr_spark.plans.pipeline import extract_corpus

    rows = [(fmt, None, bytearray(blob), None, "") for fmt, blob in _fixtures()]
    # hostile: magic with corrupt body must yield a blank page, not raise
    rows.append(("broken-png", None, bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 50), None, ""))
    df = spark.createDataFrame(
        rows,
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = {r["url"]: r for r in extract_corpus(df).collect()}
    for fmt, _ in _fixtures():
        r = out[fmt]
        assert r["route"] == "image", fmt
        assert r["extracted_text"] == TEXT, fmt
        assert r["n_pages"] == 1
    assert out["broken-png"]["route"] == "image"
    assert out["broken-png"]["extracted_text"] == ""


def test_corpus_v16_carries_image_docs():
    from gnosis_ocr_spark.corpus import generate_rows

    rows = generate_rows(140)
    image_rows = [r for r in rows if "/scan-" in r.url]
    assert len(image_rows) == 7  # slot 17 of each 20-row cycle
    exts = {r.url.rsplit(".", 1)[1] for r in image_rows}
    assert exts >= {"png", "jpeg", "gif", "bmp", "webp", "jp2"}
    for r in image_rows:
        assert r.n_pages == 1 and r.expected_text
