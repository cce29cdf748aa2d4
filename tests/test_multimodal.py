"""Multimodal plumbing (binary columns, sniffing, typed metadata) and the
event-time throughput aggregate of the ``windowed_throughput`` query."""

from __future__ import annotations

from gnosis_ocr_spark.corpus import corpus_df
from gnosis_ocr_spark.functions.codec_png import encode_page_png
from gnosis_ocr_spark.operators.aggregates import windowed_throughput
from gnosis_ocr_spark.operators.multimodal import media_metadata, sniff_media_type


def _jpeg_fixture(w: int, h: int) -> bytes:
    from gnosis_ocr_spark.functions.codec_jpeg import encode_gray_jpeg

    return encode_gray_jpeg(bytes((x * 7 + 3) % 256 for x in range(w * h)), w, h)


def test_sniff_media_type():
    assert sniff_media_type(encode_page_png("x")) == "image/png"
    assert sniff_media_type(b"\xff\xd8\xff\xe0rest") == "image/jpeg"
    assert sniff_media_type(b"GIF89a...") == "image/gif"
    assert sniff_media_type(b"RIFF1234WAVEfmt ") == "audio/wav"
    assert sniff_media_type(b"RIFF1234AVI fmt ") == "application/octet-stream"
    assert sniff_media_type(b"\x00\x00\x00\x18ftypmp42xxxx") == "video/mp4"
    assert sniff_media_type(b"") == "empty"
    assert sniff_media_type(None) == "empty"


def test_media_metadata(spark):
    png = encode_page_png("hello", width=40, height=30)
    rows = [
        ("png1", bytearray(png)),
        ("jpg1", bytearray(_jpeg_fixture(48, 32))),
        ("wav1", bytearray(b"RIFF\x10\x00\x00\x00WAVE" + b"a" * 50)),
        ("none", None),
    ]
    df = spark.createDataFrame(rows, schema="url string, data binary")
    got = {r["url"]: r.asDict() for r in media_metadata(df).collect()}
    assert got["png1"]["media_type"] == "image/png"
    assert (got["png1"]["width"], got["png1"]["height"]) == (40, 30)  # real decode
    assert got["jpg1"]["media_type"] == "image/jpeg"
    # REAL SOF parse (codec_jpeg) — exact dimensions, not stub shapes
    assert (got["jpg1"]["width"], got["jpg1"]["height"]) == (48, 32)
    assert got["wav1"]["media_type"] == "audio/wav"
    assert got["none"]["media_type"] == "empty" and got["none"]["byte_len"] == 0


def test_windowed_throughput(spark):
    docs = corpus_df(spark, n=40)
    got = windowed_throughput(docs, window="10 minutes").orderBy("window_start")
    rows = got.collect()
    assert sum(r["docs"] for r in rows) == 40
    assert all(r["bytes_in"] > 0 for r in rows)
