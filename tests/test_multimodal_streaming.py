"""Multimodal plumbing (binary columns, sniffing, typed metadata) and
Structured Streaming extraction (availableNow trigger, no long-running query)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gnosis_ocr_spark.corpus import corpus_df, golden_df, write_corpus
from gnosis_ocr_spark.functions.codec_png import encode_page_png
from gnosis_ocr_spark.operators.multimodal import media_metadata, sniff_media_type
from gnosis_ocr_spark.operators.routing import HEAVY_ROUTES, with_route
from gnosis_ocr_spark.streaming.extract_stream import (
    start_extract_stream,
    windowed_throughput,
)


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


def test_streaming_extraction_available_now(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_corpus(spark, in_dir, n=40, num_partitions=4)

    q = start_extract_stream(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    # the stateless stream carries every light route (html, office, feed,
    # empty); each streamed row must equal the by-construction golden
    light_urls = with_route(corpus_df(spark, n=40)).filter(
        ~F.col("route").isin(*HEAVY_ROUTES)
    ).select("url")
    expected = golden_df(spark, n=40).join(light_urls, "url")
    assert got.count() == expected.count() > 0
    mismatches = (
        got.alias("s")
        .join(expected.alias("g"), "url", "full_outer")
        .filter(
            ~F.col("s.extracted_text").eqNullSafe(F.col("g.extracted_text"))
            | ~F.col("s.n_pages").eqNullSafe(F.col("g.n_pages"))
        )
        .count()
    )
    assert mismatches == 0

    # restart with same checkpoint: no duplicates (idempotent resume)
    q2 = start_extract_stream(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(60)
    assert spark.read.parquet(out_dir).count() == expected.count()


def test_windowed_throughput(spark):
    docs = corpus_df(spark, n=40)
    got = windowed_throughput(docs, window="10 minutes").orderBy("window_start")
    rows = got.collect()
    assert sum(r["docs"] for r in rows) == 40
    assert all(r["bytes_in"] > 0 for r in rows)
