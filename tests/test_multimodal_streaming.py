"""Multimodal plumbing (binary columns, typed metadata, stub decoders) and
Structured Streaming extraction (availableNow trigger, no long-running query)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gnosis_ocr_spark.corpus import corpus_df, golden_df, write_corpus
from gnosis_ocr_spark.functions.codec_png import encode_page_png
from gnosis_ocr_spark.operators.multimodal import (
    media_features,
    media_metadata,
    sniff_media_type,
)
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


def test_media_features_shape_and_determinism(spark):
    rows = [
        ("a", bytearray(encode_page_png("aaa"))),
        ("b", bytearray(b"\xff\xd8\xff" + b"xyz" * 50)),
    ]
    df = spark.createDataFrame(rows, schema="url string, data binary")
    got1 = {r["url"]: r["feature"] for r in media_features(df, dim=16).collect()}
    got2 = {r["url"]: r["feature"] for r in media_features(df, dim=16).collect()}
    assert got1 == got2  # deterministic
    assert all(len(v) == 16 for v in got1.values())
    assert abs(sum(got1["a"]) - 1.0) < 1e-5  # normalized histogram


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


def test_resize_images_png_real_path(spark):
    """PNG resize is real: decode → nearest-neighbor downsample → re-encode;
    output PNGs are valid and within max_dim; small images pass through."""
    from gnosis_ocr_spark.functions.codec_png import (
        decode_dimensions,
        encode_page_png,
    )
    from gnosis_ocr_spark.operators.multimodal import resize_images

    big = encode_page_png("big page", width=300, height=200)
    small = encode_page_png("small", width=40, height=30)
    df = spark.createDataFrame(
        [("b", bytearray(big)), ("s", bytearray(small))],
        schema="url string, data binary",
    )
    got = {r["url"]: r for r in resize_images(df, max_dim=64).collect()}
    assert (got["b"]["width"], got["b"]["height"]) == (64, 42)
    assert decode_dimensions(bytes(got["b"]["data"])) == (64, 42)
    assert got["b"]["status"] == "resized"
    assert (got["s"]["width"], got["s"]["height"]) == (40, 30)
    assert bytes(got["s"]["data"]) == small  # untouched below the bound
    assert got["s"]["status"] == "in_bounds"


def test_resize_images_passthrough_is_flagged(spark):
    """Round-3 advice: rows whose bytes could NOT be bounded (undecodable or
    no real decoder in this container) must be explicitly distinguishable —
    consumers that need the bound filter status != 'passthrough'."""
    from gnosis_ocr_spark.operators.multimodal import resize_images

    bad_png = b"\x89PNG\r\n\x1a\n" + b"corrupt" * 10
    jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 64
    df = spark.createDataFrame(
        [("bad", bytearray(bad_png)), ("j", bytearray(jpeg))],
        schema="url string, data binary",
    )
    got = {r["url"]: r for r in resize_images(df, max_dim=64).collect()}
    assert got["bad"]["status"] == "passthrough"
    assert got["bad"]["width"] is None
    assert bytes(got["bad"]["data"]) == bad_png
    assert got["j"]["status"] == "passthrough"  # stub decoder: bytes unchanged
    assert bytes(got["j"]["data"]) == jpeg


def test_sample_frames_flatmap_shape(spark):
    """Video rows explode to one row per sampled frame (stub decode, real
    PNG frames); non-video rows emit nothing."""
    from gnosis_ocr_spark.functions.codec_png import decode_dimensions
    from gnosis_ocr_spark.operators.multimodal import sample_frames

    mp4 = b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 64
    df = spark.createDataFrame(
        [("v", bytearray(mp4)), ("t", bytearray(b"not a video"))],
        schema="url string, data binary",
    )
    rows = sample_frames(df, every_sec=1.0, max_frames=4).collect()
    assert rows and all(r["url"] == "v" for r in rows)
    assert [r["frame_no"] for r in rows] == list(range(len(rows)))
    assert all(r["ts_sec"] == float(r["frame_no"]) for r in rows)
    assert all(decode_dimensions(bytes(r["frame"])) == (32, 32) for r in rows)
