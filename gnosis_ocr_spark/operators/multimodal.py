"""Media payloads as opaque ``binary`` columns: sniffing, typed metadata
and the standalone-image decode of the OCR route.

- Sniffing is magic-byte dispatch for PNG/JPEG/GIF/TIFF/BMP/WebP/WAV/
  MP4/JP2/FLAC/Ogg, plus ISO-BMFF brands (HEIF/AVIF/MP4), SVG, MPEG audio
  and ICO. Weak magics (RIFF, "BM", ICO's 00 00 01 00, a bare MP3 frame
  sync) are refined by structure checks before a type is claimed.
- ``DECODERS`` maps each sniffed type to a real header parser: image
  dimensions (PNG IHDR, JPEG SOF with EXIF orientation, GIF screen, TIFF
  IFD, BMP DIB, WebP VP8/VP8L/VP8X, JP2 SIZ, HEIF/AVIF ispe, SVG root,
  ICO directory) and audio/video durations (WAV, MP4 mvhd, MP3, FLAC
  STREAMINFO, Ogg granule). ``media_metadata`` runs them in one
  ``mapInPandas``; a parse failure leaves the row's fields null.
- ``decode_image_gray`` is the one pixel-decode dispatch: it turns a
  standalone raster image into 8-bit gray pixels for the pipeline's image
  route (functions/codec_png, codec_jpeg, codec_media, codec_vp8l,
  codec_jpx).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gnosis_ocr_spark.functions.codec_png import decode_dimensions

MEDIA_META_SCHEMA = (
    "url string, media_type string, byte_len long, width int, height int, "
    "duration_sec double"
)

_MAGIC = [
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"RIFF", "audio/wav"),  # refined below: WAVE → wav, WEBP → webp
    (b"%PDF-", "application/pdf"),
    (b"\x00\x00\x00\x0cjP  \r\n\x87\n", "image/jp2"),  # JP2 signature box
    (b"\xff\x4f\xff\x51", "image/jp2"),  # raw JPEG 2000 codestream (SOC+SIZ)
    (b"II*\x00", "image/tiff"),  # little-endian TIFF
    (b"MM\x00*", "image/tiff"),  # big-endian TIFF
    (b"fLaC", "audio/flac"),  # FLAC stream marker
    (b"OggS", "audio/ogg"),  # Ogg container (Vorbis/Opus)
    (b"BM", "image/bmp"),  # refined below: 2-byte magic needs a DIB check
]


def sniff_media_type(data: bytes | None) -> str:
    if not data:
        return "empty"
    for magic, mtype in _MAGIC:
        if data[: len(magic)] == magic:
            if mtype == "audio/wav":
                if data[8:12] == b"WAVE":
                    return "audio/wav"
                if data[8:12] == b"WEBP":
                    return "image/webp"
                return "application/octet-stream"
            if mtype == "image/bmp":
                # "BM" alone matches text too; require a known DIB header
                # size word at offset 14 before claiming BMP
                if len(data) < 26 or data[14] not in (12, 40, 52, 56, 108, 124) \
                        or data[15:18] != b"\x00\x00\x00":
                    return "application/octet-stream"
                return "image/bmp"
            return mtype
    if len(data) > 11 and data[4:8] == b"ftyp":
        # ISO-BMFF: brand dispatch separates HEIF/AVIF stills from video
        from gnosis_ocr_spark.functions.codec_media import bmff_media_type

        return bmff_media_type(data)
    if data[:1] in (b"<", b"\xef") and data[:5] != b"<html":
        # text-rooted payload: standalone SVG has no magic, only its root tag
        from gnosis_ocr_spark.functions.codec_media import is_svg

        if is_svg(data):
            return "image/svg+xml"
    if data[:3] == b"ID3" or (len(data) > 3 and data[0] == 0xFF and (data[1] & 0xE0) == 0xE0):
        # MPEG audio: ID3v2 tag, or a frame sync that must chain to a
        # second frame (is_mp3) — a lone 0xFFEx matches random binary
        from gnosis_ocr_spark.functions.codec_media import is_mp3

        if is_mp3(data):
            return "audio/mpeg"
    if data[:4] == b"\x00\x00\x01\x00":
        # ICO (favicons — every crawl fetches them): weak 4-byte magic,
        # refined by the directory-structure check before a type is claimed
        from gnosis_ocr_spark.functions.codec_media import is_ico

        if is_ico(data):
            return "image/x-icon"
    return "application/octet-stream"


_IMAGE_TYPES = frozenset(
    {"image/png", "image/jpeg", "image/gif", "image/bmp", "image/webp", "image/jp2"}
)


def is_raster_image(data: bytes | None) -> bool:
    """True for standalone raster payloads the OCR pipeline can rasterize
    (TIFF excluded — it has its own multi-page route)."""
    return sniff_media_type(data) in _IMAGE_TYPES


def decode_image_gray(data: bytes) -> tuple[int, int, bytes] | None:
    """One standalone raster image → (w, h, 8-bit gray pixels), or None
    when undecodable (arithmetic JPEG, corrupt bytes). The
    shared decode dispatch for the pipeline's standalone-image OCR route."""
    try:
        mtype = sniff_media_type(data)
        if mtype == "image/png":
            from gnosis_ocr_spark.functions.codec_png import decode_png_gray

            return decode_png_gray(data)
        if mtype == "image/jpeg":
            from gnosis_ocr_spark.functions.codec_jpeg import (
                decode_jpeg,
                exif_orientation,
                orient_gray,
            )

            w, h, _, luma = decode_jpeg(data)
            # crawl JPEGs carry EXIF orientation that conformant viewers
            # (and thus the reference's poppler rendering) apply before
            # display — OCR must see the upright pixels
            luma, w, h = orient_gray(luma, w, h, exif_orientation(data))
            return w, h, luma
        if mtype == "image/gif":
            from gnosis_ocr_spark.functions.codec_media import decode_gif_gray

            return decode_gif_gray(data)
        if mtype == "image/bmp":
            from gnosis_ocr_spark.functions.codec_media import decode_bmp_gray

            return decode_bmp_gray(data)
        if mtype == "image/webp":
            from gnosis_ocr_spark.functions.codec_vp8l import decode_webp_gray

            return decode_webp_gray(data)
        if mtype == "image/jp2":
            from gnosis_ocr_spark.functions.codec_jpx import decode_jpx_gray

            return decode_jpx_gray(data)
    except Exception:
        return None
    return None


def _decode_png_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    w, h = decode_dimensions(data)
    return w, h, None


def _decode_jpeg_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL JPEG dimensions from the SOF marker (codec_jpeg; any DCT-family
    SOF — the pixel decode path additionally handles the baseline subset).
    EXIF orientations 5-8 swap the reported w/h — the upright dimensions
    a browser shows, consistent with the OCR image route."""
    from gnosis_ocr_spark.functions.codec_jpeg import (
        decode_jpeg_dimensions,
        exif_orientation,
    )

    w, h, _ = decode_jpeg_dimensions(data)
    if exif_orientation(data) >= 5:
        w, h = h, w
    return w, h, None


def _decode_gif_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL GIF logical-screen dimensions (codec_media)."""
    from gnosis_ocr_spark.functions.codec_media import gif_dimensions

    w, h = gif_dimensions(data)
    return w, h, None


def _decode_wav_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL WAV duration from the RIFF fmt/data chunks (codec_media)."""
    from gnosis_ocr_spark.functions.codec_media import wav_info

    _, _, _, dur = wav_info(data)
    return None, None, round(dur, 3)


def _decode_mp4_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL MP4 duration from the moov/mvhd box (codec_media)."""
    from gnosis_ocr_spark.functions.codec_media import mp4_duration

    return None, None, round(mp4_duration(data), 3)


def _decode_jp2_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL JPEG 2000 dimensions from the SIZ marker (codec_jpx)."""
    from gnosis_ocr_spark.functions.codec_jpx import decode_jpx_dimensions

    w, h, _ = decode_jpx_dimensions(data)
    return w, h, None


def _decode_tiff_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL TIFF dimensions from the first IFD (codec_tiff). Orientations
    5-8 (tag 274) swap the reported w/h — the upright dimensions, matching
    what decode_tiff_gray returns for the same bytes (the same
    consistency contract as the JPEG EXIF path)."""
    from gnosis_ocr_spark.functions.codec_tiff import tiff_info

    info = tiff_info(data)
    w, h = info["width"], info["height"]
    o = info["orientation"]
    if isinstance(o, int) and o >= 5:
        w, h = h, w
    return w, h, None


def _decode_bmp_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL BMP dimensions from the DIB header (codec_media)."""
    from gnosis_ocr_spark.functions.codec_media import bmp_dimensions

    w, h = bmp_dimensions(data)
    return w, h, None


def _decode_webp_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL WebP canvas dimensions (VP8/VP8L/VP8X headers, codec_media)."""
    from gnosis_ocr_spark.functions.codec_media import webp_dimensions

    w, h = webp_dimensions(data)
    return w, h, None


def _decode_heif_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL HEIF/AVIF dimensions from the meta→ispe walk (codec_media);
    pixel decode stays out (HEVC/AV1 — codec_media HEIF header for why)."""
    from gnosis_ocr_spark.functions.codec_media import heif_info

    info = heif_info(data)
    return info["width"], info["height"], None


def _decode_svg_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL SVG dimensions from the root tag's width/height attributes
    (absolute CSS units converted) or the viewBox extent (codec_media)."""
    from gnosis_ocr_spark.functions.codec_media import svg_dimensions

    w, h = svg_dimensions(data)
    return w, h, None


def _decode_ico_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL ICO dimensions: the largest directory entry (favicons ship
    multiple sizes; the largest is what consumers render)."""
    from gnosis_ocr_spark.functions.codec_media import ico_info

    w, h, _, _ = max(ico_info(data)["images"], key=lambda e: e[0] * e[1])
    return w, h, None


def _decode_mp3_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL MPEG-audio duration from the frame-header walk / Xing count
    (codec_media); the entropy-coded audio payload stays out."""
    from gnosis_ocr_spark.functions.codec_media import mp3_info

    return None, None, round(mp3_info(data)["duration_sec"], 3)


def _decode_flac_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL FLAC duration from the STREAMINFO block (codec_media)."""
    from gnosis_ocr_spark.functions.codec_media import flac_info

    return None, None, round(flac_info(data)["duration_sec"], 3)


def _decode_ogg_meta(data: bytes) -> tuple[int | None, int | None, float | None]:
    """REAL Ogg Vorbis/Opus duration from the last page's granule position
    (codec_media)."""
    from gnosis_ocr_spark.functions.codec_media import ogg_info

    return None, None, round(ogg_info(data)["duration_sec"], 3)


DECODERS = {
    "image/png": _decode_png_meta,  # real (stdlib codec)
    "image/jpeg": _decode_jpeg_meta,  # real (codec_jpeg SOF parse)
    "image/gif": _decode_gif_meta,  # real (codec_media LSD parse)
    "audio/wav": _decode_wav_meta,  # real (RIFF fmt/data duration)
    "video/mp4": _decode_mp4_meta,  # real (mvhd duration; no frame decode)
    "image/jp2": _decode_jp2_meta,  # real (codec_jpx SIZ parse)
    "image/tiff": _decode_tiff_meta,  # real (codec_tiff IFD parse)
    "image/bmp": _decode_bmp_meta,  # real (codec_media DIB parse)
    "image/webp": _decode_webp_meta,  # real (codec_media VP8* headers)
    "image/heif": _decode_heif_meta,  # real (meta→ispe walk; no HEVC decode)
    "image/avif": _decode_heif_meta,  # real (meta→ispe walk; no AV1 decode)
    "image/svg+xml": _decode_svg_meta,  # real (root-tag width/height/viewBox)
    "audio/mpeg": _decode_mp3_meta,  # real (frame-header walk / Xing count)
    "audio/flac": _decode_flac_meta,  # real (STREAMINFO totals)
    "audio/ogg": _decode_ogg_meta,  # real (last-page granule position)
    "image/x-icon": _decode_ico_meta,  # real (largest ICONDIR entry)
}


def _meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for b in batches:
        rows = {k: [] for k in ("url", "media_type", "byte_len", "width", "height", "duration_sec")}
        for url, blob in zip(b["url"], b["data"]):
            data = bytes(blob) if blob is not None else b""
            mtype = sniff_media_type(data)
            w = h = dur = None
            dec = DECODERS.get(mtype)
            if dec is not None:
                try:
                    w, h, dur = dec(data)
                except Exception:
                    pass
            rows["url"].append(url)
            rows["media_type"].append(mtype)
            rows["byte_len"].append(len(data))
            rows["width"].append(w)
            rows["height"].append(h)
            rows["duration_sec"].append(dur)
        yield pd.DataFrame(rows)


def media_metadata(df: DataFrame, url_col: str = "url", data_col: str = "data") -> DataFrame:
    """(url, data BINARY) → typed media metadata via one ``mapInPandas``."""
    slim = df.select(F.col(url_col).alias("url"), F.col(data_col).alias("data"))
    return slim.mapInPandas(_meta_batches, schema=MEDIA_META_SCHEMA)


def media_fixture_rows() -> list[tuple[str, bytes, str, int | None, int | None, int | None]]:
    """Deterministic one-per-format media payloads with BY-CONSTRUCTION
    expected metadata: (url, payload, media_type, width, height,
    duration_ms). Expected values come from the builder ARGUMENTS (the
    dimensions/durations the fixtures were constructed with), never from
    running this module's parsers — so the driver row that certifies
    ``media_metadata`` over these payloads is non-circular evidence, the
    same discipline as the corpus goldens (corpus.py header). Builders are
    conformance-checked externally where a system reference exists
    (libheif: test_heif.py; libwebp: test_conformance_webp.py; ImageIO:
    test_conformance_imageio.py)."""
    import numpy as np

    from gnosis_ocr_spark.functions.codec_jpeg import encode_gray_jpeg
    from gnosis_ocr_spark.functions.codec_jpx import encode_jp2
    from gnosis_ocr_spark.functions.codec_media import (
        build_flac,
        build_heif,
        build_mp3,
        build_mp4,
        build_ogg_opus,
        build_ogg_vorbis,
        build_wav,
        build_svg,
        build_webp_lossless_header,
        encode_gray_bmp,
        encode_gray_gif,
    )
    from gnosis_ocr_spark.functions.codec_png import encode_gray_png
    from gnosis_ocr_spark.functions.codec_tiff import encode_tiff_gray

    def px(w: int, h: int) -> bytes:
        return bytes((i * 7 + 13) % 256 for i in range(w * h))

    # 8000 samples at 16 kHz = exactly 0.5 s
    samples = np.sin(np.linspace(0.0, 40.0, 8000))
    rows = [
        ("fixture:png", encode_gray_png(px(20, 12), 20, 12), "image/png", 20, 12, None),
        ("fixture:jpeg", encode_gray_jpeg(px(24, 16), 24, 16), "image/jpeg", 24, 16, None),
        ("fixture:gif", encode_gray_gif(px(18, 10), 18, 10), "image/gif", 18, 10, None),
        ("fixture:bmp", encode_gray_bmp(px(22, 14), 22, 14), "image/bmp", 22, 14, None),
        ("fixture:webp", build_webp_lossless_header(30, 20), "image/webp", 30, 20, None),
        ("fixture:tiff", encode_tiff_gray(px(26, 18), 26, 18), "image/tiff", 26, 18, None),
        (
            "fixture:jp2",
            encode_jp2([np.frombuffer(px(16, 16), np.uint8).reshape(16, 16).astype(np.int32)]),
            "image/jp2", 16, 16, None,
        ),
        ("fixture:wav", build_wav(samples, 16000), "audio/wav", None, None, 500),
        ("fixture:mp4", build_mp4(2.5), "video/mp4", None, None, 2500),
        ("fixture:heif", build_heif(320, 200), "image/heif", 320, 200, None),
        (
            "fixture:avif",
            build_heif(100, 50, brand=b"avif", codec=b"av01"),
            "image/avif", 100, 50, None,
        ),
        (
            "fixture:svg",
            build_svg(640, 360, ("axis label",)),
            "image/svg+xml", 640, 360, None,
        ),
        # 25 frames x 1152/32000 s = exactly 900 ms
        ("fixture:mp3", build_mp3(25), "audio/mpeg", None, None, 900),
        (
            "fixture:mp3_id3",
            build_mp3(50, id3=b"TALB\x00\x00\x00\x04\x00\x00\x00alb"),
            "audio/mpeg", None, None, 1800,
        ),
        # 12000 samples at 16 kHz = exactly 750 ms
        ("fixture:flac", build_flac(12000), "audio/flac", None, None, 750),
        ("fixture:opus", build_ogg_opus(640), "audio/ogg", None, None, 640),
        # 2000 samples at 8 kHz = exactly 250 ms
        ("fixture:vorbis", build_ogg_vorbis(2000), "audio/ogg", None, None, 250),
    ]
    return rows
