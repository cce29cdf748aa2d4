"""The decode contract, swept across every media decoder: mutated crawl
bytes raise ValueError (or a subclass — JpegError/TiffError/…), NEVER a
raw IndexError/StopIteration/struct.error/zlib.error that callers can't
distinguish from an engine bug, and never RecursionError/MemoryError.

This is the uniform totality property callers use to tell a decode
failure from an engine bug, found violated in four codecs by a fuzz sweep
and pinned here for all of them. Formats with no pixel or sample decoder
(WAV, MP3, Ogg, HEIF, ICO, MP4) sweep their metadata parser. Deterministic
seed; ~100 mutations per format keeps the file under a few seconds."""

from __future__ import annotations

import numpy as np
import pytest


def _samples() -> dict[str, bytes]:
    from gnosis_ocr_spark.functions import codec_media as M
    from gnosis_ocr_spark.functions.codec_jpeg import (
        encode_gray_jpeg,
        encode_gray_jpeg_progressive,
    )
    from gnosis_ocr_spark.functions.codec_jpx import encode_jp2
    from gnosis_ocr_spark.functions.codec_png import encode_gray_png
    from gnosis_ocr_spark.functions.codec_tiff import encode_tiff_gray

    px = bytes((i * 7 + 3) % 256 for i in range(32 * 24))
    g = np.frombuffer(px, np.uint8).reshape(24, 32)
    return {
        "png": encode_gray_png(px, 32, 24),
        "jpeg": encode_gray_jpeg(px, 32, 24),
        "jpeg_prog": encode_gray_jpeg_progressive(px, 32, 24),
        "gif": M.encode_gray_gif(px, 32, 24),
        "bmp": M.encode_gray_bmp(px, 32, 24),
        "tiff": encode_tiff_gray(px, 32, 24, compression="lzw"),
        "jp2": encode_jp2([g]),
        "wav": M.build_wav(np.sin(np.arange(2000) / 20.0).astype(np.float32)),
        "mp3": M.build_mp3(20),
        "ogg": M.build_ogg_vorbis(8000),
        "heif": M.build_heif(60, 40),
        "ico": M.build_ico([(g, "dib32")]),
        "mp4": M.build_mp4(2.5),
    }


def _decoders() -> dict:
    from gnosis_ocr_spark.functions import codec_media as M
    from gnosis_ocr_spark.functions.codec_jpeg import decode_jpeg
    from gnosis_ocr_spark.functions.codec_jpx import decode_jpx_gray
    from gnosis_ocr_spark.functions.codec_png import decode_png_gray
    from gnosis_ocr_spark.functions.codec_tiff import decode_tiff_gray

    return {
        "png": decode_png_gray,
        "jpeg": decode_jpeg,
        "jpeg_prog": decode_jpeg,
        "gif": M.decode_gif_gray,
        "bmp": M.decode_bmp_gray,
        "tiff": decode_tiff_gray,
        "jp2": decode_jpx_gray,
        "wav": M.wav_info,
        "mp3": M.mp3_info,
        "ogg": M.ogg_info,
        "heif": M.heif_info,
        "ico": M.ico_info,
        "mp4": M.mp4_duration,
    }


@pytest.mark.parametrize("fmt", sorted(_samples().keys()))
def test_mutations_raise_only_valueerror(fmt):
    blob = _samples()[fmt]
    fn = _decoders()[fmt]
    rng = np.random.default_rng(13)
    for _ in range(100):
        m = bytearray(blob)
        for _ in range(int(rng.integers(1, 4))):
            m[int(rng.integers(0, len(m)))] = int(rng.integers(0, 256))
        try:
            fn(bytes(m))
        except ValueError:
            pass  # the contract (incl. JpegError/TiffError subclasses)
        except (RecursionError, MemoryError):
            raise
        # any other exception type propagates and fails the test
