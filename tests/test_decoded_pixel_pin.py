"""Decoded-pixel pin for the scanned-page image decoders.

The text goldens cannot see a decoder drift: the scan-matrix reader
tolerates ±7 per pixel (``codec_png.encode_scan_pixels_robust``), so a
lossy JPX or JPEG decoder that moved pixels would still give
byte-identical text. This test pins the sha256 of every
``pdf_split._gray_pixels`` output instead — the bench's scanned corpora
(every page, all eight scan variants) plus fixtures that reach the
code-block styles, generic-region templates and fax modes the corpora
do not. The expected digests were generated by this same code against
decoders that predate the loop-local entropy-coder rewrite; a decoder
change that moves one pixel fails here.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from gnosis_ocr_spark import corpus
from gnosis_ocr_spark.functions import codec_ccitt as C
from gnosis_ocr_spark.functions import codec_jbig2 as J
from gnosis_ocr_spark.functions import codec_jpeg as JP
from gnosis_ocr_spark.functions import codec_jpx as X
from gnosis_ocr_spark.functions import codec_pdf as P
from gnosis_ocr_spark.functions import codec_png as G
from gnosis_ocr_spark.operators.pdf_split import _gray_pixels

_TEXT = "Pinned pixels\nfor every decoder\nthe scan path runs"


def _digest(images) -> str:
    h = hashlib.sha256()
    for img in images:
        got = _gray_pixels(img)
        assert got is not None, img.codec
        px, w, hgt = got
        h.update(b"%d,%d;" % (w, hgt))
        h.update(px)
    return h.hexdigest()


def _scan_digests(seed: int) -> dict[str, str]:
    """One digest per scan variant over every page image of
    ``scanned_rows(32, seed)`` — the scan_ocr bench input at that seed."""
    per_variant: dict[str, list] = {}
    for i, row in enumerate(corpus.scanned_rows(32, seed)):
        variant = corpus._SCAN_VARIANTS[i % len(corpus._SCAN_VARIANTS)]
        for _, images in P.extract_pages_with_images(row.html):
            per_variant.setdefault(variant, []).extend(images)
    return {f"scan{seed}/{v}": _digest(ims) for v, ims in per_variant.items()}


def _texture(w: int, h: int) -> np.ndarray:
    """Gray test card: text pixels over a gradient with seeded noise, so
    every bit-plane carries detail and code-blocks see sign changes."""
    text = np.frombuffer(
        G.encode_scan_pixels(_TEXT, w, h), dtype=np.uint8
    ).reshape(h, w)
    yy, xx = np.mgrid[0:h, 0:w]
    grad = (xx * 3 + yy * 2) % 256
    noise = np.random.default_rng(5).integers(0, 40, size=(h, w))
    return ((text.astype(np.int64) // 2 + grad // 2 + noise) % 256).astype(
        np.uint8
    )


def _bilevel(w: int, h: int) -> bytes:
    """Packed 1-bpp page (0 bit = black): text rows on top, seeded
    speckle in the bottom half — typical (repeat) rows and busy rows."""
    bits = np.unpackbits(
        np.frombuffer(G.encode_scan_bits(_TEXT, w, h), dtype=np.uint8)
    ).reshape(h, -1)[:, :w].astype(bool)
    rng = np.random.default_rng(11)
    bits[h // 2 :] ^= rng.random((h - h // 2, w)) < 0.08
    return np.packbits(bits, axis=1).tobytes()


def _jpx_digests() -> dict[str, str]:
    w, h = 70, 45  # partial stripes and partial code-blocks
    card = _texture(w, h)
    styles = {
        "plain": 0x00, "bypass": 0x01, "reset": 0x02, "restart": 0x04,
        "causal": 0x08, "segsym": 0x20, "all": 0x2F,
    }
    out = {}
    for name, style in styles.items():
        for lossless in (True, False):
            data = X.encode_jpx([card], lossless=lossless, cb_style=style)
            img = P.PdfImage(w, h, 8, "DeviceGray", "jpx", data)
            out[f"jpx/{name}/{'53' if lossless else '97'}"] = _digest([img])
    rgb = np.stack([card, card[::-1], np.roll(card, 7, axis=1)])
    data = X.encode_jpx(list(rgb), lossless=False, cb_style=0x08)
    out["jpx/rgb97/causal"] = _digest(
        [P.PdfImage(w, h, 8, "DeviceRGB", "jpx", data)]
    )
    return out


def _jbig2_image(w: int, h: int, stream: bytes) -> P.PdfImage:
    return P.PdfImage(
        w, h, 1, "DeviceGray", "jbig2;i=0", b"\x00\x00\x00\x00" + stream
    )


def _jbig2_digests() -> dict[str, str]:
    w, h = 128, 96
    src = _bilevel(w, h)
    out = {}
    for template in range(4):
        for tpgdon in (True, False):
            stream = J.encode_jbig2_generic(
                src, w, h, template=template, tpgdon=tpgdon
            )
            out[f"jbig2/t{template}/tp{int(tpgdon)}"] = _digest(
                [_jbig2_image(w, h, stream)]
            )
    stream = J.encode_jbig2_generic(
        src, w, h, template=0, tpgdon=True,
        at=((2, -1), (-3, -1), (1, -2), (-2, -2)),
    )
    out["jbig2/t0/custom_at"] = _digest([_jbig2_image(w, h, stream)])
    return out


def _ccitt_digests() -> dict[str, str]:
    w, h = 128, 96
    src = _bilevel(w, h)
    encoders = {
        "g4": (-1, C.encode_g4),
        "g3_1d": (0, C.encode_g3_1d),
        "g3_2d": (4, C.encode_g3_2d),
    }
    out = {}
    for name, (k, enc) in encoders.items():
        for black_is_1 in (False, True):
            for byte_align in (False, True):
                stream = enc(src, w, h, black_is_1, byte_align)
                codec = (
                    f"ccitt;k={k};c={w};r={h};b={int(black_is_1)};"
                    f"a={int(byte_align)}"
                )
                img = P.PdfImage(w, h, 1, "DeviceGray", codec, stream)
                out[f"{name}/b{int(black_is_1)}/a{int(byte_align)}"] = (
                    _digest([img])
                )
    return out


def _jpeg_digests() -> dict[str, str]:
    w, h = 70, 45
    px = _texture(w, h).tobytes()
    return {
        "jpeg/baseline": _digest(
            [P.PdfImage(w, h, 8, "DeviceGray", "dct",
                        JP.encode_gray_jpeg(px, w, h))]
        ),
        "jpeg/progressive": _digest(
            [P.PdfImage(w, h, 8, "DeviceGray", "dct",
                        JP.encode_gray_jpeg_progressive(px, w, h))]
        ),
    }


def _scan_all() -> dict[str, str]:
    return {**_scan_digests(7), **_scan_digests(1)}


_GROUPS = {
    "scan": _scan_all,
    "jpx": _jpx_digests,
    "jbig2": _jbig2_digests,
    "ccitt": _ccitt_digests,
    "jpeg": _jpeg_digests,
}

# generated by _GROUPS against the decoders before the rewrite
EXPECTED: dict[str, dict[str, str]] = {'ccitt': {'g3_1d/b0/a0': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'g3_1d/b0/a1': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'g3_1d/b1/a0': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'g3_1d/b1/a1': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'g3_2d/b0/a0': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'g3_2d/b0/a1': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'g3_2d/b1/a0': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'g3_2d/b1/a1': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'g4/b0/a0': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'g4/b0/a1': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'g4/b1/a0': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'g4/b1/a1': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b'},
 'jbig2': {'jbig2/t0/custom_at': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'jbig2/t0/tp0': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'jbig2/t0/tp1': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'jbig2/t1/tp0': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'jbig2/t1/tp1': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'jbig2/t2/tp0': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'jbig2/t2/tp1': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'jbig2/t3/tp0': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b',
           'jbig2/t3/tp1': '2f9766740fe20b78c37a781846fa716e0a5fae6f4090b40db9767a5d2d3bc81b'},
 'jpeg': {'jpeg/baseline': 'c02e0d7dc30a065f8f95230b07f7822b0cc4994d37002532dc09514fe1dcdf4a',
          'jpeg/progressive': 'c02e0d7dc30a065f8f95230b07f7822b0cc4994d37002532dc09514fe1dcdf4a'},
 'jpx': {'jpx/all/53': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50',
         'jpx/all/97': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50',
         'jpx/bypass/53': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50',
         'jpx/bypass/97': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50',
         'jpx/causal/53': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50',
         'jpx/causal/97': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50',
         'jpx/plain/53': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50',
         'jpx/plain/97': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50',
         'jpx/reset/53': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50',
         'jpx/reset/97': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50',
         'jpx/restart/53': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50',
         'jpx/restart/97': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50',
         'jpx/rgb97/causal': 'd42c40bfa529a2733f87f859436a7d66052f6dea9fa019f4308062eae0ad99f5',
         'jpx/segsym/53': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50',
         'jpx/segsym/97': '17b75f9ce39de27fb5728b38b682df4e5c50c2d762d1cbcb11ffd590ee073d50'},
 'scan': {'scan1/g3_2d': '6a692bd0adaf18a94686d52b091fe7760dfd023fa618fe88d807217430a77b85',
          'scan1/g4': '0a1758d5eef9e7b04959f4a0ec0b61fdbf8216aadc2a1fb533cc487620496610',
          'scan1/jbig2': '4442a65950de4dee02fee067990297a833db84ccaed2866bcaaecf5cfb412cf4',
          'scan1/jbig2_globals': '8785614cfa76f98a56c739aa5678e040f762c3e3211433dba9b87120834fa275',
          'scan1/jpeg': '5f21991aab08d64bc10905a61f954d3620bf1d09d72047d0a4c5d6be1a8d848d',
          'scan1/jpeg_prog': 'fbe16c461514377b61e79b59890138bfbce937904c2e82278c5a119d015b6dee',
          'scan1/jpx_jp2': 'b2f503d96e2c668cb301290386c157e2885091ce5eae7de9f72d6d410661a857',
          'scan1/raw1': '180c21cae62b804179f163d70f2b9386e2bb5a66a690ae3e693f449eeece6e57',
          'scan7/g3_2d': '7c0766c4f19404c2944246d8e4b4e8cba451ef04f5509db77125731944db954f',
          'scan7/g4': '04c2a9d538921c9f04ecc204d14647c4f89aeb3a2282d16439164ec47ed98f70',
          'scan7/jbig2': '17a267bd886060767b5668727d0257fa881fc2866eed21300fd39e46ba0f551b',
          'scan7/jbig2_globals': '6ffc3bdedd9ccbd48853813fc985ef39fef2cb19889460d1fe09921d0fc9053c',
          'scan7/jpeg': 'f9280c0a89999a1cfcbb210d15e404802c548810afef4c66c08b9b2df8c34ba6',
          'scan7/jpeg_prog': 'd828df950ef8a14746128c669893610b2534e60506fde0a633b7f908dd642731',
          'scan7/jpx_jp2': '15cca990e8b343b8a9080f6041fb5f9cba488e6d76bb54a1b68fe6d1dd78a784',
          'scan7/raw1': 'ca4681f91b33e66736119adc25aad156274f9c0f66ad4bbe73c26d1db8f8e806'}}


@pytest.mark.parametrize("group", sorted(_GROUPS))
def test_decoded_pixels_match_pinned_digests(group):
    assert _GROUPS[group]() == EXPECTED[group]
