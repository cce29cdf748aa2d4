"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1).

Generates the exact ``input_hint`` table
``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)``
plus the golden table ``(url, extracted_text, n_pages)`` whose values are
known *by construction* — the generator composes documents from known main
content, so the expected extraction is computed from the same ingredients,
not by running the extractor (no circularity). Seed=42 convention; no
wall-clock, no external data.

Row mix (FIXTURES.md; per 20-row slot cycle): 45% HTML with boilerplate
wrappers, 15% office/e-book/mail/feed formats, 25% short PDFs (1–3
pages), 5% standalone raster images (direct-upload OCR path), 5% skew
PDFs (50–200 pages — exercises salted size-bucket repartitioning), 5%
adversarial (empty, truncated PDF, non-UTF8 prefix, misleading
extension).
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

from gnosis_ocr_spark.functions.codec_pdf import build_pdf

_WORDS = (
    "analysis baseline corpus dataset engine extraction fixture golden heuristic "
    "inference journal kernel layout markup notebook operator pipeline query "
    "raster schema token union vector workload crawl archive render segment "
    "partition shuffle broadcast salted manifest lineage checkpoint replica"
).split()

_EPOCH = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
_LANGS = ["en", "en", "en", "en", "en", "en", "en", "de", "fr", ""]

# bump whenever generated BYTES change (writer rotation, layout, mix) so
# disk caches keyed on it (bench corpus parquet) invalidate; the *expected
# text* goldens are separately guarded by tests/test_frozen_goldens.py
# v5: writer rotation 14 → 18 (scanned_g4, scanned_1bit, scanned_jpeg_prog,
# type0_gbk); v6: +scanned_inline (19); v7: +scanned_g3_2d (20, /K 4
# mixed two-dimensional G3 — the fax-originated shape); v8: +scanned_jbig2
# (21, ITU-T T.88 arithmetic generic region via codec_jbig2); v9:
# +scanned_jbig2_sym (22, symbol dictionary + text region — the jbig2enc
# shape — with the dictionary in a shared /JBIG2Globals stream); v10:
# +scanned_jpx (23, JPEG 2000 /JPXDecode: JP2-boxed lossy 9/7 codestream
# via codec_jpx); v11: 3 of the 12 html slots per 20 become OFFICE
# documents (docx/rtf/epub/odt/xlsx/pptx rotation — the ZIP/XML/RTF
# extraction routes), goldens regenerated deliberately; v12: the office
# rotation widens to 10 formats (+doc/xls/ppt over the from-scratch CFB
# container, +eml MIME), goldens regenerated deliberately; v13: +gzhtml
# (still-content-encoded payload: gzip-wrapped HTML gunzipped and
# re-sniffed in the light branch); v14: +rss/+atom web feeds (CDATA and
# escaped bodies through the U7 extractor, route 'feed'); v15: LZW
# encoder EOI-width fix changes LZW-writer bytes (extraction unchanged);
# v16: slot 17 becomes a STANDALONE IMAGE document (png/jpeg/gif/bmp/
# webp-lossless/jp2 rotation — the reference's direct image-upload OCR
# path, route 'image' through the heavy raster+OCR branch); v18: +annot
# (24 PDF writer classes: the page's last line lives in a visible
# FreeText annotation /AP /N appearance stream — rendered by poppler,
# hence OCR'd by the reference — alongside a hidden (/F 2) decoy
# appearance and a bare /Link, both of which must NOT extract); v19:
# +type1_builtin/+ttf_symbol (fonts whose ONLY encoding lives in the
# embedded font PROGRAM — Type1 cleartext /Encoding and symbolic-
# TrueType cmap(3,0)+post — the subset-font shape poppler resolves via
# FreeType's builtin-encoding chain); v20: +cff_builtin (bare-CFF
# /FontFile3 /Type1C custom Encoding/charset/String-INDEX names — the
# compact-font member of the same family) and +incremental (28 PDF
# writer classes: incrementally UPDATED file — appended replacement
# objects + /Prev xref chain, the signature/form-fill/edit shape;
# extraction must show the LATEST generation, decoy original must not);
# v21: +matrix (29 PDF writer classes: full text/CTM affine composition —
# q/Q + cm translation with a scaled decoy push/pop, 90°-rotated Tm with
# Td and TL/T* advances that must compose THROUGH the rotation — the
# LibreOffice/InDesign generator shapes poppler resolves via Trm=Tm·CTM);
# v22: +rotate (30 PDF writer classes: /Rotate 90/180/270 pages authored
# in rotated space — the landscape-scan/fax-import shape; spans must
# normalize into DISPLAY orientation or every line of a 90°/270° page
# collapses into one row; /Rotate inherited from the /Pages root on odd
# page counts, exercising §7.7.3.4 attribute inheritance);
# v23: +scanned_rotate (31 PDF writer classes: image-only /Rotate page —
# samples stored sideways (sheet fed into the scanner rotated) and the
# scanned path must turn the assembled raster clockwise into display
# orientation before OCR, like poppler's rasterizer; also rides the GIMG
# deferred-image container's new page-rotation byte);
# v24: +actualtext (32 PDF writer classes: /ActualText marked content —
# tagged-PDF replacement text for ligatures/hyphenation; enclosed decoy
# shows must be substituted by the region's text, nested regions and
# UTF-16BE text strings included — poppler's TextOutputDev behavior);
# v25: +ocg (33 PDF writer classes: optional content groups §8.11 — the
# CAD/map/watermark layers shape; /OC regions of an OFF-by-default OCG
# must not extract, incl. visible-nested-inside-hidden, while
# ON-by-default layers must — a conforming viewer never draws OFF
# layers, so leaked decoys would add golden rows);
# v26: +type3 (34 PDF writer classes: /Subtype /Type3 glyph-procedure
# fonts §9.6.5, the dvips/LaTeX bitmap-font shape — every char remapped
# through the REQUIRED /Encoding /Differences array, with a decoy
# CharProcs stream containing text operators that must NOT extract);
# v27: +scanned_cs (35 PDF writer classes: non-trivial image colorspaces
# §8.6 — /Indexed palette, [/ICCBased n 0 R] by /N, raw /DeviceCMYK —
# rotating by page count; each reduces to the exact scan-matrix gray);
# v28: +scanned_fn (36 PDF writer classes: function-driven colorspaces —
# /Separation with a Type 4 calculator tint transform, single-colorant
# /DeviceN with a Type 0 sampled ramp, Type 3 inline-stitched
# /Separation, and /Lab lightness — rotating by page count; each
# evaluates through functions/pdf_function.py back to the exact
# scan-matrix gray)
CORPUS_VERSION = 29


@dataclass(frozen=True)
class CorpusRow:
    url: str
    warc_ts: dt.datetime
    html: bytes
    text: str | None
    lang: str
    # golden
    expected_text: str
    n_pages: int


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _paragraph(rng: random.Random) -> str:
    # single-space words: whitespace normalization is the identity, so the
    # expected extraction equals the raw paragraph
    return _sentence(rng, rng.randint(8, 30)).capitalize() + "."


def _html_doc(rng: random.Random, i: int) -> tuple[bytes, str]:
    heading = _sentence(rng, rng.randint(2, 5)).title()
    paras = [_paragraph(rng) for _ in range(rng.randint(2, 6))]
    nav_items = "".join(
        f'<li><a href="/{w}">{w}</a></li>' for w in rng.sample(_WORDS, 5)
    )
    related = "".join(
        f'<li><a href="/r/{w}">{_sentence(rng, 3)}</a></li>'
        for w in rng.sample(_WORDS, 4)
    )
    body_paras = "".join(f"<p>{p}</p>" for p in paras)
    html = (
        f"<!DOCTYPE html><html><head><title>doc {i}</title>"
        f'<meta charset="utf-8"></head><body>'
        f"<nav><ul>{nav_items}</ul></nav>"
        f'<div class="sidebar"><p>{_sentence(rng, 12)}</p></div>'
        f"<article><h1>{heading}</h1>{body_paras}"
        f"<div><ul>{related}</ul></div>"  # high link density → dropped
        f"</article>"
        f'<div class="ad"><p>{_sentence(rng, 10)}</p></div>'
        f"<footer><p>copyright {_sentence(rng, 6)}</p></footer>"
        f"</body></html>"
    )
    expected = "\n\n".join([heading] + paras)
    return html.encode("utf-8"), expected


# PDF file classes rotated by INDEX PARITY (never an rng draw, so goldens
# are untouched by rotation changes): every writer emits the identical
# 72/720 14-pt layout (property-tested byte-equal), so the golden depends
# only on `pages`, never on the writer class. The rotation covers the
# real-crawl file shapes the codec supports: plain / FlateDecode classic,
# PDF 1.5 (ObjStm + xref stream + split content streams + Tm/TL/'),
# LZWDecode, chained ASCII85+Flate with indirect /Length, kerning-only
# word breaks (TJ adjustments, zero 0x20 bytes in show strings),
# RC4-encrypted (standard handler, empty user password), and composite
# Type0/Identity-H (every char a 2-byte CID through a /ToUnicode CMap —
# meaningful even for ASCII text), and Form-XObject pages (first line
# drawn via /Fm Do with a /Matrix translation — letterhead/stamp shape),
# and AES-128 /V 4 /CFM /AESV2 encryption (Acrobat-7-era norm; AES-256
# /R 6 is supported but unit-tested only — its hardened password hash
# costs ~0.4 s/file in pure Python, too slow for a 500-doc rotation),
# and scanned/image-only pages (one DeviceGray image XObject per page,
# zero text operators — the raster goes through the OCR seam; the
# scan-matrix pixels make the expected text knowable by construction),
# including the dominant real-crawl scanned-B/W encodings: CCITT-G4
# (ITU-T T.6 via codec_ccitt), JBIG2 generic regions (ITU-T T.88 via
# codec_jbig2), and raw 1-bit DeviceGray, and embedded-font-program
# builtin encodings (Type1 /FontFile cleartext /Encoding; symbolic
# TrueType /FontFile2 cmap+post) where the PDF dict carries no
# encoding info at all.
_PDF_WRITERS = (
    "flate", "plain", "pdf15", "lzw", "a85flate", "tj_kerned", "rc4",
    "type0", "form_xobj", "aes", "type0_cmap", "scanned", "type0_ucs2",
    "scanned_jpeg", "scanned_g4", "scanned_1bit", "scanned_jpeg_prog",
    "type0_gbk", "scanned_inline", "scanned_g3_2d", "scanned_jbig2",
    "scanned_jbig2_sym", "scanned_jpx", "annot", "type1_builtin",
    "ttf_symbol", "cff_builtin", "incremental", "matrix", "rotate",
    "scanned_rotate", "actualtext", "ocg", "type3", "scanned_cs",
    "scanned_fn",
)


def _pdf_doc(rng: random.Random, n_pages: int,
             writer: str = "plain") -> tuple[bytes, str]:
    from gnosis_ocr_spark.functions import codec_pdf as _cp

    pages = []
    for _ in range(n_pages):
        lines = [_sentence(rng, rng.randint(4, 8)) for _ in range(rng.randint(3, 8))]
        pages.append("\n".join(lines))
    expected = "\n\n".join(pages).strip()
    if writer == "pdf15":
        return _cp.build_pdf_15(pages), expected
    if writer == "flate":
        return build_pdf(pages, compress=True), expected
    if writer == "lzw":
        return _cp.build_pdf_filtered(pages, filters=("LZWDecode",)), expected
    if writer == "a85flate":
        return (
            _cp.build_pdf_filtered(
                pages, filters=("ASCII85Decode", "FlateDecode"),
                indirect_length=True,
            ),
            expected,
        )
    if writer == "tj_kerned":
        return _cp.build_pdf_tj_kerned(pages), expected
    if writer == "rc4":
        return _cp.build_pdf_encrypted(pages, revision=3), expected
    if writer == "type0":
        return _cp.build_pdf_type0(pages), expected
    if writer == "form_xobj":
        return _cp.build_pdf_form_xobject(pages), expected
    if writer == "annot":
        # alternate the /AP /N shape: direct stream ref / state dict + /AS
        return (
            _cp.build_pdf_annots(pages, state_dict=n_pages % 2 == 1),
            expected,
        )
    if writer == "aes":
        return _cp.build_pdf_encrypted(pages, revision=4), expected
    if writer == "type0_cmap":
        return _cp.build_pdf_type0(pages, custom_cmap=True), expected
    if writer == "scanned":
        return _cp.build_pdf_scanned(pages), expected
    if writer == "type0_gbk":
        # legacy byte-oriented predefined CMap (GBK-EUC-H): show strings
        # are GBK bytes, decoded via the stdlib codec — no ToUnicode
        return (
            _cp.build_pdf_type0(pages, predefined="GBK-EUC-H", charset="gbk"),
            expected,
        )
    if writer == "type0_ucs2":
        # predefined UCS-2 CMap by name (UniGB-UCS2-H), no ToUnicode
        return _cp.build_pdf_type0(pages, predefined="UniGB-UCS2-H"), expected
    if writer == "scanned_jpeg":
        # real baseline-JPEG scanned page (/DCTDecode via codec_jpeg)
        return _cp.build_pdf_scanned(pages, image_filter="jpeg"), expected
    if writer == "scanned_g4":
        # CCITT Group 4 fax (ITU-T T.6) — the dominant scanned-B/W shape
        return (
            _cp.build_pdf_scanned(
                pages, width=128, height=128, image_filter="g4"
            ),
            expected,
        )
    if writer == "scanned_jpeg_prog":
        # real progressive (SOF2) JPEG scanned page — the common crawl shape
        return _cp.build_pdf_scanned(pages, image_filter="jpeg_prog"), expected
    if writer == "scanned_inline":
        # BI/ID/EI inline image drawn straight in the content stream
        return _cp.build_pdf_scanned(pages, image_filter="inline"), expected
    if writer == "scanned_g3_2d":
        # CCITT mixed 2-D G3 (/K 4, T.4 §4.2.1 EOL+tag lines) — the
        # fax-originated scanned shape, decoded via codec_ccitt
        return (
            _cp.build_pdf_scanned(
                pages, width=128, height=128, image_filter="g3_2d"
            ),
            expected,
        )
    if writer == "scanned_jbig2":
        # JBIG2 embedded stream: one arithmetic (MQ) generic region with
        # TPGDON — the other dominant scanned-B/W codec (ITU-T T.88)
        return (
            _cp.build_pdf_scanned(
                pages, width=128, height=128, image_filter="jbig2"
            ),
            expected,
        )
    if writer == "scanned_jpx":
        # JPEG 2000 (/JPXDecode): JP2-boxed lossy 9/7 codestream over the
        # noise-tolerant scan matrix — the photo/scan shape via codec_jpx
        return (
            _cp.build_pdf_scanned(
                pages, width=128, height=128, image_filter="jpx_jp2"
            ),
            expected,
        )
    if writer == "scanned_jbig2_sym":
        # symbol-coded JBIG2 (symbol dictionary + text region, the
        # jbig2enc shape) with the dictionary in a shared /JBIG2Globals
        # stream — the layout real scanned-text PDFs carry
        return (
            _cp.build_pdf_scanned(
                pages, width=128, height=128, image_filter="jbig2_globals"
            ),
            expected,
        )
    if writer == "scanned_1bit":
        # raw packed 1-bit DeviceGray samples under FlateDecode
        return (
            _cp.build_pdf_scanned(
                pages, width=128, height=128, image_filter="raw1"
            ),
            expected,
        )
    if writer == "type1_builtin":
        # encoding ONLY in the embedded Type1 program (cleartext dup/put)
        return _cp.build_pdf_embedded_font(pages, kind="type1"), expected
    if writer == "ttf_symbol":
        # symbolic TrueType: cmap (3,0) format 4 + post 2.0 glyph names
        return _cp.build_pdf_embedded_font(pages, kind="truetype"), expected
    if writer == "cff_builtin":
        # bare-CFF (Type1C) custom Encoding + charset + String INDEX names
        return _cp.build_pdf_embedded_font(pages, kind="cff"), expected
    if writer == "incremental":
        # incrementally updated file: decoy original + appended update
        # (/Prev xref chain; ObjStm-hybrid shape on odd page counts)
        return (
            _cp.build_pdf_incremental(pages, objstm=n_pages % 2 == 1),
            expected,
        )
    if writer == "matrix":
        # full text/CTM affine composition: q/cm-positioned and
        # 90°-rotated-Tm lines that land on the canonical grid only
        # through Trm = Tm·CTM (poppler's reading)
        return _cp.build_pdf_matrix(pages), expected
    if writer == "rotate":
        # /Rotate 90/180/270 page (by page count) authored in rotated
        # space; /Rotate inherited from the /Pages root on odd counts
        return _cp.build_pdf_rotate(pages, inherit=n_pages % 2 == 1), expected
    if writer == "scanned_rotate":
        # image-only /Rotate page: sideways-stored samples the scanned
        # path must rotate back upright before OCR (poppler parity)
        return (
            _cp.build_pdf_scanned(
                pages, rotate=(90, 180, 270)[n_pages % 3]
            ),
            expected,
        )
    if writer == "actualtext":
        # /ActualText marked content: decoy shows replaced by the
        # region's text (ligature/hyphenation tagged-PDF shape)
        return _cp.build_pdf_actualtext(pages), expected
    if writer == "ocg":
        # optional content: OFF-layer watermark decoys must not extract
        return _cp.build_pdf_ocg(pages), expected
    if writer == "type3":
        # Type3 glyph-procedure font: text recoverable only through the
        # /Differences array; CharProcs decoy text must not extract
        return _cp.build_pdf_type3(pages), expected
    if writer == "scanned_cs":
        # non-trivial image colorspace (Indexed / ICCBased / DeviceCMYK
        # by page count): each reduces to the exact scan-matrix gray
        return (
            _cp.build_pdf_scanned(
                pages,
                image_filter=("indexed", "icc", "cmyk")[n_pages % 3],
            ),
            expected,
        )
    if writer == "scanned_fn":
        # function-driven colorspace (§7.10 tint transforms by page
        # count): Separation/Type 4, DeviceN/Type 0, inline-Type 3
        # Separation, Lab — each evaluates back to the scan-matrix gray
        return (
            _cp.build_pdf_scanned(
                pages,
                image_filter=(
                    "separation", "devicen", "separation_t3", "lab"
                )[n_pages % 4],
            ),
            expected,
        )
    return build_pdf(pages), expected


# office-format rotation (index-counter based, same convention as
# _PDF_WRITERS): every format wraps the same known paragraphs, so the
# golden depends only on the text — knowable by construction. pptx/ppt
# slides and epub chapters carry one paragraph each (n_pages = paragraph
# count); xls fixtures use one sheet (n_pages = 1).
_OFFICE_FORMATS = (
    "docx", "rtf", "epub", "odt", "xlsx", "pptx",
    "doc", "ppt", "xls", "eml", "gzhtml", "rss", "atom",
)


def _office_doc(rng: random.Random, fmt: str) -> tuple[bytes, str, int]:
    from gnosis_ocr_spark.operators import legacy_office as _lo
    from gnosis_ocr_spark.operators import office_extract as _oe

    paras = [_paragraph(rng) for _ in range(rng.randint(2, 5))]
    expected = "\n\n".join(paras)
    if fmt == "docx":
        return _oe.build_docx(paras), expected, 1
    if fmt == "rtf":
        return _oe.build_rtf(paras), expected, 1
    if fmt == "odt":
        return _oe.build_odt(paras), expected, 1
    if fmt == "xlsx":
        return _oe.build_xlsx([[p] for p in paras]), expected, 1
    if fmt == "pptx":
        return _oe.build_pptx([[p] for p in paras]), expected, len(paras)
    if fmt == "doc":
        return _lo.build_doc(paras), expected, 1
    if fmt == "ppt":
        return _lo.build_ppt([[p] for p in paras]), expected, len(paras)
    if fmt == "xls":
        return _lo.build_xls([[p] for p in paras]), expected, 1
    if fmt == "eml":
        # alternate plain and HTML-part messages on paragraph-count parity
        return (
            _lo.build_eml(paras, html_alternative=len(paras) % 2 == 0),
            expected,
            1,
        )
    if fmt == "gzhtml":
        # still-content-encoded crawl payload: gzip-wrapped article HTML
        import gzip as _gz

        body = "".join(
            f"<p>{p.replace('&', '&amp;').replace('<', '&lt;')}</p>"
            for p in paras
        )
        page = f"<html><body><article>{body}</article></body></html>"
        return _gz.compress(page.encode("utf-8"), mtime=0), expected, 1
    if fmt in ("rss", "atom"):
        # web feed: one item/entry per paragraph, empty titles (skipped by
        # the extractor) so the golden is exactly the paragraphs; bodies
        # are article HTML through the U7 extractor. RSS alternates CDATA
        # vs entity-escaped on paragraph-count parity.
        from gnosis_ocr_spark.operators import feed_extract as _fe

        def art(p: str) -> str:
            esc = p.replace("&", "&amp;").replace("<", "&lt;")
            return f"<article><p>{esc}</p></article>"

        feed_items = [("", art(p)) for p in paras]
        if fmt == "rss":
            blob = _fe.build_rss("", feed_items, cdata=len(paras) % 2 == 0)
        else:
            blob = _fe.build_atom("", feed_items)
        return blob, expected, len(paras)
    # epub: one chapter per paragraph, spine order = paragraph order
    return _oe.build_epub([[p] for p in paras]), expected, len(paras)


# standalone-image rotation (counter-indexed like _PDF_WRITERS): the
# reference OCRs direct image uploads (png/jpg/jpeg/webp accepted,
# app/static/js/app.js:392); each fixture is ONE scan-matrix page whose
# pixels carry the expected text — lossless codecs carry the plain
# matrix, lossy ones (jpeg) the redundancy-coded robust matrix.
_IMAGE_FORMATS = ("png", "jpeg", "gif", "bmp", "webp", "jp2", "webp_lossy")


def _image_doc(rng: random.Random, fmt: str) -> tuple[bytes, str]:
    from gnosis_ocr_spark.functions.codec_png import (
        encode_gray_png,
        encode_scan_pixels,
        encode_scan_pixels_robust,
    )

    lines = [_sentence(rng, rng.randint(4, 8)) for _ in range(rng.randint(2, 4))]
    expected = "\n".join(lines).strip()
    if fmt == "jpeg":
        from gnosis_ocr_spark.functions.codec_jpeg import encode_gray_jpeg

        return encode_gray_jpeg(
            encode_scan_pixels_robust(expected, 64, 64), 64, 64
        ), expected
    px = encode_scan_pixels(expected, 64, 64)
    if fmt == "png":
        return encode_gray_png(px, 64, 64), expected
    if fmt == "gif":
        from gnosis_ocr_spark.functions.codec_media import encode_gray_gif

        return encode_gray_gif(px, 64, 64), expected
    if fmt == "bmp":
        from gnosis_ocr_spark.functions.codec_media import encode_gray_bmp

        return encode_gray_bmp(px, 64, 64), expected
    if fmt == "webp":
        from gnosis_ocr_spark.functions.codec_vp8l import (
            encode_webp_lossless_gray,
        )

        return encode_webp_lossless_gray(px, 64, 64), expected
    if fmt == "webp_lossy":
        import numpy as np

        from gnosis_ocr_spark.functions.codec_vp8 import build_webp_lossy

        arr = np.frombuffer(
            encode_scan_pixels_robust(expected, 64, 64), np.uint8
        ).reshape(64, 64)
        # qindex 0: VP8 quantization noise stays inside the robust
        # matrix's ±7 band tolerance (same rationale as the jpeg fixture)
        return build_webp_lossy(arr, qindex=0)[0], expected
    # jp2: lossless 5/3 codestream in the JP2 box layout (bit-exact)
    import numpy as np

    from gnosis_ocr_spark.functions.codec_jpx import encode_jp2

    arr = np.frombuffer(px, dtype=np.uint8).reshape(64, 64)
    return encode_jp2([arr], lossless=True), expected


# one-corpus memo: generate_rows is deterministic and bench/oracle paths
# call it up to three times per run (rows + corpus_df + golden_df) — at
# n=2000 each regeneration re-encodes every PDF (~minutes with the round-5
# entropy codecs in the rotation). Rows are frozen dataclasses; callers
# never mutate the list. One entry only: two corpora never coexist.
_ROWS_MEMO: dict[tuple[int, int, int], list[CorpusRow]] = {}


def generate_rows(n: int = 200, seed: int = 42, skew_max_pages: int = 120) -> list[CorpusRow]:
    memo_key = (n, seed, skew_max_pages)
    hit = _ROWS_MEMO.get(memo_key)
    if hit is not None:
        return hit
    rng = random.Random(seed)
    rows: list[CorpusRow] = []
    office_i = 0  # per-office counter (same aliasing rationale as pdf_i)
    image_i = 0  # per-image counter (same aliasing rationale as pdf_i)
    pdf_i = 0  # per-PDF counter for the writer rotation: indexing it on the
    # global row index would alias against the 20-row slot cycle whenever
    # len(_PDF_WRITERS) shares a factor with 20 (at 20 writers the class
    # would be LOCKED to the slot and most writers would never appear).
    # The per-PDF counter alone STILL aliased against the 6-PDFs-per-block
    # sub-cycle (gcd(6, 36) = 6: the skew slot only ever saw 6 of the 36
    # writer classes and the short slots never saw those 6) — the
    # pdf_i // 6 phase shift below walks every class through every slot
    for i in range(n):
        ts = _EPOCH + dt.timedelta(minutes=i)
        lang = rng.choice(_LANGS)
        slot = i % 20  # 9 html, 3 office, 5 pdf, 1 image, 1 skew, 1 adv / 20
        if slot < 9:
            html, expected = _html_doc(rng, i)
            # index-parity UTF-16 re-encoding (ASCII content, so the decoded
            # text — and the golden — is identical): exercises the BOM
            # charset path end-to-end, not just in units
            if i % 12 == 7:
                html = b"\xff\xfe" + html.decode("utf-8").encode("utf-16-le")
            elif i % 12 == 3:
                html = b"\xfe\xff" + html.decode("utf-8").encode("utf-16-be")
            url = f"https://example-{i:06d}.test/doc-{i}.html"
            raw_text = expected.replace("\n\n", "\n")  # WARC-ish rendering
            rows.append(CorpusRow(url, ts, html, raw_text, lang, expected, 1))
        elif slot < 12:
            fmt = _OFFICE_FORMATS[office_i % len(_OFFICE_FORMATS)]
            office_i += 1
            blob, expected, n_pages = _office_doc(rng, fmt)
            url = f"https://example-{i:06d}.test/attach-{i}.{fmt}"
            raw_text = expected.replace("\n\n", "\n")
            rows.append(
                CorpusRow(url, ts, blob, raw_text, lang, expected, n_pages)
            )
        elif slot < 17:
            n_pages = rng.randint(1, 3)
            pdf, expected = _pdf_doc(rng, n_pages, writer=_PDF_WRITERS[(pdf_i + pdf_i // 6) % len(_PDF_WRITERS)])
            pdf_i += 1
            url = f"https://example-{i:06d}.test/paper-{i}.pdf"
            rows.append(CorpusRow(url, ts, pdf, None, lang, expected, n_pages))
        elif slot == 17:  # standalone raster image (direct-upload OCR path)
            fmt = _IMAGE_FORMATS[image_i % len(_IMAGE_FORMATS)]
            image_i += 1
            blob, expected = _image_doc(rng, fmt)
            url = f"https://example-{i:06d}.test/scan-{i}.{fmt}"
            rows.append(CorpusRow(url, ts, blob, None, lang, expected, 1))
        elif slot == 18:  # skew document
            n_pages = rng.randint(50, skew_max_pages)
            pdf, expected = _pdf_doc(rng, n_pages, writer=_PDF_WRITERS[(pdf_i + pdf_i // 6) % len(_PDF_WRITERS)])
            pdf_i += 1
            url = f"https://example-{i:06d}.test/opus-{i}.pdf"
            rows.append(CorpusRow(url, ts, pdf, None, lang, expected, n_pages))
        else:  # adversarial, rotating
            kind = (i // 20) % 4
            if kind == 0:  # empty payload
                rows.append(
                    CorpusRow(
                        f"https://example-{i:06d}.test/empty-{i}.html",
                        ts, b"", None, lang, "", 0,
                    )
                )
            elif kind == 1:  # truncated PDF bytes
                rows.append(
                    CorpusRow(
                        f"https://example-{i:06d}.test/broken-{i}.pdf",
                        ts, b"%PDF-1.4\n1 0 obj\n<< truncated", None, lang, "", 0,
                    )
                )
            elif kind == 2:  # non-UTF8 prefix before valid HTML
                html, expected = _html_doc(rng, i)
                rows.append(
                    CorpusRow(
                        f"https://example-{i:06d}.test/mojibake-{i}.html",
                        ts, b"\xff\xfe" + html, None, lang, expected, 1,
                    )
                )
            else:  # .pdf extension but HTML bytes — router must trust magic bytes
                html, expected = _html_doc(rng, i)
                rows.append(
                    CorpusRow(
                        f"https://example-{i:06d}.test/mislabeled-{i}.pdf",
                        ts, html, None, lang, expected, 1,
                    )
                )
    _ROWS_MEMO.clear()
    _ROWS_MEMO[memo_key] = rows
    return rows


INPUT_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
GOLDEN_SCHEMA = "url string, extracted_text string, n_pages int"


def corpus_df(spark, n: int = 200, seed: int = 42, num_partitions: int | None = None):
    """Input table as a DataFrame (columns exactly per input_hint)."""
    rows = generate_rows(n, seed)
    data = [(r.url, r.warc_ts, r.html, r.text, r.lang) for r in rows]
    df = spark.createDataFrame(data, schema=INPUT_SCHEMA)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df


def golden_df(spark, n: int = 200, seed: int = 42):
    rows = generate_rows(n, seed)
    data = [(r.url, r.expected_text, r.n_pages) for r in rows]
    return spark.createDataFrame(data, schema=GOLDEN_SCHEMA)


# ---------------------------------------------------------------------------
# scanned-heavy corpus — the bench honesty row (round-5 task #8)
#
# Every page is ONE raster image with zero text operators, rotating the
# real in-engine image codecs: CCITT-G4 (codec_ccitt), baseline JPEG and
# progressive JPEG (codec_jpeg), and Flate 1-bit. Extraction pays the full
# pure-Python decode cost per page — the measured number published next to
# the libjpeg-turbo/libtiff swap-seam notes.
# ---------------------------------------------------------------------------

# round-5 additions: the arithmetic-coded B/W codecs (JBIG2 generic +
# symbol/globals) at fax size and JPEG 2000 at 64x64 (EBCOT is the most
# expensive per-pixel decode in the engine — FIXTURES.md §8 — so the
# honesty row sizes it to the same per-page cost class as the others
# while still paying the real wavelet + Tier-1 path)
_SCAN_VARIANTS = (
    "g4", "jpeg", "jpeg_prog", "raw1", "g3_2d",
    "jbig2", "jbig2_globals", "jpx_jp2",
)


# ---------------------------------------------------------------------------
# office/feed-heavy corpus — the light-branch formats honesty row: every
# document is one of the 13 office/e-book/mail/feed/content-encoded
# formats, so the bench measures pure container-walk + XML/RTF/BIFF/MIME
# extraction throughput (no PDF/raster/OCR in the loop).
# ---------------------------------------------------------------------------


def office_rows(n: int = 260, seed: int = 888) -> list[CorpusRow]:
    rng = random.Random(seed)
    rows: list[CorpusRow] = []
    for i in range(n):
        fmt = _OFFICE_FORMATS[i % len(_OFFICE_FORMATS)]
        blob, expected, n_pages = _office_doc(rng, fmt)
        rows.append(
            CorpusRow(
                url=f"https://bench.example/office_{i:05d}.{fmt}",
                warc_ts=_EPOCH + dt.timedelta(seconds=i),
                html=blob,
                text=expected.replace("\n\n", "\n"),
                lang="",
                expected_text=expected,
                n_pages=n_pages,
            )
        )
    return rows


def office_corpus_df(spark, n: int = 260, seed: int = 888,
                     num_partitions: int | None = None):
    rows = office_rows(n, seed)
    data = [(r.url, r.warc_ts, r.html, r.text, r.lang) for r in rows]
    df = spark.createDataFrame(data, schema=INPUT_SCHEMA)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df


def office_golden_df(spark, n: int = 260, seed: int = 888):
    rows = office_rows(n, seed)
    data = [(r.url, r.expected_text, r.n_pages) for r in rows]
    return spark.createDataFrame(data, schema=GOLDEN_SCHEMA)


def scanned_rows(n: int = 120, seed: int = 777) -> list[CorpusRow]:
    from gnosis_ocr_spark.functions import codec_pdf as _cp

    rng = random.Random(seed)
    rows: list[CorpusRow] = []
    for i in range(n):
        n_pages = rng.randint(2, 4)
        pages = []
        for _ in range(n_pages):
            lines = [
                _sentence(rng, rng.randint(4, 8))
                for _ in range(rng.randint(3, 6))
            ]
            pages.append("\n".join(lines))
        variant = _SCAN_VARIANTS[i % len(_SCAN_VARIANTS)]
        w, h = (
            (128, 128)
            if variant in ("g4", "raw1", "g3_2d", "jbig2", "jbig2_globals")
            else (64, 64)
        )
        pdf = _cp.build_pdf_scanned(
            pages, width=w, height=h, image_filter=variant
        )
        rows.append(
            CorpusRow(
                url=f"https://bench.example/scan_{i:05d}.pdf",
                warc_ts=_EPOCH + dt.timedelta(seconds=i),
                html=pdf,
                text="",
                lang="",
                expected_text="\n\n".join(pages).strip(),
                n_pages=n_pages,
            )
        )
    return rows


def scanned_corpus_df(spark, n: int = 120, seed: int = 777,
                      num_partitions: int | None = None):
    rows = scanned_rows(n, seed)
    data = [(r.url, r.warc_ts, r.html, r.text, r.lang) for r in rows]
    df = spark.createDataFrame(data, schema=INPUT_SCHEMA)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df


def scanned_golden_df(spark, n: int = 120, seed: int = 777):
    rows = scanned_rows(n, seed)
    data = [(r.url, r.expected_text, r.n_pages) for r in rows]
    return spark.createDataFrame(data, schema=GOLDEN_SCHEMA)
