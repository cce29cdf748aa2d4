"""P2 — content-type routing on magic bytes.

The reference routes by file extension (client: /root/reference/app/static/
js/app.js:354-359; server allow-list: /root/reference/app/config.py:19,92-95).
At web scale extensions lie, so we sniff content: ``%PDF-`` magic → PDF path,
TIFF magic (``II*\\0`` / ``MM\\0*`` — multi-page scan archives) → TIFF path,
``PK\\x03\\x04`` (OOXML/ODF/EPUB containers) and ``{\\rtf`` → office path,
empty/null → empty path, everything else → HTML path. Pure Column
expressions — stays inside whole-stage codegen, no Python."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROUTE_PDF = "pdf"
ROUTE_TIFF = "tiff"
ROUTE_IMAGE = "image"  # standalone raster → raster+OCR heavy branch
ROUTE_OFFICE = "office"
ROUTE_FEED = "feed"
ROUTE_HTML = "html"
ROUTE_EMPTY = "empty"
# routes the heavy branch (split → respread → raster+OCR → assembly) takes;
# every other route is extracted by the light branch
HEAVY_ROUTES = (ROUTE_PDF, ROUTE_TIFF, ROUTE_IMAGE)

_PDF_MAGIC = b"%PDF-"
_TIFF_MAGIC_LE = b"II*\x00"
_TIFF_MAGIC_BE = b"MM\x00*"
_ZIP_MAGIC = b"PK\x03\x04"
_RTF_MAGIC = b"{\\rtf"
_CFB_MAGIC = b"\xd0\xcf\x11\xe0"  # OLE2 compound file: doc/xls/ppt
_GZIP_MAGIC = b"\x1f\x8b"  # still-content-encoded crawl payload
# RFC 5322 header block ending in a canonical mail header — mirrors
# legacy_office.looks_like_eml (the Python-side sniff the extractor
# re-applies), so route and extractor agree
_EML_RE = (
    r"^(?:[!-9;-~]+:[ \t][^\r\n]*\r?\n)*"
    r"(?i:From|To|Subject|Date|Received|Return-Path|MIME-Version|Message-ID)"
    r":[ \t]"
)


def is_pdf_col(html: Column) -> Column:
    return F.substring(html, 1, 5) == F.lit(_PDF_MAGIC)


def is_tiff_col(html: Column) -> Column:
    head = F.substring(html, 1, 4)
    return (head == F.lit(_TIFF_MAGIC_LE)) | (head == F.lit(_TIFF_MAGIC_BE))


def is_image_col(html: Column) -> Column:
    """Standalone raster images — the reference OCRs these directly
    (client accepts .png/.jpg/.jpeg/.webp, app/static/js/app.js:392).
    Mirrors multimodal.sniff_media_type (incl. the BMP DIB-size check that
    keeps text starting with 'BM' off the image path); TIFF is excluded —
    it has its own multi-page route."""
    return (
        (F.substring(html, 1, 8) == F.lit(b"\x89PNG\r\n\x1a\n"))
        | (F.substring(html, 1, 3) == F.lit(b"\xff\xd8\xff"))
        | (F.substring(html, 1, 4) == F.lit(b"GIF8"))  # 4-byte magic,
        # exactly like sniff_media_type — a 6-byte version check here
        # routed GIF8-prefixed payloads html while the extractor called
        # them image/gif (route and extractor must agree at the boundary)
        | (
            (F.substring(html, 1, 4) == F.lit(b"RIFF"))
            & (F.substring(html, 9, 4) == F.lit(b"WEBP"))
        )
        | (
            F.substring(html, 1, 12)
            == F.lit(b"\x00\x00\x00\x0cjP  \r\n\x87\n")
        )  # the FULL 12-byte JP2 signature box (sniff checks all 12; the
        # 8-byte prefix admitted payloads the extractor then rejected)
        | (F.substring(html, 1, 4) == F.lit(b"\xff\x4f\xff\x51"))
        | (
            (F.substring(html, 1, 2) == F.lit(b"BM"))
            & reduce(
                lambda a, b: a | b,
                [
                    F.substring(html, 15, 4) == F.lit(bytes([n, 0, 0, 0]))
                    for n in (12, 40, 52, 56, 108, 124)
                ],
            )
        )
    )


def is_office_col(html: Column) -> Column:
    # ZIP containers (docx/xlsx/pptx/odt/epub — the subtype is sniffed
    # inside the extractor from the member names), RTF, CFB/OLE2
    # (doc/xls/ppt), gzip (still-content-encoded payloads — gunzipped and
    # re-sniffed inside the extractor), and RFC 5322 mail headers (eml)
    return (
        (F.substring(html, 1, 4) == F.lit(_ZIP_MAGIC))
        | (F.substring(html, 1, 5) == F.lit(_RTF_MAGIC))
        | (F.substring(html, 1, 4) == F.lit(_CFB_MAGIC))
        | (F.substring(html, 1, 2) == F.lit(_GZIP_MAGIC))
        | (
            (F.substring(html, 1, 1) != F.lit(b"<"))
            # cast, not decode(): decode raises MALFORMED_CHARACTER_CODING
            # on invalid UTF-8 crawl bytes; cast substitutes and never throws
            & F.substring(html, 1, 512).cast("string").rlike(_EML_RE)
        )
    )


# a feed starts — after an optional XML declaration / comments /
# whitespace — with <rss, <feed or <rdf:RDF; mirrors
# feed_extract.looks_like_feed so route and extractor agree
_FEED_RE = r"(?s)^\s*(?:<\?xml[^>]*\?>\s*)?(?:<!--.*?-->\s*)*<(?i:rss[\s>]|feed[\s>]|rdf:RDF)"


def is_feed_col(html: Column) -> Column:
    return F.substring(html, 1, 512).cast("string").rlike(_FEED_RE)


def route_col(html: Column) -> Column:
    return (
        F.when(html.isNull() | (F.length(html) == 0), F.lit(ROUTE_EMPTY))
        .when(is_pdf_col(html), F.lit(ROUTE_PDF))
        .when(is_tiff_col(html), F.lit(ROUTE_TIFF))
        .when(is_image_col(html), F.lit(ROUTE_IMAGE))
        .when(is_office_col(html), F.lit(ROUTE_OFFICE))
        .when(is_feed_col(html), F.lit(ROUTE_FEED))
        .otherwise(F.lit(ROUTE_HTML))
    )


def with_route(df: DataFrame, html_col: str = "html", out_col: str = "route") -> DataFrame:
    return df.withColumn(out_col, route_col(F.col(html_col)))
