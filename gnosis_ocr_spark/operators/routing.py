"""P2 — content-type routing on magic bytes.

The reference routes by file extension (client: /root/reference/app/static/
js/app.js:354-359; server allow-list: /root/reference/app/config.py:19,92-95).
At web scale extensions lie, so we sniff content: ``%PDF-`` magic → PDF path,
TIFF magic (``II*\\0`` / ``MM\\0*`` — multi-page scan archives) → TIFF path,
``PK\\x03\\x04`` (OOXML/ODF/EPUB containers) and ``{\\rtf`` → office path,
empty/null → empty path, everything else → HTML path. One SQL CASE
expression — stays inside whole-stage codegen, no Python."""

from __future__ import annotations

import re

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
# a feed starts — after an optional XML declaration / comments /
# whitespace — with <rss, <feed or <rdf:RDF; mirrors
# feed_extract.looks_like_feed so route and extractor agree
_FEED_RE = r"(?s)^\s*(?:<\?xml[^>]*\?>\s*)?(?:<!--.*?-->\s*)*<(?i:rss[\s>]|feed[\s>]|rdf:RDF)"

# BMP: 'BM' plus a known DIB header size at byte 14, the check
# multimodal.sniff_media_type makes, so text starting with 'BM' stays html
_BMP_DIB_SIZES = (12, 40, 52, 56, 108, 124)


def _x(magic: bytes) -> str:
    """A SQL binary literal."""
    return f"X'{magic.hex().upper()}'"


def _sql_str(text: str) -> str:
    """A SQL string literal for ``text``: the parser un-escapes backslash
    sequences (spark.sql.parser.escapedStringLiterals is off), so
    backslashes and quotes are escaped."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _route_sql(h: str) -> str:
    """The route CASE over the SQL expression ``h`` (a quoted column).
    Order matters: the first matching magic wins."""

    def at(pos: int, magic: bytes) -> str:
        return f"substring({h}, {pos}, {len(magic)}) = {_x(magic)}"

    head = f"CAST(substring({h}, 1, 512) AS STRING)"
    tiff = f"{at(1, _TIFF_MAGIC_LE)} OR {at(1, _TIFF_MAGIC_BE)}"
    # standalone rasters — the reference OCRs these directly (client
    # accepts .png/.jpg/.jpeg/.webp, app/static/js/app.js:392). Mirrors
    # multimodal.sniff_media_type: GIF by its 4-byte magic, the FULL
    # 12-byte JP2 signature box, BMP with its DIB size check. TIFF is
    # excluded — it has its own multi-page route.
    bmp_dib = " OR ".join(at(15, bytes([n, 0, 0, 0])) for n in _BMP_DIB_SIZES)
    image = " OR ".join((
        at(1, b"\x89PNG\r\n\x1a\n"),
        at(1, b"\xff\xd8\xff"),
        at(1, b"GIF8"),
        f"({at(1, b'RIFF')} AND {at(9, b'WEBP')})",
        at(1, b"\x00\x00\x00\x0cjP  \r\n\x87\n"),
        at(1, b"\xff\x4f\xff\x51"),
        f"({at(1, b'BM')} AND ({bmp_dib}))",
    ))
    # ZIP containers (docx/xlsx/pptx/odt/epub — the subtype is sniffed
    # inside the extractor from the member names), RTF, CFB/OLE2
    # (doc/xls/ppt), gzip (still-content-encoded payloads — gunzipped and
    # re-sniffed inside the extractor), and RFC 5322 mail headers (eml).
    # CAST, not decode(): decode raises MALFORMED_CHARACTER_CODING on
    # invalid UTF-8 crawl bytes; the cast substitutes and never throws.
    office = " OR ".join((
        at(1, _ZIP_MAGIC),
        at(1, _RTF_MAGIC),
        at(1, _CFB_MAGIC),
        at(1, _GZIP_MAGIC),
        f"(substring({h}, 1, 1) != {_x(b'<')} AND {head} RLIKE "
        f"{_sql_str(_EML_RE)})",
    ))
    return (
        "CASE"
        f" WHEN {h} IS NULL OR length({h}) = 0 THEN '{ROUTE_EMPTY}'"
        f" WHEN {at(1, _PDF_MAGIC)} THEN '{ROUTE_PDF}'"
        f" WHEN {tiff} THEN '{ROUTE_TIFF}'"
        f" WHEN {image} THEN '{ROUTE_IMAGE}'"
        f" WHEN {office} THEN '{ROUTE_OFFICE}'"
        f" WHEN {head} RLIKE {_sql_str(_FEED_RE)} THEN '{ROUTE_FEED}'"
        f" ELSE '{ROUTE_HTML}' END"
    )


_PLAIN_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def route_col(html: Column | str) -> Column:
    """Each payload's route, built as ONE SQL CASE expression: plan
    construction makes one JVM call for it instead of one per magic-byte
    comparison. ``html`` is a column name or a plain column reference
    (``F.col(name)``); alias a computed payload before routing it."""
    if not isinstance(html, str):
        html = html._jc.toString()
        if not _PLAIN_NAME.fullmatch(html):
            raise ValueError(
                f"route_col routes a named column, got {html!r}: alias "
                "the payload expression first"
            )
    return F.expr(_route_sql("`" + html.replace("`", "``") + "`"))


def with_route(df: DataFrame, html_col: str = "html", out_col: str = "route") -> DataFrame:
    return df.withColumn(out_col, route_col(html_col))
