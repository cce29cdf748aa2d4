"""Office / e-book text extraction — DOCX, XLSX, PPTX, ODT, EPUB, RTF.

Real web crawls carry hundreds of millions of office documents; the
reference service routes only pdf/images/office *extensions* to a generic
path (/root/reference/app/config.py:19,92-95) and never opens the
container. Here each format gets a real from-scratch extractor over the
codec_zip container walk:

* **DOCX** (ECMA-376 WordprocessingML): ``word/document.xml`` — ``<w:p>``
  paragraphs, text runs in ``<w:t>``, ``<w:tab/>``/``<w:br/>`` separators.
* **XLSX** (SpreadsheetML): shared-strings indirection +
  ``xl/worksheets/sheet*.xml`` cells (``t="s"``/``t="str"``/inline
  ``<is><t>``/numeric ``<v>``), one line per row, tab-joined cells.
* **PPTX** (DrawingML): ``ppt/slides/slide*.xml`` in deck order,
  ``<a:p>`` paragraphs of ``<a:t>`` runs; slide count = page count.
* **ODT** (OASIS ODF): ``content.xml`` ``<text:p>``/``<text:h>`` with
  ``<text:tab/>``, ``<text:line-break/>``, ``<text:s text:c="N"/>``.
* **EPUB** (IDPF OCF/OPF): ``META-INF/container.xml`` → OPF → spine
  order; each XHTML chapter goes through the existing main-content
  extractor (operators/html_extract.py), so e-books get the same
  boilerplate stripping as crawl pages.
* **RTF** (Word RTF spec): from-scratch tokenizer — group stack,
  ``\\uN``/``\\ucN`` Unicode with fallback skip, ``\\'xx`` codepage bytes
  (honoring ``\\ansicpgN``), ``\\binN`` raw-byte skip, destination groups
  (fonttbl/stylesheet/pict/field instructions/...) dropped.

XML is walked with a *lenient* event parser (stdlib HTMLParser in
XML-tag-soup mode): real-crawl OOXML is routinely truncated mid-part, and
a strict parser would turn a 99%-recoverable document into zero text.
Paragraph text is whitespace-normalized exactly like the HTML extractor's
block normalization (``\\s+`` → single space, trim), paragraphs joined
with blank lines — one convention across every extraction route.

All extractors are total: hostile bytes → empty text, never an exception
out of the UDF (same executor-safety rule as the image codecs).

Fixture writers (``build_docx``/``build_xlsx``/``build_pptx``/
``build_odt``/``build_epub``/``build_rtf``) emit minimal spec-valid
documents used by the corpus generator and tests — goldens stay knowable
by construction.
"""

from __future__ import annotations

import posixpath
import re
from html.parser import HTMLParser
from urllib.parse import unquote

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from gnosis_ocr_spark.functions.codec_zip import (
    MAX_ENTRY_BYTES,
    ZipView,
    build_zip,
)
from gnosis_ocr_spark.operators.html_extract import extract_main_text

_WS_RE = re.compile(r"\s+")


def _norm_para(s: str) -> str:
    return _WS_RE.sub(" ", s).strip()


def _join_paras(paras: list[str]) -> str:
    return "\n\n".join(p for p in (_norm_para(x) for x in paras) if p)


# ---------------------------------------------------------------------------
# lenient XML event walking (tag-soup tolerant, namespace-prefix literal)
# ---------------------------------------------------------------------------


class _XMLWalk(HTMLParser):
    """Event walker for OOXML/ODF parts. Subclasses override the three
    ``on_*`` hooks; tag names arrive lowercased with their prefix intact
    (``w:t``, ``a:p``, ``text:line-break``) — OOXML/ODF element names are
    lowercase in the wild, so prefix-literal matching is exact in practice
    and survives the malformed tails strict parsers die on."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)

    def on_start(self, tag: str, attrs: dict[str, str]) -> None:  # override
        pass

    def on_end(self, tag: str) -> None:  # override
        pass

    def on_text(self, data: str) -> None:  # override
        pass

    # HTMLParser plumbing — XML `<a/>` arrives as startendtag
    def handle_starttag(self, tag, attrs):
        self.on_start(tag, dict(attrs))

    def handle_startendtag(self, tag, attrs):
        self.on_start(tag, dict(attrs))
        self.on_end(tag)

    def handle_endtag(self, tag):
        self.on_end(tag)

    def handle_data(self, data):
        self.on_text(data)

    def walk(self, xml: bytes | str) -> None:
        if isinstance(xml, bytes):
            xml = xml.decode("utf-8", errors="replace")
        try:
            self.feed(xml)
            self.close()
        except Exception:
            pass  # keep whatever was parsed before the breakage


# ---------------------------------------------------------------------------
# DOCX — WordprocessingML
# ---------------------------------------------------------------------------


class _DocxWalk(_XMLWalk):
    def __init__(self) -> None:
        super().__init__()
        self.paras: list[str] = []
        self._cur: list[str] = []
        self._in_t = 0

    def on_start(self, tag, attrs):
        if tag == "w:t":
            self._in_t += 1
        elif tag == "w:tab":
            self._cur.append("\t")
        elif tag in ("w:br", "w:cr"):
            self._cur.append("\n")

    def on_end(self, tag):
        if tag == "w:t":
            self._in_t = max(0, self._in_t - 1)
        elif tag == "w:p":
            self.paras.append("".join(self._cur))
            self._cur = []

    def on_text(self, data):
        if self._in_t:
            self._cur.append(data)


def extract_docx(view: ZipView) -> tuple[str, int]:
    xml = view.try_read("word/document.xml")
    if xml is None:
        return "", 0
    w = _DocxWalk()
    w.walk(xml)
    if w._cur:  # truncated part: keep the open paragraph
        w.paras.append("".join(w._cur))
    text = _join_paras(w.paras)
    return text, 1 if text else 0


# ---------------------------------------------------------------------------
# XLSX — SpreadsheetML
# ---------------------------------------------------------------------------


class _SharedStringsWalk(_XMLWalk):
    def __init__(self) -> None:
        super().__init__()
        self.strings: list[str] = []
        self._cur: list[str] | None = None
        self._in_t = 0

    def on_start(self, tag, attrs):
        if tag == "si":
            self._cur = []
        elif tag == "t" and self._cur is not None:
            self._in_t += 1

    def on_end(self, tag):
        if tag == "si" and self._cur is not None:
            self.strings.append("".join(self._cur))
            self._cur = None
        elif tag == "t":
            self._in_t = max(0, self._in_t - 1)

    def on_text(self, data):
        if self._in_t and self._cur is not None:
            self._cur.append(data)


class _SheetWalk(_XMLWalk):
    def __init__(self, shared: list[str]) -> None:
        super().__init__()
        self._shared = shared
        self.rows: list[list[str]] = []
        self._row: list[str] | None = None
        self._ctype = ""
        self._in_v = 0
        self._in_is_t = 0
        self._cell: list[str] = []

    def on_start(self, tag, attrs):
        if tag == "row":
            self._row = []
        elif tag == "c":
            self._ctype = attrs.get("t", "")
            self._cell = []
        elif tag == "v":
            self._in_v += 1
        elif tag == "t":
            self._in_is_t += 1  # inside <is> inline strings

    def on_end(self, tag):
        if tag == "v":
            self._in_v = max(0, self._in_v - 1)
        elif tag == "t":
            self._in_is_t = max(0, self._in_is_t - 1)
        elif tag == "c" and self._row is not None:
            raw = "".join(self._cell)
            if self._ctype == "s":
                try:
                    raw = self._shared[int(raw.strip())]
                except (ValueError, IndexError):
                    raw = ""
            self._row.append(raw)
        elif tag == "row" and self._row is not None:
            self.rows.append(self._row)
            self._row = None

    def on_text(self, data):
        if self._in_v or self._in_is_t:
            self._cell.append(data)


_SHEET_NO_RE = re.compile(r"(\d+)\.xml$")


def _numbered_parts(view: ZipView, prefix: str) -> list[str]:
    names = [n for n in view.names() if n.startswith(prefix) and n.endswith(".xml")]

    def key(n: str):
        m = _SHEET_NO_RE.search(n)
        return (int(m.group(1)) if m else 1 << 30, n)

    return sorted(names, key=key)


def extract_xlsx(view: ZipView) -> tuple[str, int]:
    shared: list[str] = []
    ss = view.try_read("xl/sharedStrings.xml")
    if ss is not None:
        sw = _SharedStringsWalk()
        sw.walk(ss)
        shared = sw.strings
    paras: list[str] = []
    sheets = _numbered_parts(view, "xl/worksheets/sheet")
    for name in sheets:
        xml = view.try_read(name)
        if xml is None:
            continue
        w = _SheetWalk(shared)
        w.walk(xml)
        for row in w.rows:
            paras.append("\t".join(row))
    text = _join_paras(paras)
    return text, len(sheets) if text else 0


# ---------------------------------------------------------------------------
# PPTX — DrawingML slides
# ---------------------------------------------------------------------------


class _SlideWalk(_XMLWalk):
    def __init__(self) -> None:
        super().__init__()
        self.paras: list[str] = []
        self._cur: list[str] = []
        self._in_t = 0

    def on_start(self, tag, attrs):
        if tag == "a:t":
            self._in_t += 1
        elif tag == "a:br":
            self._cur.append("\n")

    def on_end(self, tag):
        if tag == "a:t":
            self._in_t = max(0, self._in_t - 1)
        elif tag == "a:p":
            self.paras.append("".join(self._cur))
            self._cur = []

    def on_text(self, data):
        if self._in_t:
            self._cur.append(data)


def extract_pptx(view: ZipView) -> tuple[str, int]:
    slides = _numbered_parts(view, "ppt/slides/slide")
    chunks: list[str] = []
    for name in slides:
        xml = view.try_read(name)
        if xml is None:
            continue
        w = _SlideWalk()
        w.walk(xml)
        chunk = _join_paras(w.paras)
        if chunk:
            chunks.append(chunk)
    return "\n\n".join(chunks), len(slides) if chunks else 0


# ---------------------------------------------------------------------------
# ODT — OASIS OpenDocument text
# ---------------------------------------------------------------------------


class _OdtWalk(_XMLWalk):
    _PARA = ("text:p", "text:h")
    _SKIP = ("office:annotation", "text:note-body", "text:tracked-changes")

    def __init__(self) -> None:
        super().__init__()
        self.paras: list[str] = []
        self._cur: list[str] = []
        self._depth = 0  # nesting of paragraph-bearing elements
        self._skip = 0

    def on_start(self, tag, attrs):
        if tag in self._SKIP:
            self._skip += 1
        elif self._skip:
            return
        elif tag in self._PARA:
            self._depth += 1
        elif self._depth:
            if tag == "text:tab":
                self._cur.append("\t")
            elif tag == "text:line-break":
                self._cur.append("\n")
            elif tag == "text:s":
                try:
                    # valueless attributes arrive as None (TypeError, not
                    # ValueError) — both degrade to a single space
                    n = int(attrs.get("text:c") or "1")
                except (ValueError, TypeError):
                    n = 1
                self._cur.append(" " * max(1, n))

    def on_end(self, tag):
        if tag in self._SKIP:
            self._skip = max(0, self._skip - 1)
        elif tag in self._PARA and self._depth and not self._skip:
            # the skip guard mirrors on_start: a </text:p> inside an
            # annotation/note body must not close the OUTER paragraph
            # (which silently dropped all text after the annotation)
            self._depth -= 1
            if not self._depth:
                self.paras.append("".join(self._cur))
                self._cur = []

    def on_text(self, data):
        if self._depth and not self._skip:
            self._cur.append(data)


def extract_odt(view: ZipView) -> tuple[str, int]:
    xml = view.try_read("content.xml")
    if xml is None:
        return "", 0
    w = _OdtWalk()
    w.walk(xml)
    text = _join_paras(w.paras)
    return text, 1 if text else 0


# ---------------------------------------------------------------------------
# EPUB — OCF container + OPF spine, chapters through the HTML extractor
# ---------------------------------------------------------------------------


class _AttrGrab(_XMLWalk):
    """Collect (tag, attrs) pairs for a small set of interesting tags."""

    def __init__(self, tags: tuple[str, ...]) -> None:
        super().__init__()
        self._want = tags
        self.hits: list[tuple[str, dict[str, str]]] = []

    def on_start(self, tag, attrs):
        if tag in self._want:
            self.hits.append((tag, attrs))


def extract_epub(view: ZipView) -> tuple[str, int]:
    container = view.try_read("META-INF/container.xml")
    opf_path = None
    if container is not None:
        g = _AttrGrab(("rootfile",))
        g.walk(container)
        for _, attrs in g.hits:
            p = attrs.get("full-path")
            if p:
                opf_path = p
                break
    if opf_path is None:
        # recovery: first .opf anywhere in the archive
        cands = [n for n in view.names() if n.endswith(".opf")]
        opf_path = cands[0] if cands else None
    if opf_path is None:
        return "", 0
    opf = view.try_read(opf_path)
    if opf is None:
        return "", 0
    g = _AttrGrab(("item", "itemref"))
    g.walk(opf)
    href_by_id = {
        a["id"]: a["href"]
        for t, a in g.hits
        if t == "item" and "id" in a and "href" in a
    }
    spine = [a["idref"] for t, a in g.hits if t == "itemref" and "idref" in a]
    base = posixpath.dirname(opf_path)
    chapters: list[str] = []
    for idref in spine:
        href = href_by_id.get(idref)
        if not href:
            continue
        name = posixpath.normpath(posixpath.join(base, unquote(href)))
        raw = view.try_read(name)
        if raw is None:
            continue
        text = extract_main_text(raw)
        if text:
            chapters.append(text)
    return "\n\n".join(chapters), len(chapters)


# ---------------------------------------------------------------------------
# RTF — from-scratch tokenizer (Word RTF 1.9 spec)
# ---------------------------------------------------------------------------

# destination groups whose content is never document text
_RTF_SKIP_DESTS = frozenset(
    """fonttbl colortbl stylesheet info generator pict object objdata
    themedata colorschememapping datastore latentstyles listtable
    listoverridetable rsidtbl xmlnstbl fldinst header footer headerl
    headerr headerf footerl footerr footerf footnote annotation
    atnid atnauthor""".split()
)

_RTF_CHAR_WORDS = {
    "par": "\n\n", "sect": "\n\n", "page": "\n\n",
    "line": "\n", "tab": "\t", "cell": "\t", "row": "\n",
    "emdash": "—", "endash": "–", "bullet": "•",
    "lquote": "‘", "rquote": "’",
    "ldblquote": "“", "rdblquote": "”",
    "emspace": " ", "enspace": " ", "qmspace": " ",
}

_RTF_CW_RE = re.compile(rb"[a-zA-Z]{1,32}")
_RTF_NUM_RE = re.compile(rb"-?\d{1,10}")


def extract_rtf(data: bytes) -> tuple[str, int]:
    """Tokenize the RTF byte stream into plain text paragraphs."""
    if not data.startswith(b"{\\rtf"):
        return "", 0
    codepage = "cp1252"
    out: list[str] = []
    # group stack entries: [uc_skip_count, suppressed]
    stack: list[list[int]] = [[1, 0]]
    pending_skip = 0  # chars to swallow after \uN
    star_pending = False  # just saw {\* — next control word names a dest
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        if b == 0x7B:  # {
            stack.append(list(stack[-1]))
            i += 1
            # {\* ...}: unknown destination unless the next word is known
            if data.startswith(b"\\*", i):
                star_pending = True
                i += 2
            continue
        if b == 0x7D:  # }
            if len(stack) > 1:
                stack.pop()
            star_pending = False
            i += 1
            continue
        if b == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            c = data[i]
            if c == 0x27:  # \'xx — codepage byte
                hexpair = data[i + 1 : i + 3]
                i += 3
                if pending_skip:
                    pending_skip -= 1
                    continue
                if not stack[-1][1]:
                    try:
                        out.append(bytes([int(hexpair, 16)]).decode(codepage))
                    except (ValueError, UnicodeDecodeError):
                        pass
                continue
            if c in b"\\{}":
                i += 1
                if pending_skip:
                    pending_skip -= 1
                elif not stack[-1][1]:
                    out.append(chr(c))
                continue
            if c == 0x7E:  # \~ non-breaking space
                i += 1
                if not stack[-1][1]:
                    out.append(" ")
                continue
            if c == 0x2D:  # \- optional hyphen
                i += 1
                continue
            if c == 0x5F:  # \_ non-breaking hyphen
                i += 1
                if not stack[-1][1]:
                    out.append("-")
                continue
            if c in (0x0A, 0x0D):  # escaped newline = \par
                i += 1
                if not stack[-1][1]:
                    out.append("\n\n")
                continue
            m = _RTF_CW_RE.match(data, i)
            if not m:
                i += 1
                continue
            word = m.group().decode("ascii")
            i = m.end()
            mnum = _RTF_NUM_RE.match(data, i)
            num = None
            if mnum:
                num = int(mnum.group())
                i = mnum.end()
            if i < n and data[i] == 0x20:  # control word's trailing space
                i += 1
            if star_pending:
                # {\*\word ...} — unknown destination: suppress the group
                star_pending = False
                if word not in ("ud",):  # \ud wraps the Unicode variant
                    stack[-1][1] = 1
                    continue
            if word == "u" and num is not None:
                if not stack[-1][1]:
                    cp = num + 65536 if num < 0 else num
                    if 0 <= cp <= 0x10FFFF:  # out-of-range \uN: drop, not raise
                        out.append(chr(cp))
                pending_skip = stack[-1][0]
                continue
            if word == "uc" and num is not None:
                stack[-1][0] = max(0, num)
                continue
            if word == "ansicpg" and num is not None:
                try:
                    b"\x41".decode(f"cp{num}")
                    codepage = f"cp{num}"
                except LookupError:
                    pass
                continue
            if word == "bin" and num is not None:
                i += max(0, num)
                continue
            if word in _RTF_SKIP_DESTS:
                stack[-1][1] = 1
                continue
            if word in _RTF_CHAR_WORDS and not stack[-1][1]:
                out.append(_RTF_CHAR_WORDS[word])
            continue
        # plain text byte run (up to the next control char)
        j = i
        while j < n and data[j] not in (0x5C, 0x7B, 0x7D):
            j += 1
        if not stack[-1][1]:
            chunk = data[i:j].replace(b"\r", b"").replace(b"\n", b"")
            if chunk:
                txt = chunk.decode(codepage, errors="replace")
                if pending_skip:
                    drop = min(pending_skip, len(txt))
                    txt = txt[drop:]
                    pending_skip -= drop
                if txt:
                    out.append(txt)
        i = j
    joined = "".join(out)
    if any(0xD800 <= ord(c) < 0xE000 for c in joined):
        # Word writes astral chars as \uN surrogate PAIRS; raw surrogate
        # code units cannot survive UTF-8/Arrow serialization (they would
        # crash the UDF at the pandas boundary). Combine pairs, replace
        # lone surrogates with U+FFFD.
        joined = joined.encode("utf-16", "surrogatepass").decode(
            "utf-16", "replace"
        )
    paras = joined.split("\n\n")
    text = _join_paras(paras)
    return text, 1 if text else 0


# ---------------------------------------------------------------------------
# sniff + dispatch
# ---------------------------------------------------------------------------


def sniff_zip_subtype(view: ZipView) -> str:
    if "word/document.xml" in view:
        return "docx"
    if "xl/workbook.xml" in view:
        return "xlsx"
    if "ppt/presentation.xml" in view:
        return "pptx"
    mt = view.try_read("mimetype")
    if mt is not None:
        m = mt.decode("ascii", errors="replace").strip()
        if m == "application/epub+zip":
            return "epub"
        if m == "application/vnd.oasis.opendocument.text":
            return "odt"
        # spreadsheet/presentation ODF: cell/frame text lives in the same
        # <text:p> elements, so the ODT walker extracts them as-is
        if m == "application/vnd.oasis.opendocument.spreadsheet":
            return "ods"
        if m == "application/vnd.oasis.opendocument.presentation":
            return "odp"
    if "META-INF/container.xml" in view:
        return "epub"
    if "content.xml" in view:
        return "odt"
    return "zip"


def extract_office(
    data: bytes | bytearray | None, _depth: int = 0
) -> tuple[str, int, str]:
    """(extracted_text, n_pages, subtype) for one office/e-book/mail or
    still-content-encoded payload.

    Total over hostile input: undecodable → ("", 0, subtype)."""
    if not data:
        return "", 0, "empty"
    data = bytes(data)
    try:
        if data.startswith(b"\x1f\x8b") and _depth < 2:
            # still-content-encoded crawl payload: gunzip (bounded) and
            # re-dispatch on the INNER bytes — gzipped HTML goes through
            # the U7 extractor, gzipped containers recurse once
            import zlib as _zlib

            d = _zlib.decompressobj(16 + _zlib.MAX_WBITS)
            try:
                inner = d.decompress(data, MAX_ENTRY_BYTES)
            except _zlib.error:
                return "", 0, "gz-bad"
            if inner.startswith(b"%PDF-") or inner[:4] in (
                b"II*\x00",
                b"MM\x00*",
            ):
                # page-structured formats need the heavy branch (raster +
                # OCR topology); a gzipped PDF in the light branch is a
                # loud documented miss, not silent garbage
                return "", 0, "gz-pdf"
            if inner.startswith(b"\x1f\x8b") and _depth + 1 >= 2:
                return "", 0, "gz-deep"  # nesting cap: refuse, don't garble
            t, n, sub = extract_office(inner, _depth + 1)
            if sub == "other":  # not a container: treat as a web page
                t = extract_main_text(inner)
                # one HTML page is one page even when boilerplate-only —
                # the DIRECT html route reports n_pages=1 for it, and the
                # transfer encoding must not change the count
                return t, 1, "gz-html"
            return t, n, f"gz-{sub}"
        if data.startswith(b"{\\rtf"):
            text, np_ = extract_rtf(data)
            return text, np_, "rtf"
        if data.startswith(b"\xd0\xcf\x11\xe0"):  # CFB/OLE2: doc/xls/ppt
            from gnosis_ocr_spark.operators.legacy_office import extract_cfb

            return extract_cfb(data)
        if data.startswith(b"PK\x03\x04") or data.startswith(b"PK\x05\x06"):
            view = ZipView(data)
            sub = sniff_zip_subtype(view)
            if sub == "docx":
                text, np_ = extract_docx(view)
            elif sub == "xlsx":
                text, np_ = extract_xlsx(view)
            elif sub == "pptx":
                text, np_ = extract_pptx(view)
            elif sub in ("odt", "ods", "odp"):
                text, np_ = extract_odt(view)
            elif sub == "epub":
                text, np_ = extract_epub(view)
            else:
                return "", 0, "zip"
            return text, np_, sub
        from gnosis_ocr_spark.operators.feed_extract import (
            extract_feed,
            looks_like_feed,
        )

        if looks_like_feed(data):
            text, np_ = extract_feed(data)
            return text, np_, "feed"
        from gnosis_ocr_spark.functions.codec_media import is_svg

        if is_svg(data):
            # standalone SVG image: U7 decodes charset + routes to the
            # SVG text walker (html_extract.extract_svg_text)
            text = extract_main_text(data)
            return text, 1 if text else 0, "svg"
        from gnosis_ocr_spark.operators.legacy_office import (
            extract_eml,
            looks_like_eml,
        )

        if looks_like_eml(data):
            text, np_ = extract_eml(data)
            return text, np_, "eml"
    except Exception:
        return "", 0, "bad"
    return "", 0, "other"


# a StructType object, not a DDL string: DDL parses through the JVM and
# would demand a live SparkSession at import time
_OFFICE_SCHEMA = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("subtype", StringType()),
    ]
)


@pandas_udf(_OFFICE_SCHEMA)
def extract_office_udf(data: pd.Series) -> pd.DataFrame:
    rows = [extract_office(b) for b in data]
    return pd.DataFrame(rows, columns=["extracted_text", "n_pages", "subtype"])


_LIGHT_SCHEMA = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("n_pages", IntegerType()),
    ]
)


@pandas_udf(_LIGHT_SCHEMA)
def light_extract_udf(html: pd.Series, route: pd.Series) -> pd.DataFrame:
    """The whole light branch in ONE vectorized UDF: html → main-content
    strip (U7), office → container extraction, empty/other → ('', 0).

    Dispatching inside a single UDF instead of chaining per-route UDFs
    keeps the (large) raw bytes crossing the Arrow boundary exactly once —
    the same fusion rationale as pdf_split.raster_ocr_pages (two chained
    pandas UDFs would ship every page's payload through Arrow twice)."""
    from gnosis_ocr_spark.operators.routing import (
        ROUTE_FEED,
        ROUTE_HTML,
        ROUTE_OFFICE,
    )

    texts: list[str] = []
    pages: list[int] = []
    for b, r in zip(html, route):
        if r == ROUTE_HTML:
            t = extract_main_text(b)
            n = 1
        elif r == ROUTE_OFFICE:
            t, n, _ = extract_office(b)
        elif r == ROUTE_FEED:
            from gnosis_ocr_spark.operators.feed_extract import extract_feed

            try:
                t, n = extract_feed(b)
            except Exception:
                t, n = "", 0
        else:
            t, n = "", 0
        texts.append(t)
        pages.append(n)
    return pd.DataFrame({"extracted_text": texts, "n_pages": pages})


# ---------------------------------------------------------------------------
# fixture writers — minimal spec-valid documents, deterministic bytes
# ---------------------------------------------------------------------------


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


_CT_DOCX = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
    "</Types>"
)

_RELS_DOCX = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>'
    "</Relationships>"
)

_W_NS = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'


def build_docx(paragraphs: list[str]) -> bytes:
    body = "".join(
        f"<w:p><w:r><w:t xml:space=\"preserve\">{_esc(p)}</w:t></w:r></w:p>"
        for p in paragraphs
    )
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f"<w:document {_W_NS}><w:body>{body}"
        "<w:sectPr/></w:body></w:document>"
    )
    return build_zip(
        [
            ("[Content_Types].xml", _CT_DOCX.encode()),
            ("_rels/.rels", _RELS_DOCX.encode()),
            ("word/document.xml", doc.encode()),
        ]
    )


_CT_XLSX = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    "</Types>"
)

_RELS_XLSX = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)


def _col_ref(idx: int) -> str:
    ref = ""
    idx += 1
    while idx:
        idx, r = divmod(idx - 1, 26)
        ref = chr(65 + r) + ref
    return ref


def build_xlsx(rows: list[list[str]]) -> bytes:
    shared: list[str] = []
    index: dict[str, int] = {}
    cells_xml: list[str] = []
    for ri, row in enumerate(rows, start=1):
        cs = []
        for ci, val in enumerate(row):
            si = index.setdefault(val, len(shared))
            if si == len(shared):
                shared.append(val)
            cs.append(f'<c r="{_col_ref(ci)}{ri}" t="s"><v>{si}</v></c>')
        cells_xml.append(f'<row r="{ri}">{"".join(cs)}</row>')
    sst = "".join(
        f'<si><t xml:space="preserve">{_esc(s)}</t></si>' for s in shared
    )
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    return build_zip(
        [
            ("[Content_Types].xml", _CT_XLSX.encode()),
            ("_rels/.rels", _RELS_XLSX.encode()),
            (
                "xl/workbook.xml",
                f'<?xml version="1.0"?><workbook {ns}><sheets>'
                '<sheet name="Sheet1" sheetId="1" r:id="rId1" '
                'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"/>'
                "</sheets></workbook>".encode(),
            ),
            (
                "xl/sharedStrings.xml",
                f'<?xml version="1.0"?><sst {ns} count="{len(shared)}" '
                f'uniqueCount="{len(shared)}">{sst}</sst>'.encode(),
            ),
            (
                "xl/worksheets/sheet1.xml",
                f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
                f'{"".join(cells_xml)}</sheetData></worksheet>'.encode(),
            ),
        ]
    )


_CT_PPTX = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/ppt/presentation.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>'
    "</Types>"
)


def build_pptx(slides: list[list[str]]) -> bytes:
    a_ns = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
    p_ns = 'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
    entries = [
        ("[Content_Types].xml", _CT_PPTX.encode()),
        ("_rels/.rels", _RELS_DOCX.replace("word/document.xml", "ppt/presentation.xml").encode()),
        (
            "ppt/presentation.xml",
            f'<?xml version="1.0"?><p:presentation {p_ns}/>'.encode(),
        ),
    ]
    for i, paras in enumerate(slides, start=1):
        body = "".join(
            f'<a:p><a:r><a:t>{_esc(p)}</a:t></a:r></a:p>' for p in paras
        )
        xml = (
            f'<?xml version="1.0"?><p:sld {p_ns} {a_ns}><p:cSld><p:spTree>'
            f"<p:sp><p:txBody>{body}</p:txBody></p:sp>"
            "</p:spTree></p:cSld></p:sld>"
        )
        entries.append((f"ppt/slides/slide{i}.xml", xml.encode()))
    return build_zip(entries)


def build_odt(paragraphs: list[str]) -> bytes:
    t_ns = 'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"'
    o_ns = 'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"'
    body = "".join(f"<text:p>{_esc(p)}</text:p>" for p in paragraphs)
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f"<office:document-content {o_ns} {t_ns}>"
        f"<office:body><office:text>{body}</office:text></office:body>"
        "</office:document-content>"
    )
    manifest = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0">'
        '<manifest:file-entry manifest:media-type="application/vnd.oasis.opendocument.text" manifest:full-path="/"/>'
        '<manifest:file-entry manifest:media-type="text/xml" manifest:full-path="content.xml"/>'
        "</manifest:manifest>"
    )
    return build_zip(
        [
            ("mimetype", b"application/vnd.oasis.opendocument.text"),
            ("META-INF/manifest.xml", manifest.encode()),
            ("content.xml", content.encode()),
        ],
        stored={"mimetype"},
    )


def build_epub(chapters: list[list[str]]) -> bytes:
    """Chapters are lists of paragraphs; each becomes one XHTML spine doc
    shaped like the corpus HTML (article/p) so the main-content extractor
    applies the same boilerplate stripping as on crawl pages."""
    items, refs, entries = [], [], []
    for i, paras in enumerate(chapters, start=1):
        body = "".join(f"<p>{_esc(p)}</p>" for p in paras)
        xhtml = (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<html xmlns="http://www.w3.org/1999/xhtml"><head>'
            f"<title>ch{i}</title></head><body>"
            '<nav><ul><li><a href="#">toc</a></li></ul></nav>'
            f"<article>{body}</article></body></html>"
        )
        entries.append((f"OEBPS/ch{i}.xhtml", xhtml.encode()))
        items.append(
            f'<item id="ch{i}" href="ch{i}.xhtml" media-type="application/xhtml+xml"/>'
        )
        refs.append(f'<itemref idref="ch{i}"/>')
    opf = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0" unique-identifier="uid">'
        '<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">'
        "<dc:identifier id=\"uid\">urn:uuid:0</dc:identifier><dc:title>t</dc:title>"
        "</metadata>"
        f'<manifest>{"".join(items)}</manifest>'
        f'<spine>{"".join(refs)}</spine></package>'
    )
    container = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
        '<rootfiles><rootfile full-path="OEBPS/content.opf" '
        'media-type="application/oebps-package+xml"/></rootfiles></container>'
    )
    return build_zip(
        [
            ("mimetype", b"application/epub+zip"),
            ("META-INF/container.xml", container.encode()),
            ("OEBPS/content.opf", opf.encode()),
        ]
        + entries,
        stored={"mimetype"},
    )


def _rtf_escape(s: str) -> str:
    out = []
    for ch in s:
        o = ord(ch)
        if ch in "\\{}":
            out.append("\\" + ch)
        elif o < 128:
            out.append(ch)
        else:
            # \uN with a '?' ANSI fallback (uc1 convention)
            n = o if o < 32768 else o - 65536
            out.append(f"\\u{n}?")
    return "".join(out)


def build_rtf(paragraphs: list[str]) -> bytes:
    body = "\\par ".join(_rtf_escape(p) for p in paragraphs)
    rtf = (
        "{\\rtf1\\ansi\\ansicpg1252\\deff0\\uc1"
        "{\\fonttbl{\\f0\\froman Times New Roman;}}"
        "{\\*\\generator gnosis_ocr_spark fixtures;}"
        "\\f0\\fs24 " + body + "\\par }"
    )
    return rtf.encode("ascii")
