"""U7 — HTML main-content extraction (driver-mandated; absent from the
reference, which handles PDFs/images only: /root/reference/app/config.py:19).

A deterministic, pure-Python boilerplate stripper in the spirit of
Readability / trafilatura's published heuristics: the DOM is segmented into
text blocks; blocks under kill-list containers (nav/footer/aside/…) or with
boilerplate-looking class/id names are dropped; surviving blocks are scored by
text mass × (1 − link density) and kept above fixed thresholds. Whitespace is
normalized per block (runs → single space) and blocks join with a blank line —
the normalization contract the byte-identity goldens and DuckDB oracles rely
on.

Exposed to Spark as a vectorized ``pandas_udf`` over the ``html BINARY``
column (Arrow batches; no per-row Python dispatch from the JVM).
"""

from __future__ import annotations

import codecs
import re
from dataclasses import dataclass, field
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# containers whose entire subtree is boilerplate
_KILL_TAGS = frozenset(
    "script style noscript template nav footer header aside form button svg iframe title".split()
)
# block-level boundaries that start a new text block
_BLOCK_TAGS = frozenset(
    "p div section article main h1 h2 h3 h4 h5 h6 li ul ol table tr td th "
    "blockquote pre figure figcaption br body".split()
)
_BOILER_NAME_RE = re.compile(
    r"(nav|footer|sidebar|menu|comment|advert|\bad\b|\bads\b|banner|related|"
    r"share|social|promo|cookie|breadcrumb|widget|masthead)",
    re.I,
)
_WS_RE = re.compile(r"\s+")
# void elements never get an end tag — keeping them off the element stack
# stops a boiler-marked <img class="ad"> from poisoning the rest of the doc
_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 1.0 / 3.0
MIN_HEADING_CHARS = 3
_HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})


@dataclass
class _Block:
    tag: str = "p"
    killed: bool = False
    parts: list[str] = field(default_factory=list)
    link_chars: int = 0

    def text(self) -> str:
        return _WS_RE.sub(" ", "".join(self.parts)).strip()


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[_Block] = []
        self._kill_depth = 0
        self._boiler_depth = 0
        self._link_depth = 0
        self._cur: _Block | None = None
        # stack of (tag, boiler, kill, link) for every open element: ALL
        # depth-like state must clear with the ELEMENT that set it, not with
        # the first same-named end tag — and elements auto-closed by an outer
        # end tag (sloppy HTML: <div><a>menu</div>) must release their link/
        # kill flags too, or the rest of the document inherits them.
        self._elems: list[tuple[str, bool, bool, bool]] = []
        # per-tag stacks of _elems indices so an end tag finds its open
        # element in O(1) instead of scanning the stack (quadratic on crawl
        # pages with thousands of unclosed opens + stray closes)
        self._open_idx: dict[str, list[int]] = {}

    def _new_block(self, tag: str) -> None:
        self._cur = _Block(
            tag=tag, killed=self._kill_depth > 0 or self._boiler_depth > 0
        )
        self.blocks.append(self._cur)

    def handle_starttag(self, tag: str, attrs) -> None:
        names = " ".join(v or "" for k, v in attrs if k in ("class", "id", "role"))
        boiler = bool(_BOILER_NAME_RE.search(names))
        kill = tag in _KILL_TAGS
        link = tag == "a"
        if tag not in _VOID_TAGS:
            self._open_idx.setdefault(tag, []).append(len(self._elems))
            self._elems.append((tag, boiler, kill, link))
            self._boiler_depth += boiler
            self._kill_depth += kill
            self._link_depth += link
        if tag in _BLOCK_TAGS:
            self._new_block(tag)

    def _pop_from(self, i: int) -> None:
        """Close element i and everything above it (implicit auto-close),
        releasing every flag those elements set."""
        for tag_p, b, k, ln in self._elems[i:]:
            self._boiler_depth -= b
            self._kill_depth -= k
            self._link_depth -= ln
            idxs = self._open_idx.get(tag_p)
            while idxs and idxs[-1] >= i:
                idxs.pop()
        del self._elems[i:]

    def handle_endtag(self, tag: str) -> None:
        # close the nearest matching open element; anything above it on the
        # stack is implicitly auto-closed (sloppy-HTML semantics: <ul><li>a
        # <li>b</ul>). A stray end tag with no open match is ignored.
        idxs = self._open_idx.get(tag)
        if idxs:
            self._pop_from(idxs[-1])
            if tag in _BLOCK_TAGS:
                # close the block; next text opens an implicit one. Only
                # when an element actually closed: a STRAY block end tag
                # (sloppy crawl HTML: '</div>' with no open div) splitting
                # the current paragraph dropped its sub-threshold prefix
                self._cur = None

    def handle_data(self, data: str) -> None:
        if not data.strip():
            # a whitespace-only text node still separates words: source
            # HTML line-wraps between inline elements ('</b>\n<i>') and
            # dropping the node glued the neighbors into one token
            if (
                self._cur is not None and not self._cur.killed
                and self._kill_depth == 0 and self._boiler_depth == 0
                and self._cur.parts
            ):
                self._cur.parts.append(" ")
            return
        # kill/boiler status must be checked at DATA time, not only at block
        # creation: a <script> inside a still-open block-level element would
        # otherwise append its text to that (unkilled) block
        if self._kill_depth > 0 or self._boiler_depth > 0:
            return
        if self._cur is None or self._cur.killed:
            self._new_block("p")
        self._cur.parts.append(data)
        if self._link_depth > 0:
            self._cur.link_chars += len(data)


# charset label inside the first 1024 bytes — matches both
# <meta charset="x"> and <meta http-equiv="Content-Type"
# content="text/html; charset=x"> (the label follows "charset=" in both)
_CHARSET_META_RE = re.compile(
    rb"""<meta[^>]{0,512}?charset\s*=\s*["']?\s*([A-Za-z0-9_\-:.]+)""", re.I
)
_PRESCAN_BYTES = 1024
_WHATWG_LABELS = {
    "iso-8859-1": "cp1252", "iso8859-1": "cp1252", "iso_8859-1": "cp1252",
    "latin1": "cp1252", "latin-1": "cp1252", "l1": "cp1252",
    "us-ascii": "cp1252", "ascii": "cp1252", "ansi_x3.4-1968": "cp1252",
    "x-user-defined": "cp1252", "unicode-1-1-utf-8": "utf-8",
    "utf-16": "utf-8", "utf-16le": "utf-8", "utf-16be": "utf-8",
}


def decode_html_bytes(raw: bytes) -> str:
    """Charset-sniffing decode of one crawl page (HTML5 §13.2.3 in spirit).

    Precedence: byte-order mark (UTF-8/16LE/16BE) > declared charset from a
    meta prescan of the first 1024 bytes > strict UTF-8 > cp1252. A real
    crawl is ~10-20%% non-UTF-8 (cp1252/latin, shift_jis, gbk, …); a blind
    ``decode('utf-8', 'replace')`` turns all of it into U+FFFD mojibake.
    The cp1252 terminal fallback mirrors the WHATWG rule that windows-1252
    is the default for unlabeled non-UTF-8 content. Deterministic: the same
    bytes always decode the same way."""
    if raw.startswith(codecs.BOM_UTF8):
        return raw[3:].decode("utf-8", "replace")
    for bom, enc in ((codecs.BOM_UTF16_LE, "utf-16-le"),
                     (codecs.BOM_UTF16_BE, "utf-16-be")):
        if raw.startswith(bom):
            # trust the BOM only if the payload is plausibly UTF-16: real
            # UTF-16 HTML always has abundant NUL bytes (its ASCII markup
            # zero-fills one byte of every code unit). Crawls also contain
            # single-byte pages behind a garbage \xff\xfe prefix; decoding
            # those as UTF-16 destroys recoverable content, so a (near-)
            # NUL-free payload strips the lying BOM and falls through to
            # the normal sniff.
            sample = raw[len(bom):_PRESCAN_BYTES]
            if sample and sample.count(0) / len(sample) >= 0.05:
                return raw[len(bom):].decode(enc, "replace")
            raw = raw[len(bom):]
            break
    m = _CHARSET_META_RE.search(raw[:_PRESCAN_BYTES])
    if m:
        label = m.group(1).decode("ascii", "ignore").strip().lower()
        # WHATWG encoding-label quirks (Encoding Standard §4.2), not Python
        # codec names: the iso-8859-1/latin1/ascii family maps to
        # windows-1252 (browsers decode 0x80-0x9F as cp1252 punctuation,
        # not C1 controls — the single most common mislabeled shape),
        # x-user-defined likewise; a BOM-less utf-16 label reads utf-8
        # (the prescan only finds ASCII-compatible byte streams anyway).
        label = _WHATWG_LABELS.get(label, label)
        try:
            canon = codecs.lookup(label).name
            # Python resolves aliases the WHATWG table can't enumerate
            # (utf16/u16/ucs2/utf-32/punycode…); any BOM-less UTF-16/32
            # label takes the documented utf-8 path (the prescan only
            # finds ASCII-compatible streams), and non-byte codecs like
            # punycode would mangle or raise
            if canon.startswith(("utf-16", "utf-32")) or canon == "punycode":
                canon = "utf-8"
            return raw.decode(canon, "replace")
        except Exception:
            # unknown label (LookupError) OR a codec that rejects
            # errors='replace'/'undefined' input (UnicodeError from the
            # 'undefined'/'idna' codecs) → sniff like an unlabeled page
            pass
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("cp1252", "replace")


# standalone SVG document: optional XML prolog/doctype/comments, then <svg>.
# Inline <svg> INSIDE HTML stays on the kill list (decorative); a payload
# whose ROOT is <svg> is an image whose text content IS the main content.
_SVG_ROOT_RE = re.compile(
    r"^﻿?\s*(?:<\?xml[^>]*\?>\s*)?(?:<!--.*?-->\s*|<!DOCTYPE[^>]*>\s*)*<svg[\s>]",
    re.I | re.S,
)
# subtrees that are never content in an SVG
_SVG_SKIP_TAGS = frozenset("defs metadata style script symbol".split())
# elements whose character data is content


class _SvgExtractor(HTMLParser):
    """Text content of a standalone SVG in document order: every <text>
    element is a block (nested tspan/textPath inline), plus root-level
    <title>/<desc> (the image's own caption — per-shape tooltips are
    skipped). No minimum-length threshold: SVG text is short labels by
    nature and all of it is content."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self._parts: list[str] = []
        self._depth = 0  # element depth below the root <svg>
        self._skip = 0  # depth inside defs/metadata/style/script
        self._text = 0  # depth inside <text>
        self._caption = 0  # inside a root-level title/desc

    def handle_starttag(self, tag: str, attrs) -> None:
        self._depth += 1
        if tag in _SVG_SKIP_TAGS:
            self._skip += 1
        if self._skip:
            return
        if tag == "text":
            self._text += 1
            self._parts = []
        elif tag in ("title", "desc") and self._depth == 2:
            self._caption = 1
            self._parts = []

    def handle_endtag(self, tag: str) -> None:
        if tag in _SVG_SKIP_TAGS and self._skip:
            self._skip -= 1
        elif not self._skip and tag == "text" and self._text:
            self._text -= 1
            self._flush()
        elif not self._skip and tag in ("title", "desc") and self._caption:
            self._caption = 0
            self._flush()
        self._depth = max(0, self._depth - 1)

    def handle_data(self, data: str) -> None:
        if self._skip:
            return
        if self._text or self._caption:
            self._parts.append(data)

    def _flush(self) -> None:
        text = _WS_RE.sub(" ", "".join(self._parts)).strip()
        if text:
            self.blocks.append(text)
        self._parts = []


def extract_svg_text(raw: str) -> str:
    """Deterministic text extraction of one standalone SVG document."""
    parser = _SvgExtractor()
    try:
        parser.feed(raw)
        parser.close()
    except Exception:
        return ""
    return "\n\n".join(parser.blocks).strip()


def extract_main_text(html: bytes | str | None) -> str:
    """Deterministic main-content extraction of one document (pure function)."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        raw = decode_html_bytes(bytes(html))
    else:
        raw = html
    if _SVG_ROOT_RE.match(raw):
        return extract_svg_text(raw)
    parser = _Extractor()
    try:
        parser.feed(raw)
        parser.close()
    except Exception:
        return ""
    kept: list[str] = []
    for blk in parser.blocks:
        if blk.killed:
            continue
        text = blk.text()
        if not text:
            continue
        total = len("".join(blk.parts))
        link_density = blk.link_chars / total if total else 0.0
        if link_density >= MAX_LINK_DENSITY:
            continue
        min_chars = MIN_HEADING_CHARS if blk.tag in _HEADINGS else MIN_BLOCK_CHARS
        if len(text) < min_chars:
            continue
        kept.append(text)
    return "\n\n".join(kept).strip()


@pandas_udf(StringType())
def extract_html_udf(html: pd.Series) -> pd.Series:
    """Vectorized U7: html BINARY → extracted main text STRING."""
    return html.map(extract_main_text)
