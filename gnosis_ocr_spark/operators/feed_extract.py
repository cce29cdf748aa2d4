"""Web-feed extraction — RSS 2.0, Atom 1.0, RDF/RSS 1.0.

Feeds are a material slice of any crawl (every blog/news site publishes
one) and their XML is NOT a web page: sent through the HTML extractor
they yield tag-soup noise. Here they get a real model:

* channel/feed **title** becomes the heading block;
* each ``<item>`` / ``<entry>`` contributes its title plus its body —
  ``description`` / ``content`` / ``content:encoded`` / ``summary`` —
  where bodies that contain markup (RSS convention: HTML escaped as
  entities or wrapped in CDATA) are routed through the U7 main-content
  extractor, and plain-text bodies pass straight through;
* item count = ``n_pages`` (the document's natural unit).

Parsing uses the same lenient ``_XMLWalk`` event parser as the office
extractors (truncated feeds keep their parsed prefix) extended with
CDATA capture — stdlib HTMLParser reports ``<![CDATA[…]]>`` through
``unknown_decl``, not ``handle_data``, and real RSS bodies are
overwhelmingly CDATA-wrapped.

Routing: a feed starts (after an optional XML declaration / comments /
whitespace) with ``<rss``, ``<feed`` or ``<rdf:RDF`` — mirrored by
``routing.route_col`` JVM-side so route and extractor agree.
"""

from __future__ import annotations

import re

from gnosis_ocr_spark.operators.html_extract import extract_main_text
from gnosis_ocr_spark.operators.office_extract import _join_paras, _XMLWalk

_FEED_START_RE = re.compile(
    rb"^\s*(?:<\?xml[^>]*\?>\s*)?(?:<!--.*?-->\s*)*<(?:rss[\s>]|feed[\s>]|rdf:RDF)",
    re.S | re.I,
)


def looks_like_feed(data: bytes) -> bool:
    return bool(_FEED_START_RE.match(data[:512]))


class _FeedWalk(_XMLWalk):
    """Collect (channel title, per-item title+body) in document order."""

    _ITEM_TAGS = ("item", "entry")
    _TITLE = "title"
    _BODY_TAGS = ("description", "summary", "content", "content:encoded")

    def __init__(self) -> None:
        super().__init__()
        self.channel_title: str | None = None
        self.items: list[dict[str, str]] = []
        self._in_item = 0
        self._capture: str | None = None
        self._buf: list[str] = []

    # CDATA arrives via unknown_decl, not handle_data
    def unknown_decl(self, data):  # noqa: D102
        if data.startswith("CDATA["):
            self.on_text(data[6:])

    def on_start(self, tag, attrs):
        if tag in self._ITEM_TAGS:
            self._in_item += 1
            self.items.append({})
        elif tag == self._TITLE or tag in self._BODY_TAGS:
            self._capture = tag
            self._buf = []

    def on_end(self, tag):
        if tag in self._ITEM_TAGS:
            self._in_item = max(0, self._in_item - 1)
        elif tag == self._capture:
            text = "".join(self._buf)
            if self._in_item and self.items:
                # first body tag wins (description vs content duplicates)
                key = "title" if tag == self._TITLE else "body"
                self.items[-1].setdefault(key, text)
            elif tag == self._TITLE and self.channel_title is None:
                self.channel_title = text
            self._capture = None
            self._buf = []

    def on_text(self, data):
        if self._capture is not None:
            self._buf.append(data)


def extract_feed(data: bytes) -> tuple[str, int]:
    """(extracted_text, n_items) for one RSS/Atom/RDF feed payload."""
    w = _FeedWalk()
    w.walk(data.decode("utf-8", errors="replace") if isinstance(data, bytes) else data)
    paras: list[str] = []
    if w.channel_title:
        paras.append(w.channel_title)
    n_items = 0
    for item in w.items:
        title = item.get("title", "")
        body = item.get("body", "")
        if not title and not body:
            continue
        n_items += 1
        if title:
            paras.append(title)
        if body:
            if "<" in body:  # escaped/CDATA HTML: through the U7 extractor
                paras.extend(extract_main_text(body).split("\n\n"))
            else:
                paras.append(body)
    text = _join_paras(paras)
    return text, n_items if text else 0


# ---------------------------------------------------------------------------
# fixture writers
# ---------------------------------------------------------------------------


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def build_rss(
    channel_title: str,
    items: list[tuple[str, str]],
    cdata: bool = False,
) -> bytes:
    """RSS 2.0 feed; items are (title, body-html-or-text). ``cdata`` wraps
    bodies in CDATA sections (the dominant real-feed shape), otherwise
    bodies are entity-escaped."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<rss version="2.0"><channel>',
        f"<title>{_esc(channel_title)}</title>",
        "<link>https://feed.example/</link>",
    ]
    for title, body in items:
        wrapped = f"<![CDATA[{body}]]>" if cdata else _esc(body)
        parts.append(
            f"<item><title>{_esc(title)}</title>"
            f"<description>{wrapped}</description></item>"
        )
    parts.append("</channel></rss>")
    return "".join(parts).encode("utf-8")


def build_atom(feed_title: str, entries: list[tuple[str, str]]) -> bytes:
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<feed xmlns="http://www.w3.org/2005/Atom">',
        f"<title>{_esc(feed_title)}</title>",
        "<id>urn:uuid:0</id>",
    ]
    for title, body in entries:
        parts.append(
            f"<entry><title>{_esc(title)}</title>"
            f'<content type="html">{_esc(body)}</content></entry>'
        )
    parts.append("</feed>")
    return "".join(parts).encode("utf-8")
