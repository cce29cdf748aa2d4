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


# ---------------------------------------------------------------------------
# XML sitemaps (sitemaps.org protocol 0.9) — the crawl-frontier input
# ---------------------------------------------------------------------------
#
# Every polite crawler starts from /sitemap.xml: <urlset> leaves carry the
# page URLs (+ lastmod/changefreq/priority hints that drive re-crawl
# scheduling), <sitemapindex> nodes fan out to child sitemaps, and large
# sites ship them gzipped (sitemap.xml.gz). parse_sitemap is total in the
# feed_extract style (truncated XML keeps its parsed prefix); the Spark
# operator explodes sitemap blobs into frontier rows.

_SITEMAP_START_RE = re.compile(
    rb"^\s*(?:<\?xml[^>]*\?>\s*)?(?:<!--.*?-->\s*)*<(?:urlset|sitemapindex)[\s>]",
    re.S | re.I,
)
_SITEMAP_MAX_BYTES = 64 * 1024 * 1024  # protocol caps sitemaps at 50 MB raw


def _sitemap_bytes(data: bytes) -> bytes:
    """Transparently gunzip .xml.gz payloads (bounded — a bomb truncates,
    keeping the parser total like the WARC member path)."""
    if data[:2] != b"\x1f\x8b":
        return data
    import zlib

    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
    try:
        out = d.decompress(data, _SITEMAP_MAX_BYTES)
    except zlib.error:
        return b""
    return out


def looks_like_sitemap(data: bytes) -> bool:
    return bool(_SITEMAP_START_RE.match(_sitemap_bytes(data[:4096])[:512]))


class _SitemapWalk(_XMLWalk):
    _FIELDS = ("loc", "lastmod", "changefreq", "priority")

    def __init__(self) -> None:
        super().__init__()
        self.kind: str | None = None
        self.entries: list[dict[str, str]] = []
        self._cur: dict[str, str] | None = None
        self._field: str | None = None
        self._buf: list[str] = []

    def on_start(self, tag, attrs):
        if tag in ("urlset", "sitemapindex") and self.kind is None:
            self.kind = tag
        elif tag in ("url", "sitemap"):
            self._cur = {}
        elif self._cur is not None and tag in self._FIELDS:
            self._field = tag
            self._buf = []

    def on_text(self, data):
        if self._field is not None:
            self._buf.append(data)

    def on_end(self, tag):
        if tag == self._field:
            # mis-nested close tags can leave _field set with _cur already
            # cleared — guard so one malformed entry cannot abort the walk
            # (and with it every entry after it in a 50k-URL sitemap)
            if self._cur is not None:
                self._cur[self._field] = "".join(self._buf).strip()
            self._field = None
        elif tag in ("url", "sitemap") and self._cur is not None:
            if self._cur.get("loc"):
                self.entries.append(self._cur)
            self._cur = None
            self._field = None


def parse_sitemap(data: bytes) -> dict:
    """One sitemap blob (plain or gzipped) → ``{"kind": "urlset" |
    "sitemapindex" | None, "entries": [{loc, lastmod?, changefreq?,
    priority?}, ...]}``. Total: non-sitemap or truncated input yields the
    parsed prefix (possibly empty), never an exception."""
    raw = _sitemap_bytes(data)[:_SITEMAP_MAX_BYTES]
    w = _SitemapWalk()
    w.walk(raw)
    return {"kind": w.kind, "entries": w.entries}


def sitemap_urls(df, name_col: str = "name", data_col: str = "data"):
    """Explode a DataFrame of sitemap blobs ``(name, data:binary)`` into
    crawl-frontier rows ``(sitemap_name, kind, loc, lastmod, changefreq,
    priority)`` — <sitemapindex> rows carry kind='sitemapindex' so the
    caller can iterate the fan-out (fetch children, feed them back in);
    the plan is one mapInPandas, no driver-side loop."""
    from collections.abc import Iterator

    import pandas as pd

    schema = (
        "sitemap_name string, kind string, loc string, lastmod string, "
        "changefreq string, priority string"
    )

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("sitemap_name", "kind", "loc", "lastmod", "changefreq",
                "priority")
        for b in batches:
            rows: dict[str, list] = {k: [] for k in cols}
            for name, blob in zip(b[name_col], b[data_col]):
                parsed = parse_sitemap(bytes(blob) if blob is not None else b"")
                for e in parsed["entries"]:
                    rows["sitemap_name"].append(name)
                    rows["kind"].append(parsed["kind"])
                    rows["loc"].append(e.get("loc"))
                    rows["lastmod"].append(e.get("lastmod") or None)
                    rows["changefreq"].append(e.get("changefreq") or None)
                    rows["priority"].append(e.get("priority") or None)
            yield pd.DataFrame(rows)

    return df.mapInPandas(explode, schema=schema)


def build_sitemap(
    urls: list[tuple[str, str | None]], gzip_out: bool = False
) -> bytes:
    """Fixture writer: [(loc, lastmod|None), ...] → a protocol-valid
    <urlset> sitemap, optionally gzipped (the .xml.gz shape)."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
    ]
    for loc, lastmod in urls:
        e = f"<url><loc>{_esc(loc)}</loc>"
        if lastmod:
            e += f"<lastmod>{_esc(lastmod)}</lastmod>"
        parts.append(e + "</url>")
    parts.append("</urlset>")
    out = "".join(parts).encode("utf-8")
    if gzip_out:
        import gzip

        out = gzip.compress(out, 6)
    return out


def build_sitemap_index(locs: list[str]) -> bytes:
    """Fixture writer: child sitemap locations → a <sitemapindex>."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
    ]
    for loc in locs:
        parts.append(f"<sitemap><loc>{_esc(loc)}</loc></sitemap>")
    parts.append("</sitemapindex>")
    return "".join(parts).encode("utf-8")
