"""Web-feed extraction (operators/feed_extract.py): RSS 2.0 / Atom / RDF,
CDATA vs entity-escaped bodies byte-identical, truncation keeps the parsed
prefix, sniff mirrors the JVM routing regex, mutation fuzz total."""

from __future__ import annotations

import random

import pytest

from gnosis_ocr_spark.operators.feed_extract import (
    build_atom,
    build_rss,
    extract_feed,
    looks_like_feed,
)

BODY_HTML = (
    "<article><p>This is the first article body paragraph text.</p>"
    "<p>And a second body paragraph with more text.</p></article>"
)
ITEMS = [("Post One Title", BODY_HTML), ("Post Two Title", "plain text body without markup")]
EXPECT = (
    "My Channel\n\nPost One Title\n\n"
    "This is the first article body paragraph text.\n\n"
    "And a second body paragraph with more text.\n\n"
    "Post Two Title\n\nplain text body without markup"
)


def test_rss_escaped_and_cdata_bodies_byte_identical():
    t1, n1 = extract_feed(build_rss("My Channel", ITEMS, cdata=False))
    t2, n2 = extract_feed(build_rss("My Channel", ITEMS, cdata=True))
    assert t1 == t2 == EXPECT
    assert n1 == n2 == 2


def test_atom_entries():
    t, n = extract_feed(build_atom("Atom Feed", ITEMS))
    assert n == 2
    assert t.startswith("Atom Feed\n\nPost One Title")
    assert t.endswith("plain text body without markup")


def test_rdf_rss10_shape():
    rdf = (
        b'<?xml version="1.0"?>\n'
        b'<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
        b'xmlns="http://purl.org/rss/1.0/">'
        b"<channel><title>RDF Channel</title></channel>"
        b"<item><title>An RDF Item</title>"
        b"<description>rdf item body text</description></item>"
        b"</rdf:RDF>"
    )
    assert looks_like_feed(rdf)
    t, n = extract_feed(rdf)
    assert t == "RDF Channel\n\nAn RDF Item\n\nrdf item body text"
    assert n == 1


def test_sniff_guards():
    assert looks_like_feed(b'<?xml version="1.0"?><rss version="2.0">')
    assert looks_like_feed(b"  <feed xmlns='http://www.w3.org/2005/Atom'>")
    assert not looks_like_feed(b"<html><body>feed</body></html>")
    assert not looks_like_feed(b'<?xml version="1.0"?><document/>')
    assert not looks_like_feed(b"plain text rss mention")
    assert not looks_like_feed(b'<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">')


def test_truncated_feed_keeps_prefix():
    full = build_rss("My Channel", ITEMS, cdata=True)
    cut = full[: full.find(b"Post Two") ]
    t, n = extract_feed(cut)
    assert t.startswith("My Channel\n\nPost One Title")


def test_first_body_tag_wins_on_duplicates():
    feed = (
        b'<rss version="2.0"><channel><title>C</title>'
        b"<item><title>T</title><description>short desc</description>"
        b"<content:encoded><![CDATA[<p>full content body that should not replace the description</p>]]></content:encoded>"
        b"</item></channel></rss>"
    )
    t, _ = extract_feed(feed)
    assert "short desc" in t
    assert "full content" not in t  # description seen first wins


def test_mutation_fuzz_total():
    rng = random.Random(99)
    seeds = [
        build_rss("My Channel", ITEMS, cdata=True),
        build_atom("Atom Feed", ITEMS),
    ]
    for seed in seeds:
        for _ in range(40):
            b = bytearray(seed)
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            t, n = extract_feed(bytes(b))
            assert isinstance(t, str) and isinstance(n, int)


def test_feed_routes_through_pipeline(spark):
    from gnosis_ocr_spark.plans.pipeline import extract_corpus

    df = spark.createDataFrame(
        [
            ("u-rss", None, bytearray(build_rss("My Channel", ITEMS, cdata=True)), None, ""),
            ("u-atom", None, bytearray(build_atom("Atom Feed", ITEMS)), None, ""),
        ],
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = {r["url"]: r for r in extract_corpus(df).collect()}
    assert out["u-rss"]["route"] == "feed"
    assert out["u-rss"]["extracted_text"] == EXPECT
    assert out["u-rss"]["n_pages"] == 2
    assert out["u-atom"]["route"] == "feed"
    assert out["u-atom"]["n_pages"] == 2

