"""Unit tests for the U7 boilerplate stripper (pure function + UDF contract)."""

from __future__ import annotations

from gnosis_ocr_spark.operators.html_extract import extract_main_text

ARTICLE = (
    "<html><head><title>t</title></head><body>"
    "<nav><a href='/x'>Home</a><a href='/y'>About</a></nav>"
    "<article><h1>Headline Here</h1>"
    "<p>This is the first real paragraph with enough characters to keep.</p>"
    "<p>And a second paragraph, also comfortably above the length floor.</p>"
    "</article>"
    "<footer><p>copyright 2020 long enough footer text to test kill list</p></footer>"
    "</body></html>"
)


def test_keeps_main_drops_boilerplate():
    got = extract_main_text(ARTICLE.encode())
    assert got == (
        "Headline Here\n\n"
        "This is the first real paragraph with enough characters to keep.\n\n"
        "And a second paragraph, also comfortably above the length floor."
    )


def test_drops_high_link_density_blocks():
    html = (
        "<body><p>A real paragraph that is long enough to clear the floor.</p>"
        "<ul><li><a href='/a'>related story one with lots of text</a></li>"
        "<li><a href='/b'>related story two with lots of text</a></li></ul></body>"
    )
    assert extract_main_text(html) == (
        "A real paragraph that is long enough to clear the floor."
    )


def test_drops_boilerplate_class_names():
    html = (
        "<body><div class='sidebar'><p>sidebar text long enough to matter here</p></div>"
        "<div id='main'><p>kept paragraph body long enough to clear the floor.</p></div>"
        "<div class='ad-banner'><p>advertisement body long enough to be dropped</p></div>"
        "</body>"
    )
    assert extract_main_text(html) == (
        "kept paragraph body long enough to clear the floor."
    )


def test_whitespace_normalization():
    html = "<body><p>  spaced   \n\t out   words align to single   spaces now ok </p></body>"
    assert extract_main_text(html) == "spaced out words align to single spaces now ok"


def test_entities_decoded():
    html = "<body><p>fish &amp; chips cost &lt;5 euros which is rather cheap</p></body>"
    assert extract_main_text(html) == "fish & chips cost <5 euros which is rather cheap"


def test_short_blocks_dropped_headings_kept():
    html = "<body><h2>Hi there</h2><p>tiny</p><p>long enough paragraph to be kept by scoring</p></body>"
    assert extract_main_text(html) == (
        "Hi there\n\nlong enough paragraph to be kept by scoring"
    )


def test_degenerate_inputs():
    assert extract_main_text(None) == ""
    assert extract_main_text(b"") == ""
    # a \xff\xfe prefix on single-byte content is a LYING UTF-16LE BOM
    # (the payload has no NUL bytes, so it cannot be UTF-16): the BOM is
    # stripped as a garbage prefix and the content stays recoverable
    assert extract_main_text(b"\xff\xfe<body><p>valid part long enough to keep around</p></body>") == (
        "valid part long enough to keep around"
    )
    assert extract_main_text(b"just plain text that is long enough to keep here") == (
        "just plain text that is long enough to keep here"
    )


def test_nested_same_tag_inside_boilerplate_stays_dropped():
    """Regression (round-2 advice): a nested plain <div> closing inside
    <div class='ad'> must not clear the boilerplate flag early."""
    html = (
        "<body>"
        "<div class='ad'><div>x</div>"
        "<p>advertisement text that is long enough to pass the length floor</p></div>"
        "<p>The real content paragraph which is comfortably long enough too.</p>"
        "</body>"
    )
    got = extract_main_text(html.encode())
    assert got == "The real content paragraph which is comfortably long enough too."


def test_void_boiler_element_does_not_poison_document():
    """A boiler-classed void element (<img class='ad'>) never gets an end tag
    and must not suppress the rest of the document."""
    html = (
        "<body><img class='ad' src='x.png'>"
        "<p>Real paragraph following a void ad image, long enough to keep.</p></body>"
    )
    got = extract_main_text(html.encode())
    assert got == "Real paragraph following a void ad image, long enough to keep."


def test_autoclosed_link_does_not_poison_document():
    """An unclosed <a> auto-closed by its parent's end tag must release the
    link flag — the rest of the document is not link text."""
    html = (
        "<body><div><a href='/x'>menu</a></div>"
        "<div><a href='/y'>unclosed menu link</div>"
        "<p>The real content paragraph which is comfortably long enough.</p>"
        "</body>"
    )
    got = extract_main_text(html.encode())
    assert got == "The real content paragraph which is comfortably long enough."


def test_autoclosed_kill_container_does_not_poison_document():
    """An unclosed <nav> auto-closed by an outer end tag must release the
    kill flag."""
    html = (
        "<body><div><nav><a href='/x'>home</a></div>"
        "<p>Real paragraph content that clears the minimum length floor.</p>"
        "</body>"
    )
    got = extract_main_text(html.encode())
    assert got == "Real paragraph content that clears the minimum length floor."


def test_many_unclosed_and_stray_tags_parse_quickly():
    """Per-tag index stacks keep sloppy-HTML parsing linear: thousands of
    unclosed opens plus thousands of stray closes must finish instantly."""
    import time

    html = (
        "<body>" + "<p>start" * 5000 + "</span>" * 5000
        + "<p>The surviving content paragraph, long enough to keep.</p></body>"
    )
    t0 = time.time()
    got = extract_main_text(html.encode())
    assert time.time() - t0 < 2.0
    assert "The surviving content paragraph, long enough to keep." in got


# ------------------------------------------------------------- charsets


def _page(body: str) -> str:
    return f"<html><head></head><body><p>{body}</p></body></html>"


def test_charset_unlabeled_cp1252_fallback():
    """Unlabeled non-UTF-8 bytes decode as windows-1252 (the WHATWG default
    for unlabeled legacy content), not as U+FFFD mojibake."""
    body = "caf\xe9 au lait — cr\xe8me br\xfbl\xe9e, d\xe9j\xe0 vu again"
    raw = _page(body).encode("cp1252")
    assert extract_main_text(raw) == body
    assert "�" not in extract_main_text(raw)


def test_charset_meta_declared_shift_jis():
    body = "日本語のテキストです。 Japanese text sample here."
    html = (
        '<html><head><meta http-equiv="Content-Type" '
        'content="text/html; charset=Shift_JIS"></head>'
        f"<body><p>{body}</p></body></html>"
    )
    assert extract_main_text(html.encode("shift_jis")) == body


def test_charset_meta_declared_iso_8859_2():
    body = "Zkřehl\xe9 žluťoučk\xe9 koně \xfapěly ďx"
    html = f'<html><head><meta charset="iso-8859-2"></head><body><p>{body}</p></body></html>'
    assert extract_main_text(html.encode("iso-8859-2")) == body


def test_charset_utf16_boms():
    body = "utf sixteen text with enough characters to keep the block"
    for enc, bom in (("utf-16-le", b"\xff\xfe"), ("utf-16-be", b"\xfe\xff")):
        raw = bom + _page(body).encode(enc)
        assert extract_main_text(raw) == body
    raw = b"\xef\xbb\xbf" + _page(body).encode("utf-8")
    assert extract_main_text(raw) == body


def test_charset_unknown_label_falls_back_to_sniff():
    body = "unknown charset label page but valid utf-8 bytes throughout"
    html = f'<html><head><meta charset="x-bogus-9"></head><body><p>{body}</p></body></html>'
    assert extract_main_text(html.encode("utf-8")) == body


def test_charset_utf8_bytes_identical_to_str_input():
    html = _page("plain utf-8 content stays byte-identical through sniffing \xe9中")
    assert extract_main_text(html.encode("utf-8")) == extract_main_text(html)


def test_charset_declared_lie_does_not_crash():
    """A page declaring utf-8 but containing invalid utf-8 bytes must still
    extract deterministically (errors=replace on the declared path)."""
    raw = ('<html><head><meta charset="utf-8"></head><body><p>'
           "broken byte here: ").encode() + b"\xff\xfe\xfd" + " and plenty of text after it to keep the block</p></body></html>".encode()
    out = extract_main_text(raw)
    assert "plenty of text after" in out


def test_charset_whatwg_label_mapping():
    """iso-8859-1/latin1/ascii labels decode as windows-1252 (WHATWG
    Encoding Standard): 0x93/0x94 are curly quotes, not C1 controls."""
    body_bytes = b"mislabeled page with \x93curly quotes\x94 and an \x97em dash\x97 inside"
    for label in ("iso-8859-1", "latin1", "US-ASCII"):
        raw = (f'<html><head><meta charset="{label}"></head><body><p>'.encode()
               + body_bytes + b"</p></body></html>")
        out = extract_main_text(raw)
        assert "“curly quotes”" in out, label
        assert "—em dash—" in out, label
        assert "\x93" not in out, label


def test_review_fixes_inline_whitespace_stray_closers_charsets_rel():
    """Review-found extraction bugs pinned: line-wrapped inline markup
    keeps word boundaries; a stray block closer does not split (and drop)
    the open paragraph; hostile charset labels ('undefined', 'utf16',
    'punycode') never crash and never mojibake an ASCII page."""
    from gnosis_ocr_spark.operators.html_extract import (
        decode_html_bytes,
        extract_main_text,
    )

    wrapped = (b"<p>the quick <b>brown</b>\n<i>fox</i> jumps over the "
               b"lazy dog near the river bank today</p>")
    text = extract_main_text(wrapped)
    assert "brown fox" in text and "brownfox" not in text

    stray = (b"<p>Hello dear</div> wonderful readers of this fine "
             b"page we meet again</p>")
    text2 = extract_main_text(stray)
    assert "Hello dear wonderful" in text2

    body = b"plain ascii content here"
    for label in (b"undefined", b"idna", b"utf16", b"punycode", b"utf-32"):
        page = b'<meta charset="' + label + b'">' + body
        out = decode_html_bytes(page)  # never raises
        assert "plain ascii content here" in out, label
