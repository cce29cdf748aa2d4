"""Driver-contract queries: every SQL-expressible operator from SURVEY.md §2
plus the training-data ops, each as a (spark, sf_dir) → DataFrame program with
a value-identical DuckDB oracle (ORACLE dict).

Design rules that make the oracle comparison byte-stable:

- **No raw float aggregates.** Per-row double arithmetic is IEEE-identical in
  the JVM and DuckDB, but sum-of-doubles depends on order. So money/ratio
  aggregates are rounded per row to integer cents/basis points and summed as
  BIGINT — exact in both engines.
- **Timestamps leave as strings** (date_format/strftime) to dodge tz/precision
  representation drift.
- **Every ranking has a total-order tie-break** so top-k is deterministic.
- Column names are aliased identically on both sides (the driver sorts by
  column name and hashes values).

Extraction queries construct their corpus *deterministically from the
documents table itself* (wrap text in boilerplate HTML / build a 2-page PDF
from it), so the expected output is a pure SQL expression of ``text`` — the
oracle verifies the full extraction pipeline value-for-value.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gnosis_ocr_spark.functions.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from gnosis_ocr_spark.functions.scalar import (
    content_type_for,
    page_filename,
    parse_page_no,
    progress_percent,
    url_extension,
    user_hash,
)
from gnosis_ocr_spark.functions.similarity import (
    cosine_topk_bruteforce,
    embedding_near_duplicates,
    lsh_cosine_topk,
)
from gnosis_ocr_spark.functions.text import (
    bpe_ish_token_count,
    fingerprint,
    lang_case_sql,
    lang_id,
    quality_metrics,
    stopword_ratio,
)
from gnosis_ocr_spark.operators.aggregates import windowed_throughput
from gnosis_ocr_spark.operators.chunks import (
    assemble_chunks,
    missing_chunks,
    ordered_text_concat,
)
from gnosis_ocr_spark.operators.html_extract import extract_html_udf
from gnosis_ocr_spark.operators.layout import assemble_documents, assemble_spans
from gnosis_ocr_spark.operators.multimodal import media_fixture_rows, media_metadata
from gnosis_ocr_spark.operators.office_extract import extract_office_udf
from gnosis_ocr_spark.operators.pdf_split import (
    raster_ocr_pages,
    split_pdf_text_pages,
)
from gnosis_ocr_spark.operators.routing import route_col


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the driver runs these queries in ITS OWN session; timestamp rendering
    # (date_format) and string→timestamp casts follow the session timezone,
    # so pin UTC here or the oracle comparison would depend on the host TZ
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# normalized text: collapse whitespace runs, trim (identical semantics to the
# HTML extractor's block normalization)
def _norm(col):
    return F.trim(F.regexp_replace(col, r"\s+", " "))


_NORM_SQL = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"

_CENTS = lambda c: F.round(c * 100).cast("long")  # noqa: E731


# --------------------------------------------------------------------------
# extraction pipeline queries (documents-table-derived corpora)
# --------------------------------------------------------------------------


# doc_id % 18: {0..3} HTML charsets, {4..13} office formats, {14} gzipped
# HTML, {15} RSS 2.0 (CDATA body), {16} Atom, {17} standalone SVG
_OFFICE_MOD = 18


def _build_office_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Office-format rotation on doc_id % 18 ∈ {4..17}: docx / rtf / epub /
    odt / xlsx / pptx / doc / ppt / xls / eml / gzipped-HTML / RSS / Atom /
    standalone SVG, every writer wrapping the SAME normalized text — so the
    oracle stays a pure SQL function of `text` (the pdf_extract
    writer-rotation convention)."""
    import gzip as _gz

    from gnosis_ocr_spark.operators import feed_extract as _fe
    from gnosis_ocr_spark.operators import legacy_office as _lo
    from gnosis_ocr_spark.operators import office_extract as _oe

    def _article(t: str) -> str:
        esc = t.replace("&", "&amp;").replace("<", "&lt;")
        return f"<article><p>{esc}</p></article>"

    def _gz_html(t: str) -> bytes:
        page = f"<html><body>{_article(t)}</body></html>"
        return _gz.compress(page.encode("utf-8"), mtime=0)  # deterministic

    builders = {
        4: lambda t: _oe.build_docx([t]),
        5: lambda t: _oe.build_rtf([t]),
        6: lambda t: _oe.build_epub([[t]]),
        7: lambda t: _oe.build_odt([t]),
        8: lambda t: _oe.build_xlsx([[t]]),
        9: lambda t: _oe.build_pptx([[t]]),
        10: lambda t: _lo.build_doc([t]),
        11: lambda t: _lo.build_ppt([[t]]),
        12: lambda t: _lo.build_xls([[t]]),
        13: lambda t: _lo.build_eml([t], html_alternative=True),
        14: _gz_html,  # still-content-encoded crawl payload
        # feeds: empty channel/item titles are skipped, so extraction is
        # exactly the item body through the U7 extractor
        15: lambda t: _fe.build_rss("", [("", _article(t))], cdata=True),
        16: lambda t: _fe.build_atom("", [("", _article(t))]),
        # standalone SVG: one <text> block (ws-normalized like a <p>), a
        # defs subtree that must be skipped, no root title/desc
        17: lambda t: (
            '<?xml version="1.0"?>'
            '<svg xmlns="http://www.w3.org/2000/svg" width="640" height="480">'
            "<defs><text>defs text that must be dropped</text></defs>"
            f'<text x="0" y="16">'
            f'{t.replace("&", "&amp;").replace("<", "&lt;")}</text></svg>'
        ).encode("utf-8"),
    }
    for b in batches:
        out = {"doc_id": [], "html": []}
        for doc_id, norm in zip(b["doc_id"], b["norm"]):
            out["doc_id"].append(doc_id)
            out["html"].append(builders[int(doc_id) % _OFFICE_MOD](norm))
        yield pd.DataFrame(out)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U7 + office extraction end-to-end: doc_id % 18 rotates the document
    format — {0..3} boilerplate HTML in four transfer encodings (utf-8 /
    BOM+utf-16le / BOM+utf-16be / Java "UTF-16"), {4..13} office/e-book/
    mail containers (docx / rtf / epub / odt / xlsx / pptx via codec_zip +
    XML/RTF extractors; doc / ppt / xls via the from-scratch CFB container
    and piece-table/record-walk extractors; eml MIME with a base64 HTML
    part), {14} a still-gzipped HTML payload (transparent content-encoding
    path), {15..16} RSS 2.0 (CDATA-wrapped body) and Atom feeds, {17} a
    standalone SVG image (text/tspan walk, defs dropped). Every format
    wraps the identical normalized text, so one oracle certifies all
    eighteen writer/extractor paths byte-identically."""
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(
            '<html><head><title>d</title></head><body>'
            '<nav><ul><li><a href="/a">home</a></li><li><a href="/b">about</a></li></ul></nav>'
            '<div class="sidebar"><p>sidebar boilerplate text that must be dropped entirely</p></div>'
            "<article><p>"
        ),
        F.col("text"),
        F.lit(
            "</p></article>"
            '<footer><p>footer boilerplate text that must also be dropped</p></footer>'
            "</body></html>"
        ),
    )
    # transfer encoding rotates on doc_id % 4 (utf-8 / BOM+utf-16le /
    # BOM+utf-16be / Java "UTF-16" which emits its own BE BOM), so the
    # GREEN html_extract row also certifies the charset-sniffing decode —
    # the decoded text is identical in all four, the oracle is unchanged
    payload = (
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit(bytearray(b"\xff\xfe")), F.encode(html, "UTF-16LE")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit(bytearray(b"\xfe\xff")), F.encode(html, "UTF-16BE")),
        )
        .when(F.col("doc_id") % 4 == 3, F.encode(html, "UTF-16"))
        .otherwise(F.encode(html, "UTF-8"))
    )
    html_part = docs.filter(F.col("doc_id") % _OFFICE_MOD < 4).select(
        "doc_id",
        extract_html_udf(payload).alias("extracted_text"),
    )
    # office part: build the container in a mapInPandas stage (Python
    # writers), then extract through the REAL office extractor UDF
    office_src = docs.filter(F.col("doc_id") % _OFFICE_MOD >= 4).select(
        "doc_id", _norm(F.col("text")).alias("norm")
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    office_blobs = office_src.repartition(n_part).mapInPandas(
        _build_office_batches, schema="doc_id long, html binary"
    )
    office_part = office_blobs.select(
        "doc_id",
        extract_office_udf(F.col("html"))
        .getField("extracted_text")
        .alias("extracted_text"),
    )
    return html_part.unionByName(office_part)


ORACLE_HTML_EXTRACT = f"SELECT doc_id, {_NORM_SQL} AS extracted_text FROM documents"


def _image_writer(fmt: str):
    """Standalone-image writer for the pdf_extract rotation: the expected
    TWO-PAGE oracle string (trim(p1) + blank line + trim(p2)) rides one
    scan-matrix raster, so the same oracle text expression certifies the
    image route — only n_pages differs (1, mirrored by the oracle CASE)."""

    def write(pages: list[str]) -> bytes:
        from gnosis_ocr_spark.functions.codec_png import (
            encode_gray_png,
            encode_scan_pixels,
            encode_scan_pixels_robust,
        )

        text = "\n\n".join(p.strip() for p in pages)
        if fmt == "jpeg":
            from gnosis_ocr_spark.functions.codec_jpeg import encode_gray_jpeg

            return encode_gray_jpeg(
                encode_scan_pixels_robust(text, 64, 64), 64, 64
            )
        px = encode_scan_pixels(text, 64, 64)
        if fmt == "png":
            return encode_gray_png(px, 64, 64)
        if fmt == "gif":
            from gnosis_ocr_spark.functions.codec_media import encode_gray_gif

            return encode_gray_gif(px, 64, 64)
        if fmt == "bmp":
            from gnosis_ocr_spark.functions.codec_media import encode_gray_bmp

            return encode_gray_bmp(px, 64, 64)
        if fmt == "webp":
            from gnosis_ocr_spark.functions.codec_vp8l import (
                encode_webp_lossless_gray,
            )

            return encode_webp_lossless_gray(px, 64, 64)
        if fmt == "webp_lossy":
            import numpy as np

            from gnosis_ocr_spark.functions.codec_vp8 import build_webp_lossy

            arr = np.frombuffer(
                encode_scan_pixels_robust(text, 64, 64), np.uint8
            ).reshape(64, 64)
            # qindex 0 keeps VP8 quantization noise within the robust
            # matrix's ±7 band tolerance (same class as the jpeg writer)
            return build_webp_lossy(arr, qindex=0)[0]
        import numpy as np

        from gnosis_ocr_spark.functions.codec_jpx import encode_jp2

        arr = np.frombuffer(px, dtype=np.uint8).reshape(64, 64)
        return encode_jp2([arr], lossless=True)

    return write


def _build_pdf_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from gnosis_ocr_spark.functions import codec_pdf as _cp

    # writer class rotates on doc_id % len(writers) (deterministic, no rng) so the
    # GREEN pdf_extract driver row certifies every codec path the engine
    # supports — plain/Flate classic, PDF 1.5 ObjStm+xref-stream, LZW,
    # chained ASCII85+Flate with indirect /Length, kerning-only word
    # breaks, RC4-encrypted, composite Type0/Identity-H CIDs, and Form-
    # XObject pages (/Fm Do with a /Matrix translation), AES-128 /V 4
    # /CFM /AESV2 encrypted files, and scanned/image-only pages (a single
    # DeviceGray image XObject, zero text operators — exercises the
    # image-decode → OCR-seam path end-to-end) in raw-Flate, baseline-
    # JPEG, CCITT-G4 fax, and JBIG2 generic-region encodings (the
    # dominant real-crawl scanned-B/W codecs), plus annotation appearance
    # streams (/AP /N with /AS state selection; hidden and /Link decoys),
    # plus embedded-font-program builtin encodings (Type1 cleartext
    # /Encoding, symbolic-TrueType cmap+post, and bare-CFF /Type1C
    # custom Encoding/charset — no dict encoding info in any of them).
    # All writers emit the identical page text, so the oracle stays a pure
    # SQL function of `text`.
    writers = (
        lambda p: _cp.build_pdf(p),
        lambda p: _cp.build_pdf(p, compress=True),
        lambda p: _cp.build_pdf_15(p),
        lambda p: _cp.build_pdf_filtered(p, filters=("LZWDecode",)),
        lambda p: _cp.build_pdf_filtered(
            p, filters=("ASCII85Decode", "FlateDecode"), indirect_length=True
        ),
        lambda p: _cp.build_pdf_tj_kerned(p),
        lambda p: _cp.build_pdf_encrypted(p, revision=3),
        lambda p: _cp.build_pdf_type0(p),
        lambda p: _cp.build_pdf_form_xobject(p),
        lambda p: _cp.build_pdf_encrypted(p, revision=4),
        lambda p: _cp.build_pdf_type0(p, custom_cmap=True),
        lambda p: _cp.build_pdf_scanned(p),
        lambda p: _cp.build_pdf_type0(p, predefined="UniGB-UCS2-H"),
        lambda p: _cp.build_pdf_scanned(p, image_filter="jpeg"),
        lambda p: _cp.build_pdf_scanned(
            p, width=128, height=128, image_filter="g4"
        ),
        lambda p: _cp.build_pdf_scanned(
            p, width=128, height=128, image_filter="jbig2"
        ),
        # annotation appearance streams: the second page's text lives in a
        # visible /AP /N form (plus hidden + /Link decoys that must not
        # extract) — poppler renders appearances, so the reference OCRs them
        lambda p: _cp.build_pdf_annots(p, state_dict=True),
        # embedded-font-program builtin encodings: the PDF dict carries NO
        # /Encoding//ToUnicode — text is recoverable only through the
        # Type1 program's cleartext /Encoding (dup/put) or the symbolic
        # TrueType's cmap(3,0)+post chain (poppler's FreeType path)
        lambda p: _cp.build_pdf_embedded_font(p, kind="type1"),
        lambda p: _cp.build_pdf_embedded_font(p, kind="truetype"),
        lambda p: _cp.build_pdf_embedded_font(p, kind="cff"),
        # incrementally updated file: the decoy original is superseded by
        # the appended update section (/Prev chain; ObjStm-hybrid shape) —
        # extraction shows the LATEST generation like a conforming reader
        lambda p: _cp.build_pdf_incremental(p, objstm=True),
        # full text/CTM affine composition: q/Q + cm, 90°-rotated Tm with
        # Td and TL/T* advances composing THROUGH the rotation — extracts
        # on-grid only via Trm = Tm·CTM (poppler's reading)
        lambda p: _cp.build_pdf_matrix(p),
        # /Rotate page (landscape-scan shape) authored in rotated space,
        # /Rotate inherited from the /Pages root — spans normalize into
        # display orientation like poppler's rendered view
        lambda p: _cp.build_pdf_rotate(p, inherit=True),
        # image-only /Rotate page: sideways-stored raster the scanned
        # path rotates back upright before OCR (poppler parity)
        lambda p: _cp.build_pdf_scanned(p, rotate=90),
        # /ActualText marked content: enclosed decoy shows replaced by
        # the region's text (tagged-PDF ligature/hyphenation shape)
        lambda p: _cp.build_pdf_actualtext(p),
        # optional content groups: OFF-by-default watermark layer decoys
        # (incl. visible-nested-inside-hidden) must not extract
        lambda p: _cp.build_pdf_ocg(p),
        # Type3 glyph-procedure font (dvips/LaTeX bitmap shape): text
        # recoverable only through the REQUIRED /Encoding /Differences;
        # a decoy CharProcs stream with text operators must not extract
        lambda p: _cp.build_pdf_type3(p),
        # non-trivial image colorspace: /Indexed palette scanned page —
        # indices map through an identity-gray RGB palette, so recovery
        # certifies the §8.6 colorspace resolution (ICCBased and
        # DeviceCMYK ride the same reduction, unit-certified)
        lambda p: _cp.build_pdf_scanned(p, image_filter="indexed"),
        # STANDALONE images (indices >= 28, mirrored by the oracle's
        # n_pages CASE): the whole expected two-page string rides ONE
        # scan-matrix raster — the reference's direct image-upload path
        _image_writer("png"),
        _image_writer("jpeg"),
        _image_writer("webp"),
        _image_writer("gif"),
        _image_writer("bmp"),
        _image_writer("jp2"),
        _image_writer("webp_lossy"),
    )
    for b in batches:
        out = {"url": [], "html": []}
        for doc_id, norm in zip(b["doc_id"], b["norm"]):
            p1, p2 = norm[:60], norm[60:120]
            out["url"].append(str(doc_id))
            w = writers[int(doc_id) % len(writers)]
            out["html"].append(w([p1, p2]))
        yield pd.DataFrame(out)


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+U2+U3+A6 end-to-end: build a 2-page PDF from the text, split,
    rasterize, stub-OCR, reassemble — expect the two trimmed 60-char pages."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _norm(F.col("text")).alias("norm")
    )
    # small parquet inputs arrive as one split; spread before the per-doc
    # build/split/raster work so the flat-map parallelizes (width follows the
    # session's shuffle parallelism — correct at any local[N]/cluster size)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = docs.filter(F.length("norm") >= 120).repartition(n_part)
    pdfs = docs.mapInPandas(_build_pdf_batches, schema="url string, html binary")
    pages = split_pdf_text_pages(pdfs)
    # fused raster+OCR (the production path); raster pinned so driver
    # correctness runs are environment-independent
    ocred = raster_ocr_pages(pages, ocr_engine="stub", raster="64x64")
    return assemble_documents(ocred)


# 35 writer classes; indices >= 28 are standalone images (one page
# carrying the same two-page text) — the CASE mirrors the Python rotation
ORACLE_PDF_EXTRACT = f"""
WITH n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents)
SELECT CAST(doc_id AS VARCHAR) AS url,
       trim(substr(norm, 1, 60)) || chr(10) || chr(10) || trim(substr(norm, 61, 60))
         AS extracted_text,
       CASE WHEN doc_id % 35 >= 28 THEN 1 ELSE 2 END AS n_pages
FROM n WHERE length(norm) >= 120
"""


def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 magic-byte routing over a constructed mixed-payload corpus —
    pdf / html / empty / ZIP container / RTF / CFB (OLE2) / RFC 5322 mail /
    gzip (the last five all route 'office') / RSS (routes 'feed') / PNG
    (routes 'image')."""
    docs = _t(spark, sf_dir, "documents")
    payload = (
        F.when(F.col("doc_id") % 10 == 0, F.encode(F.concat(F.lit("%PDF-1.4 "), F.col("text")), "UTF-8"))
        .when(F.col("doc_id") % 10 == 1, F.encode(F.concat(F.lit("<html><body>"), F.col("text")), "UTF-8"))
        .when(
            F.col("doc_id") % 10 == 3,
            F.concat(F.lit(bytearray(b"PK\x03\x04")), F.encode(F.col("text"), "UTF-8")),
        )
        .when(F.col("doc_id") % 10 == 4, F.encode(F.concat(F.lit("{\\rtf1 "), F.col("text")), "UTF-8"))
        .when(
            F.col("doc_id") % 10 == 5,
            F.concat(F.lit(bytearray(b"\xd0\xcf\x11\xe0")), F.encode(F.col("text"), "UTF-8")),
        )
        .when(
            F.col("doc_id") % 10 == 6,
            F.encode(
                F.concat(F.lit("Subject: t\r\nFrom: a@b.test\r\n\r\n"), F.col("text")),
                "UTF-8",
            ),
        )
        .when(
            F.col("doc_id") % 10 == 7,
            F.concat(F.lit(bytearray(b"\x1f\x8b")), F.encode(F.col("text"), "UTF-8")),
        )
        .when(
            F.col("doc_id") % 10 == 8,
            F.encode(
                F.concat(F.lit('<rss version="2.0"><channel>'), F.col("text")),
                "UTF-8",
            ),
        )
        .when(
            F.col("doc_id") % 10 == 9,
            F.concat(
                F.lit(bytearray(b"\x89PNG\r\n\x1a\n")),
                F.encode(F.col("text"), "UTF-8"),
            ),
        )
        .otherwise(F.encode(F.lit(""), "UTF-8"))
    )
    return (
        docs.select(payload.alias("payload"))
        .select(route_col("payload").alias("route"))
        .groupBy("route")
        .agg(F.count("*").alias("cnt"))
    )


ORACLE_ROUTE_COUNTS = """
SELECT CASE WHEN doc_id % 10 = 0 THEN 'pdf' WHEN doc_id % 10 = 1 THEN 'html'
            WHEN doc_id % 10 IN (3, 4, 5, 6, 7) THEN 'office'
            WHEN doc_id % 10 = 8 THEN 'feed'
            WHEN doc_id % 10 = 9 THEN 'image'
            ELSE 'empty' END AS route, COUNT(*) AS cnt
FROM documents GROUP BY 1
"""


def q_span_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U8 bounding-box reading order: 3 positioned spans per doc (two on one
    row, one below) must reassemble as 'a b\\nc'."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"), _norm(F.col("text")).alias("norm")
    )
    spans = docs.select(
        "url",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("page_no"), F.lit(72.0).alias("x"),
                    F.lit(720.0).alias("y"), F.substring("norm", 1, 10).alias("span_text"),
                ),
                F.struct(
                    F.lit(1).alias("page_no"), F.lit(300.0).alias("x"),
                    F.lit(720.0).alias("y"), F.substring("norm", 11, 10).alias("span_text"),
                ),
                F.struct(
                    F.lit(1).alias("page_no"), F.lit(72.0).alias("x"),
                    F.lit(700.0).alias("y"), F.substring("norm", 21, 10).alias("span_text"),
                ),
            )
        ).alias("s"),
    ).select("url", "s.page_no", "s.x", "s.y", "s.span_text")
    return assemble_spans(spans)


ORACLE_SPAN_ASSEMBLY = f"""
WITH n AS (SELECT CAST(doc_id AS VARCHAR) AS url, {_NORM_SQL} AS norm FROM documents)
SELECT url,
       trim(substr(norm,1,10) || ' ' || substr(norm,11,10) || chr(10) || substr(norm,21,10))
         AS extracted_text,
       1 AS n_pages
FROM n
"""


# --------------------------------------------------------------------------
# reference relational operators (SURVEY §2.3–2.7) over the TPC-H-ish tables
# --------------------------------------------------------------------------


def q_session_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A4/A5 scan_and_build_status over the events table: clicks are
    'pages extracted', purchases are 'OCR done', views define the total."""
    from gnosis_ocr_spark.operators.aggregates import session_status

    events = _t(spark, sf_dir, "events")
    totals = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count("*").alias("total_pages"))
    )
    files = (
        events.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.col("user_id"),
            F.when(F.col("event_type") == "click", "page").otherwise("result").alias("kind"),
            F.col("event_id").cast("int").alias("page_no"),
            F.lit("").alias("text"),
        )
        .join(totals, "user_id")
        .select(
            F.col("user_id").cast("string").alias("session"),
            "kind", "page_no", "text", "total_pages",
        )
    )
    return session_status(files)


ORACLE_SESSION_STATUS = """
WITH totals AS (
  SELECT user_id, COUNT(*) AS total_pages FROM events WHERE event_type = 'view' GROUP BY 1
), f AS (
  SELECT e.user_id, CASE WHEN e.event_type = 'click' THEN 'page' ELSE 'result' END AS kind,
         t.total_pages
  FROM events e JOIN totals t USING (user_id)
  WHERE e.event_type IN ('click','purchase')
)
SELECT CAST(user_id AS VARCHAR) AS session,
       MAX(total_pages) AS total_pages,
       COUNT(*) FILTER (kind = 'page') AS pages_extracted,
       COUNT(*) FILTER (kind = 'result') AS ocr_completed,
       CASE WHEN MAX(total_pages) > 0
            THEN CAST(round_even(COUNT(*) FILTER (kind='page') * 100.0 / MAX(total_pages), 0) AS INT)
            ELSE 0 END AS extraction_pct,
       CASE WHEN MAX(total_pages) > 0
            THEN CAST(round_even(COUNT(*) FILTER (kind='result') * 100.0 / MAX(total_pages), 0) AS INT)
            ELSE 0 END AS ocr_pct,
       CASE WHEN MAX(total_pages) > 0 AND COUNT(*) FILTER (kind='result') = MAX(total_pages)
              THEN 'complete'
            WHEN COUNT(*) FILTER (kind='result') > 0 THEN 'processing'
            ELSE 'pending' END AS status
FROM f GROUP BY user_id
"""


def q_ordered_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 ordered concat + J2 missing-set in ONE per-doc resume manifest
    (merged from the former ``missing_chunks`` row to free a registry slot
    for quality_classifier): per order, the return flags assembled in
    line-number order AND the 0-based line slots 0..6 that are absent —
    both computed by the real operators (ordered_text_concat /
    missing_chunks) over the same chunk relation."""
    li = _t(spark, sf_dir, "lineitem")
    chunks = li.select(
        F.col("l_orderkey").cast("string").alias("doc"),
        F.col("l_linenumber").alias("chunk_no"),
        F.col("l_returnflag").alias("text"),
    )
    assembled = ordered_text_concat(chunks)
    miss_in = li.select(
        F.col("l_orderkey").cast("string").alias("doc"),
        (F.col("l_linenumber") - 1).alias("chunk_no"),
        F.lit(7).alias("expected_total"),
    ).withColumn("data", F.encode(F.lit(""), "UTF-8"))
    miss = (
        missing_chunks(miss_in)
        .groupBy("doc")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("chunk_no")),
                    lambda c: c.cast("string"),
                ),
                ",",
            ).alias("missing")
        )
    )
    return assembled.join(miss, "doc", "left").select(
        "doc", "assembled", F.coalesce(F.col("missing"), F.lit("")).alias("missing")
    )


ORACLE_ORDERED_CONCAT = """
WITH ch AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS doc, l_linenumber, l_returnflag
  FROM lineitem
), asm AS (
  SELECT doc,
         string_agg(l_returnflag, '' ORDER BY l_linenumber, l_returnflag) AS assembled
  FROM ch GROUP BY doc
), grid AS (
  SELECT d.doc, g.g AS chunk_no
  FROM (SELECT DISTINCT doc FROM ch) d, generate_series(0, 6) g(g)
), mi AS (
  SELECT doc, string_agg(CAST(chunk_no AS VARCHAR), ',' ORDER BY chunk_no) AS missing
  FROM grid
  WHERE NOT EXISTS (SELECT 1 FROM ch
                    WHERE ch.doc = grid.doc AND ch.l_linenumber - 1 = grid.chunk_no)
  GROUP BY doc
)
SELECT a.doc, a.assembled, COALESCE(mi.missing, '') AS missing
FROM asm a LEFT JOIN mi USING (doc)
"""
# note: l_linenumber can repeat within an order in this synthetic data; the
# Spark side's array_sort(struct(chunk_no, text)) breaks ties on text, so the
# oracle orders by (l_linenumber, l_returnflag) to match.


def q_latest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/W2 + A7 in one pass (merged from the former high_water row to keep
    the registry at 50): latest event per user carrying that user's RUNNING
    high-water progress (the monotonic-max window, evaluated at the latest
    row, certifies the whole prefix), top-50 most-recent users."""
    events = _t(spark, sf_dir, "events")
    w_desc = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    progress = F.round(F.col("value") * 100).cast("int")
    return (
        events.withColumn("_rn", F.row_number().over(w_desc))
        .withColumn("progress_hwm", F.max(progress).over(w_run))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id", "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
            "progress_hwm",
        )
        .orderBy(F.desc("ts_str"), F.asc("user_id"))
        .limit(50)
    )


ORACLE_LATEST_TOPK = """
WITH latest AS (
  SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
         MAX(CAST(ROUND(value * 100) AS INT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS progress_hwm,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, ts_str, progress_hwm FROM latest WHERE rn = 1
ORDER BY ts_str DESC, user_id ASC LIMIT 50
"""


def q_chunk_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 binary assembly: 3 text slices per doc concatenated in order."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc"), _norm(F.col("text")).alias("norm")
    )
    chunks = docs.select(
        "doc",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("chunk_no"), F.substring("norm", 1, 16).alias("piece")),
                F.struct(F.lit(1).alias("chunk_no"), F.substring("norm", 17, 16).alias("piece")),
                F.struct(F.lit(2).alias("chunk_no"), F.substring("norm", 33, 16).alias("piece")),
            )
        ).alias("c"),
    ).select(
        "doc", "c.chunk_no", F.encode(F.col("c.piece"), "UTF-8").alias("data"),
        F.lit(3).alias("expected_total"),
    )
    # hex, not raw binary: the driver's canonicalizer sorts output columns in
    # pandas and bytearray is unhashable there (round-1 `err`); hex strings
    # preserve the byte-identity check with a well-defined hash
    return assemble_chunks(chunks).select(
        "doc", F.hex("data").alias("data_hex"), "n_chunks"
    )


ORACLE_CHUNK_ASSEMBLY = f"""
WITH n AS (SELECT CAST(doc_id AS VARCHAR) AS doc, {_NORM_SQL} AS norm FROM documents)
SELECT doc, hex(encode(substr(norm, 1, 48))) AS data_hex, 3 AS n_chunks FROM n
"""


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2+J3 in one plan: every customer tagged by ownership —
    ``left_semi`` (has ≥1 order) ∪ ``left_anti`` (has none) — plus the
    broadcast index-lookup join as a third branch (merged from the round-3
    ``lookup_join`` row to free a registry slot for the composed-plan rows;
    the broadcast hint stays plan-asserted in test_plan_quality)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    semi = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select(
        F.col("c_custkey").cast("long").alias("keyval"),
        F.col("c_name").alias("name"),
        F.lit("has_orders").alias("rel"),
    )
    anti = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select(
        F.col("c_custkey").cast("long").alias("keyval"),
        F.col("c_name").alias("name"),
        F.lit("no_orders").alias("rel"),
    )
    lookup = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).select(
        F.col("o_orderkey").cast("long").alias("keyval"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("name"),
        F.lit("order_owner").alias("rel"),
    )
    return semi.unionByName(anti).unionByName(lookup)


ORACLE_SEMI_ANTI_JOIN = """
SELECT CAST(c_custkey AS BIGINT) AS keyval, c_name AS name, 'has_orders' AS rel
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT CAST(c_custkey AS BIGINT) AS keyval, c_name AS name, 'no_orders' AS rel
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT CAST(o_orderkey AS BIGINT) AS keyval,
       c_name || '|' || c_mktsegment AS name, 'order_owner' AS rel
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO1+SO2 in one plan: the two-branch union (the PDF ∪ HTML convergence
    pattern) plus an EXCEPT branch — customers with open ('O') orders minus
    those with 'F'. Merged from the round-2 ``union_branches``/``except_op``
    queries so the registry fits the driver's 50-row recording window."""
    orders = _t(spark, sf_dir, "orders")
    open_b = orders.filter(F.col("o_orderstatus") == "O").select(
        F.lit("open").alias("op"), F.col("o_orderkey").alias("keyval")
    )
    done_b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.lit("done").alias("op"), F.col("o_orderkey").alias("keyval")
    )
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    only_open = o_cust.exceptAll(f_cust).select(
        F.lit("only_open").alias("op"), F.col("o_custkey").alias("keyval")
    )
    return open_b.unionByName(done_b).unionByName(only_open)


ORACLE_SET_OPS = """
SELECT 'open' AS op, o_orderkey AS keyval FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT 'done' AS op, o_orderkey AS keyval FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT 'only_open' AS op, keyval FROM (
  SELECT DISTINCT o_custkey AS keyval FROM orders WHERE o_orderstatus = 'O'
  EXCEPT
  SELECT DISTINCT o_custkey AS keyval FROM orders WHERE o_orderstatus = 'F'
)
"""


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3/F5/F12 scalar surface in one projection."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://ex.test/doc-"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 4 == 0, ".pdf")
        .when(F.col("doc_id") % 4 == 1, ".HTML")
        .when(F.col("doc_id") % 4 == 2, ".md")
        .otherwise(".png"),
    )
    fname = page_filename((F.col("doc_id") % 500).cast("int"))
    return docs.select(
        "doc_id",
        user_hash(F.col("source")).alias("uhash"),
        fname.alias("fname"),
        parse_page_no(fname).alias("parsed_no"),
        url_extension(url).alias("ext"),
        content_type_for(url).alias("ctype"),
        progress_percent(
            (F.col("doc_id") % 7).cast("int"), F.lit(7)
        ).alias("pct"),
    )


ORACLE_SCALAR_FUNCS = """
WITH u AS (
  SELECT doc_id, source,
         'https://ex.test/doc-' || CAST(doc_id AS VARCHAR) ||
         CASE WHEN doc_id % 4 = 0 THEN '.pdf' WHEN doc_id % 4 = 1 THEN '.HTML'
              WHEN doc_id % 4 = 2 THEN '.md' ELSE '.png' END AS url,
         printf('page_%03d.png', CAST(doc_id % 500 AS INT)) AS fname
  FROM documents
)
SELECT doc_id,
       substr(sha256(source), 1, 12) AS uhash,
       fname,
       CAST(regexp_extract(fname, '_(\\d+)\\.', 1) AS INT) AS parsed_no,
       lower(regexp_extract(regexp_replace(url, '[?#].*$', ''),
             '[^./](\\.[^./]+)$', 1)) AS ext,
       CASE lower(regexp_extract(url, '(\\.[^./]+)$', 1))
            WHEN '.pdf' THEN 'application/pdf'
            WHEN '.png' THEN 'image/png'
            WHEN '.md' THEN 'text/markdown'
            WHEN '.html' THEN 'text/html'
            ELSE 'application/octet-stream' END AS ctype,
       CAST(round_even((doc_id % 7) * 100.0 / 7, 0) AS INT) AS pct
FROM u
"""


# --------------------------------------------------------------------------
# TPC-H-style headline queries (integer-cents aggregates for oracle parity)
# --------------------------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_CENTS(F.col("l_quantity"))).alias("sum_qty_c"),
            F.sum(_CENTS(F.col("l_extendedprice"))).alias("sum_base_c"),
            F.sum(_CENTS(disc_price)).alias("sum_disc_c"),
            F.sum(_CENTS(charge)).alias("sum_charge_c"),
            F.count("*").alias("count_order"),
        )
    )


# every integer SUM is wrapped CAST(SUM(..) AS BIGINT): DuckDB promotes
# SUM(BIGINT) to HUGEINT, which pandas renders as float64 and the driver's
# value hash then sees 12345.0 vs Spark's 12345 (round-1 lesson, 9 red rows)
ORACLE_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_c,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_c,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15"))
    revenue = F.sum(_CENTS(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(revenue.alias("revenue_c"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_str"),
            "revenue_c",
        )
        .orderBy(F.desc("revenue_c"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_TPCH_Q3 = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue_c DESC, l_orderkey ASC LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_CENTS(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue_c"))
    )


ORACLE_TPCH_Q5 = """
SELECT n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_CENTS(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue_c"))
        .orderBy(F.desc("revenue_c"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_TPCH_Q10 = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_c DESC, c_custkey ASC LIMIT 20
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shaped order-priority check: orders in one quarter having at least
    one line shipped AFTER the order date (late-shipment proxy — the
    synthetic lineitem lacks commit/receipt dates), counted per priority.
    Exercises the correlated-EXISTS → semi-join-with-condition shape."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


ORACLE_TPCH_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-shaped conditional aggregate: per return flag (standing in for
    ship mode, absent from the synthetic schema), how many 1996-shipped
    lines belong to high- vs lower-priority orders."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


ORACLE_TPCH_Q12 = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
            AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customers: orders whose total quantity exceeds 250,
    with customer attribution — the groupBy-HAVING-then-join shape."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_CENTS(F.col("l_quantity"))).alias("qty_c"))
        .filter(F.col("qty_c") > 250 * 100)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_str"),
            _CENTS(F.col("o_totalprice")).alias("totalprice_c"),
            "qty_c",
        )
        .orderBy(F.desc("totalprice_c"), F.asc("o_orderkey"))
        .limit(20)
    )


ORACLE_TPCH_Q18 = """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 25000
)
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_c,
       qty_c
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY totalprice_c DESC, o_orderkey ASC LIMIT 20
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global-market-pulse shape: customers with above-average (positive)
    balance and NO orders, grouped by nation (standing in for the phone
    country code). Exercises the scalar-subquery + NOT-EXISTS combination;
    the scalar joins in as a broadcast, keeping the plan fully distributed.

    The above-average comparison is EXACT integer arithmetic on both sides:
    cents·count > total_cents (cross-multiplied) instead of a float AVG —
    a balance one ULP from a float mean must not flip the driver hash."""
    cust = _t(spark, sf_dir, "customer")
    # "no RECENT orders" (from 1998 on): in the synthetic data every customer
    # has SOME order, so an all-time NOT EXISTS returns zero rows and the
    # oracle row would be vacuous — the date window keeps the correlated
    # anti-join shape AND a non-empty, value-checked result
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01")
    )
    pos_stats = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_CENTS(F.col("c_acctbal"))).alias("pos_total_c"),
        F.count("*").alias("pos_n"),
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(pos_stats))
        .filter(_CENTS(F.col("c_acctbal")) * F.col("pos_n") > F.col("pos_total_c"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_CENTS(F.col("c_acctbal"))).alias("totacctbal_c"),
        )
    )


ORACLE_TPCH_Q22 = """
WITH pos AS (
  SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_c,
         COUNT(*) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_c
FROM customer c, pos
WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * pos.n > pos.total_c
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1998-01-01')
GROUP BY c_nationkey
"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume shipping: revenue between two nations in either direction,
    per (supplier nation, customer nation, ship year) — the two-sided
    dimension-pair filter + year bucketing shape."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    # pre-filter the dims to the two named nations BEFORE the joins: the
    # OR-of-ANDs pair predicate can't be derived by Catalyst, so without this
    # 23/25 of nations flow through all five joins first
    two = nation.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    n1 = F.broadcast(two.select(F.col("n_nationkey").alias("s_nk"),
                                F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(two.select(F.col("n_nationkey").alias("c_nk"),
                                F.col("n_name").alias("cust_nation")))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n1, supp.s_nationkey == F.col("s_nk"))
        .join(n2, cust.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(_CENTS(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
             .alias("revenue_c"))
    )


ORACLE_TPCH_Q7 = """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS revenue_c
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted revenue under OR'd multi-attribute predicates
    (brand × size × quantity bands) — the disjunctive-pushdown shape."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(band).agg(
        F.sum(_CENTS(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .alias("revenue_c"),
        F.count("*").alias("n_lines"),
    )


ORACLE_TPCH_Q19 = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS revenue_c,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier(s): suppliers whose quarterly revenue EQUALS the
    maximum (ties kept) — the aggregate-then-compare-to-global-max shape;
    the single-row max joins back as a broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_CENTS(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
             .alias("total_rev_c"))
    )
    mx = rev.agg(F.max("total_rev_c").alias("max_rev_c"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev_c") == F.col("max_rev_c"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev_c")
    )


ORACLE_TPCH_Q15 = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS total_rev_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev_c
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_c = (SELECT MAX(total_rev_c) FROM rev)
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue: lines whose quantity is below 20%
    of their part's average quantity — the correlated per-group scalar
    shape. The comparison is integer-exact by cross-multiplication, both
    sides in the same cents scale (no float 0.2·avg boundary):
    qty_c < 0.2 · (total_c / n)  ⟺  qty_c · 5 · n < total_c."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(_CENTS(F.col("l_quantity"))).alias("part_qty_c"),
        F.count("*").alias("part_n"),
    )
    j = li.join(per_part, li.l_partkey == F.col("pk"))
    small = _CENTS(F.col("l_quantity")) * 5 * F.col("part_n") < F.col("part_qty_c")
    return j.filter(small).agg(
        F.sum(_CENTS(F.col("l_extendedprice"))).alias("small_rev_c"),
        F.count("*").alias("n_lines"),
    )


ORACLE_TPCH_Q17 = """
WITH pp AS (
  SELECT l_partkey AS pk,
         CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS part_qty_c,
         COUNT(*) AS part_n
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS small_rev_c,
       COUNT(*) AS n_lines
FROM lineitem JOIN pp ON l_partkey = pk
WHERE CAST(ROUND(l_quantity * 100) AS BIGINT) * 5 * part_n < part_qty_c
"""


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl host analytics over CANONICALIZED urls: synthesize per-doc urls
    decorated with the real-crawl mess (WWW./uppercase host, :443 default
    port, tracking params, unsorted query, fragments, trailing slash),
    canonicalize (functions/urls.py, pure JVM expressions), and aggregate
    per host — n_docs counts raw rows, n_pages counts DISTINCT canonical
    urls, so the row certifies that the decorations collapse."""
    from gnosis_ocr_spark.functions.urls import (
        canonicalize_url,
        url_host,
        url_path_depth,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(d % 4 == 0, "WWW.").otherwise(""),
        F.lit("host"), (d % 50).cast("string"),
        F.lit(".Example.org"),
        F.when(d % 5 == 0, ":443").otherwise(""),
        F.lit("/a/b"),
        F.when(d % 3 == 0, "/c").otherwise(""),
        F.lit("/p"), (d % 25).cast("string"),
        F.when(d % 11 == 0, "/").otherwise(""),
        F.when(d % 2 == 0, "?utm_source=x&b=2&a=1").otherwise("?a=1&b=2"),
        F.when(d % 7 == 0, "#frag").otherwise(""),
    )
    curl = canonicalize_url(url)
    return (
        docs.select(
            url_host(curl).alias("host"),
            curl.alias("curl"),
            url_path_depth(curl).alias("depth"),
            F.length("text").alias("nb"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("curl").alias("n_pages"),
            F.sum(F.col("nb").cast("long")).alias("text_bytes"),
            F.max("depth").alias("max_depth"),
        )
    )


def _oracle_host_stats() -> str:
    from gnosis_ocr_spark.functions.urls import canon_cte_sql

    messy = (
        "'https://' || CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END"
        " || 'host' || CAST(doc_id % 50 AS VARCHAR) || '.Example.org'"
        " || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END"
        " || '/a/b' || CASE WHEN doc_id % 3 = 0 THEN '/c' ELSE '' END"
        " || '/p' || CAST(doc_id % 25 AS VARCHAR)"
        " || CASE WHEN doc_id % 11 = 0 THEN '/' ELSE '' END"
        " || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&b=2&a=1'"
        "         ELSE '?a=1&b=2' END"
        " || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END"
    )
    ctes = canon_cte_sql(messy, "doc_id, nb", "u")
    return f"""
WITH u AS (SELECT doc_id, length(text) AS nb FROM documents),
{ctes.lstrip()},
p AS (
  SELECT regexp_extract(curl, '^[a-z]+://([^/:?#]+)', 1) AS host, curl, nb,
         len(regexp_split_to_array(
             regexp_extract(curl, '^[A-Za-z]+://[^/?#]*([^?]*)', 1), '/')) - 1
           AS depth
  FROM _u3
)
SELECT host, COUNT(*) AS n_docs, COUNT(DISTINCT curl) AS n_pages,
       CAST(SUM(nb) AS BIGINT) AS text_bytes,
       MAX(depth) AS max_depth
FROM p GROUP BY host
"""


ORACLE_HOST_STATS = _oracle_host_stats()


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session): the
    classic lag + cumulative-sum window program. Output: per (user, session)
    event count and duration seconds."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_flag = events.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = with_flag.withColumn("session_no", F.sum("new_sess").over(w_cum))
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).cast("long").alias("duration_sec"),
    )


# floor(epoch(...)) everywhere: events carry microseconds, and Spark's
# unix_timestamp() floors to whole seconds — the oracle must floor too or
# gap comparisons at the 1800 s boundary diverge
ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_no
  FROM flagged
)
SELECT user_id, session_no, COUNT(*) AS n_events,
       CAST(floor(epoch(MAX(ts))) AS BIGINT)
         - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS duration_sec
FROM sess GROUP BY user_id, session_no
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation + exact percentiles in one pass (merged from the
    former percentiles row to keep the registry at 50): event counts, value
    cents, and exact p50/p90 (linear interpolation over integer cents —
    float-identical between engines) at (type, user-bucket), (type), and
    grand-total levels. NULL grouping levels are stringified so the oracle
    hash is unambiguous."""
    events = _t(spark, sf_dir, "events")
    bucket = (F.col("user_id") % 10).cast("int")
    cents = F.round(F.col("value") * 100)
    rolled = (
        events.select(F.col("event_type"), bucket.alias("user_bucket"), "value")
        .rollup("event_type", "user_bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(_CENTS(F.col("value"))).alias("value_c"),
            F.round(F.expr("percentile(round(value*100), 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(round(value*100), 0.9)"), 4).alias("p90"),
            F.round(F.min(cents), 4).alias("vmin"),
            F.round(F.max(cents), 4).alias("vmax"),
        )
    )
    return rolled.select(
        F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
        F.coalesce(F.col("user_bucket").cast("string"), F.lit("<all>")).alias(
            "user_bucket"
        ),
        "n",
        "value_c",
        "p50",
        "p90",
        "vmin",
        "vmax",
    )


ORACLE_ROLLUP = """
SELECT COALESCE(event_type, '<all>') AS event_type,
       COALESCE(CAST(user_bucket AS VARCHAR), '<all>') AS user_bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_c,
       ROUND(quantile_cont(round(value * 100), 0.5), 4) AS p50,
       ROUND(quantile_cont(round(value * 100), 0.9), 4) AS p90,
       ROUND(MIN(round(value * 100)), 4) AS vmin,
       ROUND(MAX(round(value * 100)), 4) AS vmax
FROM (SELECT event_type, CAST(user_id % 10 AS INT) AS user_bucket, value FROM events)
GROUP BY ROLLUP (event_type, user_bucket)
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promo revenue + Q6 forecast revenue in ONE conditional-aggregate
    pass (merged from the former tpch_q6 row to free a registry slot for
    lm_score; both are single-row lineitem aggregates, so the merge is a
    filter-union + per-condition sums — no extra scan, no cross join).
    Ratios in basis points / cents so the oracle hash is integer-exact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    part = _t(spark, sf_dir, "part")
    rev = _CENTS(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    in_march = (F.col("l_shipdate") >= F.lit("1996-03-01")) & (
        F.col("l_shipdate") < F.lit("1996-04-01")
    )
    q6_cond = (
        (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        F.sum(
            F.when(in_march & F.col("p_type").startswith("PROMO"), rev).otherwise(0)
        ).alias("promo_c"),
        F.sum(F.when(in_march, rev).otherwise(0)).alias("total_c"),
        F.sum(
            F.when(
                q6_cond, _CENTS(F.col("l_extendedprice") * F.col("l_discount"))
            ).otherwise(0)
        ).alias("q6_revenue_c"),
    ).select(
        "promo_c",
        "total_c",
        F.round(F.col("promo_c") * 10000.0 / F.col("total_c")).cast("long").alias(
            "promo_bp"
        ),
        "q6_revenue_c",
    )


ORACLE_TPCH_Q14 = """
WITH j AS (
  SELECT CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_c,
         CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT) AS disc_c,
         p_type, l_shipdate, l_discount, l_quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
), m AS (
  SELECT *,
         l_shipdate >= TIMESTAMP '1996-03-01'
           AND l_shipdate < TIMESTAMP '1996-04-01' AS in_march,
         l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24 AS q6_cond
  FROM j
)
SELECT CAST(SUM(CASE WHEN in_march AND p_type LIKE 'PROMO%' THEN rev_c ELSE 0 END) AS BIGINT) AS promo_c,
       CAST(SUM(CASE WHEN in_march THEN rev_c ELSE 0 END) AS BIGINT) AS total_c,
       CAST(ROUND(SUM(CASE WHEN in_march AND p_type LIKE 'PROMO%' THEN rev_c ELSE 0 END) * 10000.0
                  / SUM(CASE WHEN in_march THEN rev_c ELSE 0 END)) AS BIGINT) AS promo_bp,
       CAST(SUM(CASE WHEN q6_cond THEN disc_c ELSE 0 END) AS BIGINT) AS q6_revenue_c
FROM m
"""


def q_windowed_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time window aggregation on events: docs and bytes per 10 minutes."""
    events = _t(spark, sf_dir, "events").select(
        F.col("ts").alias("warc_ts"), F.encode(F.col("event_type"), "UTF-8").alias("html")
    )
    return windowed_throughput(events, window="10 minutes").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("win"),
        "docs",
        "bytes_in",
    )


ORACLE_WINDOWED_THROUGHPUT = """
SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS win,
       COUNT(*) AS docs,
       CAST(SUM(octet_length(encode(event_type))) AS BIGINT) AS bytes_in
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# training-data pipeline: text analysis, dedup, similarity
# --------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text analysis in ONE pass (merged with the former `quality`
    row to free a registry slot for gopher_repetition): token counts,
    lang-ID, fingerprint, plus the quality-score components."""
    docs = _t(spark, sf_dir, "documents")
    # materialize the lowercase tokens ONCE: lang_id's 10 per-language
    # filter lambdas would otherwise each re-run the tokenizer (no CSE in
    # HOF lambdas); the alias is referenced 10× so CollapseProject keeps it
    from gnosis_ocr_spark.functions.text import tokens

    nc, nt, ar, pr, mwl = quality_metrics(F.col("text"))
    return docs.withColumn("_ltoks", tokens(F.lower(F.col("text")))).select(
        "doc_id",
        nc,
        nt,
        bpe_ish_token_count(F.col("text")).alias("n_bpe"),
        lang_id(F.col("text"), toks=F.col("_ltoks")).alias("lang_guess"),
        fingerprint(F.col("text")).alias("fp"),
        F.round(ar * 10000).cast("int").alias("alpha_bp"),
        F.round(pr * 10000).cast("int").alias("punct_bp"),
        F.round(mwl * 100).cast("int").alias("mwl_centi"),
        F.round(stopword_ratio(F.col("text")) * 10000).cast("int").alias("sw_bp"),
    )


ORACLE_TEXT_STATS = f"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS ltoks,
         length(text) AS nc,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
         length(regexp_replace(trim(text), '\\s+', '', 'g')) AS nonws,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
             x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','were',
                        'be','been','it','this','that','with','as','for','on','at','by',
                        'from','not','but'))) AS sw
  FROM documents
), t2 AS (
  SELECT *, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS nt
  FROM t
)
SELECT doc_id,
       CAST(nc AS BIGINT) AS n_chars,
       CAST(nt AS INT) AS n_tokens,
       len(regexp_extract_all(lower(text), '[a-z]{{1,4}}|[0-9]|[^a-z0-9\\s]')) AS n_bpe,
       {lang_case_sql("ltoks")} AS lang_guess,
       md5(lower({_NORM_SQL})) AS fp,
       CAST(ROUND(ROUND(alpha * 1.0 / GREATEST(nc, 1), 4) * 10000) AS INT) AS alpha_bp,
       CAST(ROUND(ROUND(punct * 1.0 / GREATEST(nc, 1), 4) * 10000) AS INT) AS punct_bp,
       CAST(ROUND(ROUND(nonws * 1.0 / GREATEST(nt, 1), 4) * 100) AS INT) AS mwl_centi,
       CAST(ROUND(ROUND(sw * 1.0 / GREATEST(nt, 1), 4) * 10000) AS INT) AS sw_bp
FROM t2
"""


def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation surface: Gopher-style quality gates, word-2-gram
    repetition ratio, and PII redaction. Every doc gets a deterministic
    contact-info suffix so the e-mail/URL redaction provably fires (and an
    address inside a URL must disappear INTO the <URL> token — order
    matters)."""
    from gnosis_ocr_spark.functions.text import (
        gopher_flags,
        pii_counts,
        redact_pii,
        repetition_bp,
    )

    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or https://u"),
            F.col("doc_id").cast("string"),
            F.lit("@site.example/p"),
            # exercise BOTH ellipsis spellings through the gates (the '…'
            # branch would otherwise be dead on this corpus)
            F.when(F.col("doc_id") % 5 == 0, "\nto be continued…")
            .when(F.col("doc_id") % 5 == 1, "\nto be continued...")
            .otherwise(""),
        ).alias("text"),
    )
    from gnosis_ocr_spark.functions.text import strip_urls, tokens

    t = F.col("text")
    # materialized token column: repetition_bp's gram lambda would otherwise
    # re-run the tokenizer once per gram (quadratic HOF gotcha); _no_url is
    # shared by pii_counts and redact_pii so the URL regex runs once per row
    with_cols = salted.withColumn("_toks", tokens(F.lower(t))).withColumn(
        "_no_url", strip_urls(t)
    )
    return with_cols.select(
        "doc_id",
        repetition_bp(t, toks=F.col("_toks")).alias("rep_bp"),
        *gopher_flags(t, toks=F.col("_toks")),
        *pii_counts(t, no_url=F.col("_no_url")),
        redact_pii(t, no_url=F.col("_no_url")).alias("redacted"),
    )


ORACLE_CURATION = """
WITH s AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         '@example.com or https://u' || CAST(doc_id AS VARCHAR) ||
         '@site.example/p' ||
         CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'to be continued…'
              WHEN doc_id % 5 = 1 THEN chr(10) || 'to be continued...'
              ELSE '' END AS text
  FROM documents
), t AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
         string_split(text, chr(10)) AS lines,
         length(regexp_replace(trim(text), '\\s+', '', 'g')) AS nonws,
         length(regexp_replace(text, '[^#]', '', 'g')) AS n_hash,
         len(regexp_extract_all(text, '\\.\\.\\.|…')) AS n_ell,
         regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g') AS no_url
  FROM s
), g AS (
  SELECT doc_id, text, toks, nonws, no_url, n_hash, n_ell,
         len(toks) AS nt,
         len(toks) - 1 AS total,
         len(list_distinct([toks[i] || ' ' || toks[i+1]
                            for i in range(1, len(toks))])) AS dist,
         GREATEST(len(lines), 1) AS n_lines,
         len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))
           AS bullet_lines,
         len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
           AS ell_lines,
         len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS alpha_words
  FROM t
)
SELECT doc_id,
       CASE WHEN total >= 1
            THEN CAST(ROUND((1 - dist * 1.0 / total) * 10000) AS INT)
            ELSE 0 END AS rep_bp,
       nt >= 50 AND nt <= 100000 AS ok_word_count,
       nonws * 1.0 / GREATEST(nt, 1) >= 3.0
         AND nonws * 1.0 / GREATEST(nt, 1) <= 10.0 AS ok_mean_word_len,
       (n_hash + n_ell) * 1.0 / GREATEST(nt, 1) <= 0.1 AS ok_symbol_ratio,
       bullet_lines * 1.0 / n_lines <= 0.9 AS ok_bullet_lines,
       ell_lines * 1.0 / n_lines <= 0.3 AS ok_ellipsis_lines,
       alpha_words * 1.0 / GREATEST(nt, 1) >= 0.8 AS ok_alpha_words,
       len(regexp_extract_all(text, 'https?://[^\\s]+')) AS n_urls,
       len(regexp_extract_all(no_url,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
       regexp_replace(no_url,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g')
         AS redacted
FROM g
"""


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher repetition suite (Rae et al. 2021 Table A1): duplicate
    line/paragraph fractions + char fractions, top-{2,3,4}-gram char
    fraction, duplicate-{5..10}-gram char coverage. The corpus is salted
    deterministically (docs have no newlines): every doc gets a repeated
    footer line, and every doc_id % 3 == 0 doc repeats its own body as a
    second paragraph — so the line metrics fire everywhere and the
    paragraph metrics fire on a provable subset, while the gram metrics
    run over the natural small-vocab repetition."""
    from gnosis_ocr_spark.functions.text import gopher_repetition

    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\ncontact us today\n\n"),
            F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
                F.concat(F.lit("tail block "), F.col("doc_id").cast("string"))
            ),
            F.lit("\ncontact us today"),
        ).alias("text"),
    )
    return gopher_repetition(salted)


ORACLE_GOPHER_REPETITION = """
WITH d2 AS (
  SELECT doc_id,
         text || chr(10) || 'contact us today' || chr(10) || chr(10) ||
         (CASE WHEN doc_id % 3 = 0 THEN text
               ELSE 'tail block ' || CAST(doc_id AS VARCHAR) END) ||
         chr(10) || 'contact us today' AS text
  FROM documents
), seg0 AS (
  SELECT doc_id,
         list_filter(list_transform(regexp_split_to_array(text, '\\n'),
                                    x -> trim(x)), x -> length(x) > 0) AS lines,
         list_filter(list_transform(regexp_split_to_array(text, '\\n\\s*\\n'),
                                    x -> trim(x)), x -> length(x) > 0) AS paras
  FROM d2
), seg AS (
  SELECT doc_id,
    CAST(ROUND(ROUND((len(lines) - len(list_distinct(lines))) * 1.0
         / GREATEST(len(lines), 1), 4) * 10000) AS INT) AS dup_line_bp,
    CAST(ROUND(ROUND((COALESCE(list_sum(list_transform(lines, x -> length(x))), 0)
         - COALESCE(list_sum(list_transform(list_distinct(lines), x -> length(x))), 0)) * 1.0
         / GREATEST(COALESCE(list_sum(list_transform(lines, x -> length(x))), 0), 1), 4)
         * 10000) AS INT) AS dup_line_char_bp,
    CAST(ROUND(ROUND((len(paras) - len(list_distinct(paras))) * 1.0
         / GREATEST(len(paras), 1), 4) * 10000) AS INT) AS dup_para_bp,
    CAST(ROUND(ROUND((COALESCE(list_sum(list_transform(paras, x -> length(x))), 0)
         - COALESCE(list_sum(list_transform(list_distinct(paras), x -> length(x))), 0)) * 1.0
         / GREATEST(COALESCE(list_sum(list_transform(paras, x -> length(x))), 0), 1), 4)
         * 10000) AS INT) AS dup_para_char_bp
  FROM seg0
), t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM d2 WHERE length(trim(text)) > 0
), w AS (
  SELECT doc_id, u.pos AS pos, u.word AS word FROM (
    SELECT doc_id,
           unnest([{'pos': i - 1, 'word': toks[i]}
                   for i in range(1, len(toks) + 1)]) AS u
    FROM t)
), totals AS (
  SELECT doc_id, SUM(length(word)) AS total_chars FROM w GROUP BY doc_id
), g AS (
  SELECT doc_id, n, u.pos AS pos, u.gram AS gram FROM (
    SELECT doc_id, nn.n AS n,
           unnest([{'pos': i - 1, 'gram': array_to_string(toks[i:i+nn.n-1], ' ')}
                   for i in range(1, len(toks) - nn.n + 2)]) AS u
    FROM t CROSS JOIN (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) AS nn(n))
), gc AS (
  SELECT doc_id, n, gram, COUNT(*) AS cnt, length(gram) - (n - 1) AS gram_chars
  FROM g WHERE n <= 4 GROUP BY doc_id, n, gram
), topx AS (
  SELECT doc_id, n, cnt * gram_chars AS top_chars,
         ROW_NUMBER() OVER (PARTITION BY doc_id, n
                            ORDER BY cnt DESC, gram_chars DESC, gram ASC) AS rk
  FROM gc
), topw AS (
  SELECT doc_id,
         MAX(CASE WHEN n = 2 THEN top_chars END) AS t2,
         MAX(CASE WHEN n = 3 THEN top_chars END) AS t3,
         MAX(CASE WHEN n = 4 THEN top_chars END) AS t4
  FROM topx WHERE rk = 1 GROUP BY doc_id
), dg AS (
  SELECT doc_id, n, pos,
         COUNT(*) OVER (PARTITION BY doc_id, n, gram) AS cnt
  FROM g WHERE n >= 5
), cov AS (
  SELECT DISTINCT doc_id, n, p FROM (
    SELECT doc_id, n, unnest(range(pos, pos + n)) AS p FROM dg WHERE cnt > 1)
), covc AS (
  SELECT c.doc_id, c.n, SUM(length(w.word)) AS cov_chars
  FROM cov c JOIN w ON c.doc_id = w.doc_id AND c.p = w.pos
  GROUP BY c.doc_id, c.n
), covw AS (
  SELECT doc_id,
         MAX(CASE WHEN n = 5 THEN cov_chars END) AS d5,
         MAX(CASE WHEN n = 6 THEN cov_chars END) AS d6,
         MAX(CASE WHEN n = 7 THEN cov_chars END) AS d7,
         MAX(CASE WHEN n = 8 THEN cov_chars END) AS d8,
         MAX(CASE WHEN n = 9 THEN cov_chars END) AS d9,
         MAX(CASE WHEN n = 10 THEN cov_chars END) AS d10
  FROM covc GROUP BY doc_id
)
SELECT s.doc_id, s.dup_line_bp, s.dup_line_char_bp, s.dup_para_bp, s.dup_para_char_bp,
  CAST(ROUND(ROUND(COALESCE(t2, 0) * 1.0 / GREATEST(COALESCE(total_chars, 0), 1), 4) * 10000) AS INT) AS top_2gram_bp,
  CAST(ROUND(ROUND(COALESCE(t3, 0) * 1.0 / GREATEST(COALESCE(total_chars, 0), 1), 4) * 10000) AS INT) AS top_3gram_bp,
  CAST(ROUND(ROUND(COALESCE(t4, 0) * 1.0 / GREATEST(COALESCE(total_chars, 0), 1), 4) * 10000) AS INT) AS top_4gram_bp,
  CAST(ROUND(ROUND(COALESCE(d5, 0) * 1.0 / GREATEST(COALESCE(total_chars, 0), 1), 4) * 10000) AS INT) AS dup_5gram_bp,
  CAST(ROUND(ROUND(COALESCE(d6, 0) * 1.0 / GREATEST(COALESCE(total_chars, 0), 1), 4) * 10000) AS INT) AS dup_6gram_bp,
  CAST(ROUND(ROUND(COALESCE(d7, 0) * 1.0 / GREATEST(COALESCE(total_chars, 0), 1), 4) * 10000) AS INT) AS dup_7gram_bp,
  CAST(ROUND(ROUND(COALESCE(d8, 0) * 1.0 / GREATEST(COALESCE(total_chars, 0), 1), 4) * 10000) AS INT) AS dup_8gram_bp,
  CAST(ROUND(ROUND(COALESCE(d9, 0) * 1.0 / GREATEST(COALESCE(total_chars, 0), 1), 4) * 10000) AS INT) AS dup_9gram_bp,
  CAST(ROUND(ROUND(COALESCE(d10, 0) * 1.0 / GREATEST(COALESCE(total_chars, 0), 1), 4) * 10000) AS INT) AS dup_10gram_bp
FROM seg s
LEFT JOIN totals USING (doc_id)
LEFT JOIN topw USING (doc_id)
LEFT JOIN covw USING (doc_id)
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality model (CCNet-style model-based
    curation): unigram+bigram features, md5 hashing trick, exact integer
    centi-weight mean-pool, keep threshold. Demo weight table is a pure
    function of the bucket id (trained-weights seam documented in
    functions/classifier.py)."""
    from gnosis_ocr_spark.functions.classifier import quality_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_score(docs)


ORACLE_QUALITY_CLASSIFIER = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents WHERE length(trim(text)) > 0
), f AS (
  SELECT doc_id,
         unnest(list_concat(toks,
                [toks[i] || '_' || toks[i+1] for i in range(1, len(toks))]))
           AS feat
  FROM t
), b AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(feat), 1, 15)) AS BIGINT) % 4096
              AS INT) AS bucket
  FROM f
), s AS (
  SELECT doc_id,
         CAST(SUM((bucket * 37 + 11) % 201 - 100) AS BIGINT) AS sum_c,
         COUNT(*) AS n_feats
  FROM b GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_feats, 0) AS BIGINT) AS n_feats,
       CASE WHEN s.n_feats IS NOT NULL
            THEN CAST(ROUND(ROUND(s.sum_c * 1.0 / (100 * s.n_feats), 4) * 10000) AS INT)
            ELSE 0 END AS logit_bp,
       COALESCE(s.sum_c, 0) > 0 AS keep
FROM documents d LEFT JOIN s USING (doc_id)
"""



def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram LM quality scoring, model trained on the scored
    corpus itself (add-one smoothing; per-token integer-millibel rounding
    keeps the aggregation hash-exact — see functions/classifier.py)."""
    from gnosis_ocr_spark.functions.classifier import unigram_lm_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_lm_score(docs)


ORACLE_LM_SCORE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents WHERE length(trim(text)) > 0
), w AS (
  SELECT doc_id, unnest(toks) AS token FROM t
), c AS (
  SELECT token, COUNT(*) AS cnt FROM w GROUP BY token
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total, COUNT(*) AS v_size FROM c
), lp AS (
  SELECT token,
         CAST(ROUND(ln((cnt + 1.0) / (n_total + v_size)) * 1000) AS INT) AS logp_mb
  FROM c CROSS JOIN tot
), s AS (
  SELECT w.doc_id, CAST(SUM(lp.logp_mb) AS BIGINT) AS sum_mb, COUNT(*) AS n_toks
  FROM w JOIN lp USING (token) GROUP BY w.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_toks, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(s.sum_mb, 0) AS BIGINT) AS sum_logp_mb,
       COALESCE(s.n_toks, 0) > 0
         AND COALESCE(s.sum_mb, 0) >= -9000 * COALESCE(s.n_toks, 0) AS keep_lm
FROM documents d LEFT JOIN s USING (doc_id)
"""



def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking composed with deterministic sequence packing
    — the chunk→pack tail of prepare_training_data (merged from the round-3
    ``chunking`` row to free a registry slot for the composed-plan rows;
    both operators keep full value-level certification): documents split
    into overlapping 32-token windows (stride 24), every chunk greedily
    packed into 256-token examples across 16 hash shards — integer
    (shard, bin_id, bin_offset) per chunk, reproducible at any cluster
    size."""
    from gnosis_ocr_spark.functions.sampling import pack_sequences
    from gnosis_ocr_spark.functions.text import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8).drop("n_tokens")
    keyed = chunks.withColumn(
        "_ck",
        F.concat_ws("#", F.col("doc_id").cast("string"), F.col("chunk_no")),
    )
    packed = pack_sequences(
        keyed, id_col="_ck", text_col="chunk_text", seq_len=256, n_shards=16
    ).select(
        F.col("doc_id").alias("_ck2"), "n_tokens", "shard", "bin_id", "bin_offset"
    )
    return keyed.join(packed, F.col("_ck") == F.col("_ck2")).select(
        "doc_id", "chunk_no", "chunk_text",
        "n_tokens", "shard", "bin_id", "bin_offset",
    )


ORACLE_PACK_SEQUENCES = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
  FROM documents
), g AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 32 THEN 1
              ELSE 1 + (len(toks) - 32 + 23) // 24 END AS nc
  FROM t WHERE len(toks) >= 1
), e AS (
  SELECT doc_id, toks, CAST(unnest(range(0, nc)) AS INT) AS chunk_no FROM g
), c AS (
  SELECT doc_id, chunk_no,
         array_to_string(toks[chunk_no * 24 + 1 : chunk_no * 24 + 32], ' ')
           AS chunk_text,
         CAST(doc_id AS VARCHAR) || '#' || CAST(chunk_no AS VARCHAR) AS ck
  FROM e
), b AS (
  SELECT doc_id, chunk_no, chunk_text, ck,
         CAST(len(list_filter(regexp_split_to_array(trim(lower(chunk_text)), '\\s+'),
                              x -> length(x) > 0)) AS BIGINT) AS n_tokens,
         CAST(CAST(concat('0x', substr(md5(ck), 1, 15)) AS BIGINT) % 16
              AS INT) AS shard,
         CAST(concat('0x', substr(md5(ck), 1, 15)) AS BIGINT) AS h
  FROM c
), p AS (
  SELECT doc_id, chunk_no, chunk_text, n_tokens, shard,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, ck
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - n_tokens AS pb
  FROM b
)
SELECT doc_id, chunk_no, chunk_text, n_tokens, shard,
       pb // 256 AS bin_id,
       CAST(pb % 256 AS INT) AS bin_offset
FROM p
"""


def q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 lower-cased whitespace tokens by frequency
    with document frequency — the vocab-building pass of a training pipeline.
    One explode + one groupBy (partial counts map-side); total-order
    tie-break (count desc, token asc) keeps top-k deterministic."""
    from gnosis_ocr_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    return (
        exploded.groupBy("tok")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("tok"))
        .limit(100)
    )


ORACLE_VOCABULARY = """
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
)
SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM t GROUP BY tok
ORDER BY tf DESC, tok ASC LIMIT 100
"""


def q_sampling_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus splitting + per-host quota: every doc gets a
    hash bucket and a train/val/test split (pure function of its key — no
    rand(), reproducible at any cluster size), and at most 3 docs per
    synthesized host survive the crawl-balancing cap."""
    from gnosis_ocr_spark.functions.sampling import (
        cap_per_group,
        hash_bucket,
        split_assign,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("doc_id").cast("string").alias("key"),
        F.concat(F.lit("host"), (F.col("doc_id") % 50).cast("string")).alias("host"),
    )
    capped = cap_per_group(docs, "host", "key", max_rows=3).select(
        "doc_id", F.lit(True).alias("kept")
    )
    return (
        docs.join(capped, "doc_id", "left")
        .select(
            "doc_id",
            "host",
            hash_bucket(F.col("key")).alias("bucket"),
            split_assign(F.col("key")).alias("split"),
            F.coalesce(F.col("kept"), F.lit(False)).alias("kept"),
        )
    )


ORACLE_SAMPLING_SPLIT = """
WITH d AS (
  SELECT doc_id, CAST(doc_id AS VARCHAR) AS key,
         'host' || CAST(doc_id % 50 AS VARCHAR) AS host
  FROM documents
), h AS (
  SELECT doc_id, host,
         CAST(CAST(concat('0x', substr(md5(key), 1, 15)) AS BIGINT) % 1000
              AS INT) AS bucket,
         ROW_NUMBER() OVER (
           PARTITION BY host
           ORDER BY CAST(concat('0x', substr(md5(key), 1, 15)) AS BIGINT), key
         ) AS rk
  FROM d
)
SELECT doc_id, host, bucket,
       CASE WHEN bucket < 980 THEN 'train'
            WHEN bucket < 990 THEN 'val' ELSE 'test' END AS split,
       rk <= 3 AS kept
FROM h
"""


def _docs_with_copies(spark: SparkSession, sf_dir: str, limit: int | None = None,
                      suffix: str = "") -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    if limit is not None:
        docs = docs.filter(F.col("doc_id") < limit)
    copies = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(suffix)).alias("text"),
    )
    return docs.unionByName(copies)


_BOILER_PREFIX = "subscribe to our newsletter footer boilerplate banner "


def q_hot_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring (boilerplate) spans via hot winnowing fingerprints
    (ExactSubstr-dedup analog, Lee et al. 2022): documents ∪ copies carrying
    an injected shared prefix, so ≥ min_docs-hot fingerprints provably exist
    and every copy must report a span over the prefix region."""
    from gnosis_ocr_spark.functions.text import hot_window_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit(_BOILER_PREFIX), F.col("text")).alias("text"),
    )
    return hot_window_spans(docs.unionByName(boiler), min_docs=3)


ORACLE_HOT_SPANS = f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, '{_BOILER_PREFIX}' || text FROM documents
), n AS (
  SELECT doc_id,
         substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 120) AS s
  FROM u
), g AS (
  SELECT doc_id, i, md5(substr(s, i, 8)) AS h
  FROM n, generate_series(1, 113) t(i)
  WHERE i <= length(s) - 7
), m AS (
  SELECT doc_id, MAX(i) AS max_i FROM g GROUP BY doc_id
), w AS (
  SELECT g.doc_id, j.j AS j, MIN(g.h) AS fp
  FROM g JOIN m USING (doc_id), generate_series(1, 110) j(j)
  WHERE g.i BETWEEN j.j AND j.j + 3 AND j.j <= m.max_i - 3
  GROUP BY g.doc_id, j.j
), hf AS (
  SELECT fp FROM (
    SELECT fp, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY fp
  ) WHERE df >= 3
), hp AS (
  SELECT w.doc_id, w.j FROM w JOIN hf USING (fp)
), i1 AS (
  SELECT doc_id, j,
         CASE WHEN j - LAG(j) OVER (PARTITION BY doc_id ORDER BY j) <= 4
              THEN 0 ELSE 1 END AS brk
  FROM hp
), i2 AS (
  SELECT doc_id, j,
         CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY j
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS isl
  FROM i1
)
SELECT doc_id, CAST(MIN(j) AS BIGINT) AS span_start,
       CAST(MAX(j) AS BIGINT) AS span_end, COUNT(*) AS n_windows
FROM i2 GROUP BY doc_id, isl
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents ∪ verbatim copies (known duplicate pairs)."""
    return exact_duplicates(_docs_with_copies(spark, sf_dir))


ORACLE_DEDUP_EXACT = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 10000, text FROM documents
), k AS (
  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp FROM u
), c AS (SELECT fp, MIN(doc_id) AS canonical_id FROM k WHERE fp IS NOT NULL
         GROUP BY fp)
SELECT k.doc_id, c.canonical_id, k.doc_id <> c.canonical_id AS is_dup
FROM k JOIN c USING (fp)
UNION ALL  -- NULL-text docs: not comparable, own id, never dup
SELECT doc_id, doc_id AS canonical_id, FALSE AS is_dup FROM k WHERE fp IS NULL
"""


# Shared DuckDB restatement of plans.curate.curate_corpus's per-document
# decision: given a CTE named `u` (doc_id, text), these CTEs end in `dec` =
# one row per doc with gates, repetition caps, classifier, LM, exact-dedup
# and the composed keep + split. Reuses the exact formulas of the green
# component oracles (ORACLE_CURATION / ORACLE_GOPHER_REPETITION /
# ORACLE_QUALITY_CLASSIFIER / ORACLE_LM_SCORE / ORACLE_DEDUP_EXACT /
# ORACLE_SAMPLING_SPLIT), restricted to the grams the keep decision needs
# (n = 2 top-gram, n = 5 dup-coverage).
_CURATE_DECISION_CTES = """
cg AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> length(x) > 0) AS toks,
         string_split(text, chr(10)) AS lines,
         length(regexp_replace(trim(text), '\\s+', '', 'g')) AS nonws,
         length(regexp_replace(text, '[^#]', '', 'g')) AS n_hash,
         len(regexp_extract_all(text, '\\.\\.\\.|…')) AS n_ell
  FROM u
), gg AS (
  SELECT doc_id, text, toks, nonws, n_hash, n_ell,
         len(toks) AS nt, len(toks) - 1 AS total,
         len(list_distinct([toks[i] || ' ' || toks[i+1]
                            for i in range(1, len(toks))])) AS dist,
         GREATEST(len(lines), 1) AS n_lines,
         len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))
           AS bullet_lines,
         len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
           AS ell_lines,
         len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS alpha_words
  FROM cg
), gates AS (
  SELECT doc_id,
         CAST(nt AS INT) AS n_tokens,
         %LANG% AS lang,
         CASE WHEN total >= 1
              THEN CAST(ROUND((1 - dist * 1.0 / total) * 10000) AS INT)
              ELSE 0 END AS rep2_bp,
         (nt >= 50 AND nt <= 100000
          AND nonws * 1.0 / GREATEST(nt, 1) >= 3.0
          AND nonws * 1.0 / GREATEST(nt, 1) <= 10.0
          AND (n_hash + n_ell) * 1.0 / GREATEST(nt, 1) <= 0.1
          AND bullet_lines * 1.0 / n_lines <= 0.9
          AND ell_lines * 1.0 / n_lines <= 0.3
          AND alpha_words * 1.0 / GREATEST(nt, 1) >= 0.8) AS ok_gates
  FROM gg
), rseg0 AS (
  SELECT doc_id,
         list_filter(list_transform(regexp_split_to_array(text, '\\n'),
                                    x -> trim(x)), x -> length(x) > 0) AS rlines,
         list_filter(list_transform(regexp_split_to_array(text, '\\n\\s*\\n'),
                                    x -> trim(x)), x -> length(x) > 0) AS rparas
  FROM u
), rseg AS (
  SELECT doc_id,
    CAST(ROUND(ROUND((len(rlines) - len(list_distinct(rlines))) * 1.0
         / GREATEST(len(rlines), 1), 4) * 10000) AS INT) AS dup_line_bp,
    CAST(ROUND(ROUND((COALESCE(list_sum(list_transform(rlines, x -> length(x))), 0)
         - COALESCE(list_sum(list_transform(list_distinct(rlines), x -> length(x))), 0)) * 1.0
         / GREATEST(COALESCE(list_sum(list_transform(rlines, x -> length(x))), 0), 1), 4)
         * 10000) AS INT) AS dup_line_char_bp,
    CAST(ROUND(ROUND((len(rparas) - len(list_distinct(rparas))) * 1.0
         / GREATEST(len(rparas), 1), 4) * 10000) AS INT) AS dup_para_bp,
    CAST(ROUND(ROUND((COALESCE(list_sum(list_transform(rparas, x -> length(x))), 0)
         - COALESCE(list_sum(list_transform(list_distinct(rparas), x -> length(x))), 0)) * 1.0
         / GREATEST(COALESCE(list_sum(list_transform(rparas, x -> length(x))), 0), 1), 4)
         * 10000) AS INT) AS dup_para_char_bp
  FROM rseg0
), rt AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM u WHERE length(trim(text)) > 0
), rw AS (
  SELECT doc_id, w.pos AS pos, w.word AS word FROM (
    SELECT doc_id,
           unnest([{'pos': i - 1, 'word': toks[i]}
                   for i in range(1, len(toks) + 1)]) AS w
    FROM rt)
), rtotals AS (
  SELECT doc_id, SUM(length(word)) AS total_chars FROM rw GROUP BY doc_id
), rg AS (
  SELECT doc_id, n, w.pos AS pos, w.gram AS gram FROM (
    SELECT doc_id, nn.n AS n,
           unnest([{'pos': i - 1, 'gram': array_to_string(toks[i:i+nn.n-1], ' ')}
                   for i in range(1, len(toks) - nn.n + 2)]) AS w
    FROM rt CROSS JOIN (VALUES (2), (5)) AS nn(n))
), rtop AS (
  SELECT doc_id, MAX(top_chars) AS t2 FROM (
    SELECT doc_id, cnt * gram_chars AS top_chars,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, gram_chars DESC, gram ASC) AS rk
    FROM (SELECT doc_id, gram, COUNT(*) AS cnt, length(gram) - 1 AS gram_chars
          FROM rg WHERE n = 2 GROUP BY doc_id, gram))
  WHERE rk = 1 GROUP BY doc_id
), rdg AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY doc_id, gram) AS cnt
  FROM rg WHERE n = 5
), rcov AS (
  SELECT DISTINCT doc_id, p FROM (
    SELECT doc_id, unnest(range(pos, pos + 5)) AS p FROM rdg WHERE cnt > 1)
), rcovc AS (
  SELECT c.doc_id, SUM(length(w.word)) AS d5
  FROM rcov c JOIN rw w ON c.doc_id = w.doc_id AND c.p = w.pos
  GROUP BY c.doc_id
), rep AS (
  SELECT s.doc_id, s.dup_line_bp, s.dup_line_char_bp, s.dup_para_bp,
         s.dup_para_char_bp,
         CAST(ROUND(ROUND(COALESCE(t2, 0) * 1.0
              / GREATEST(COALESCE(total_chars, 0), 1), 4) * 10000) AS INT)
           AS top_2gram_bp,
         CAST(ROUND(ROUND(COALESCE(d5, 0) * 1.0
              / GREATEST(COALESCE(total_chars, 0), 1), 4) * 10000) AS INT)
           AS dup_5gram_bp
  FROM rseg s
  LEFT JOIN rtotals USING (doc_id)
  LEFT JOIN rtop USING (doc_id)
  LEFT JOIN rcovc USING (doc_id)
), ct AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM u WHERE length(trim(text)) > 0
), cf AS (
  SELECT doc_id,
         unnest(list_concat(toks,
                [toks[i] || '_' || toks[i+1] for i in range(1, len(toks))]))
           AS feat
  FROM ct
), cb AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(feat), 1, 15)) AS BIGINT) % 4096
              AS INT) AS bucket
  FROM cf
), cls AS (
  SELECT doc_id,
         CAST(SUM((bucket * 37 + 11) % 201 - 100) AS BIGINT) > 0 AS keep_model
  FROM cb GROUP BY doc_id
), lw AS (
  SELECT doc_id, unnest(toks) AS token FROM ct
), lc AS (
  SELECT token, COUNT(*) AS cnt FROM lw GROUP BY token
), ltot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_total, COUNT(*) AS v_size FROM lc
), llp AS (
  SELECT token,
         CAST(ROUND(ln((cnt + 1.0) / (n_total + v_size)) * 1000) AS INT)
           AS logp_mb
  FROM lc CROSS JOIN ltot
), lm AS (
  SELECT lw.doc_id,
         CAST(SUM(llp.logp_mb) AS BIGINT) >= -9000 * COUNT(*) AS keep_lm
  FROM lw JOIN llp USING (token) GROUP BY lw.doc_id
), dk AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
  FROM u
), dc AS (SELECT fp, MIN(doc_id) AS canonical_id FROM dk GROUP BY fp),
dd AS (
  SELECT dk.doc_id, dc.canonical_id, dk.doc_id <> dc.canonical_id AS is_dup
  FROM dk JOIN dc USING (fp)
), dec AS (
  SELECT g.doc_id, g.n_tokens, g.lang, g.rep2_bp, g.ok_gates,
         r.top_2gram_bp, r.dup_5gram_bp,
         (r.dup_line_bp <= 3000 AND r.dup_para_bp <= 3000
          AND r.dup_line_char_bp <= 2000 AND r.dup_para_char_bp <= 2000
          AND r.top_2gram_bp <= 2000 AND r.dup_5gram_bp <= 1500)
           AS ok_repetition,
         COALESCE(c.keep_model, FALSE) AS keep_model,
         COALESCE(l.keep_lm, FALSE) AS keep_lm,
         d.canonical_id, d.is_dup,
         (g.ok_gates
          AND r.dup_line_bp <= 3000 AND r.dup_para_bp <= 3000
          AND r.dup_line_char_bp <= 2000 AND r.dup_para_char_bp <= 2000
          AND r.top_2gram_bp <= 2000 AND r.dup_5gram_bp <= 1500
          AND COALESCE(c.keep_model, FALSE) AND COALESCE(l.keep_lm, FALSE)
          AND NOT d.is_dup) AS keep,
         CASE WHEN CAST(CAST(concat('0x', substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 1000 AS INT) < 980 THEN 'train'
              WHEN CAST(CAST(concat('0x', substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 1000 AS INT) < 990 THEN 'val'
              ELSE 'test' END AS split
  FROM gates g
  JOIN rep r USING (doc_id)
  LEFT JOIN cls c USING (doc_id)
  LEFT JOIN lm l USING (doc_id)
  JOIN dd d USING (doc_id)
)
"""


def q_curate_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation plan (plans.curate.curate_corpus) as ONE driver
    row, ALL legs on: Gopher gates + repetition caps + hashed classifier +
    unigram LM + exact dedup + HOST QUOTA (synthesized messy urls, 50 host
    classes, 10-doc cap — crawl balancing) + NEAR-DUP (MinHash star-edge
    clustering at threshold=1.0, where verbatim copies make the clusters
    provable shingle-set cliques — the dedup_clusters oracle contract),
    conjoined into `keep`, plus the deterministic split — over documents ∪
    verbatim copies so the dedup and near-dup legs provably fire. Integer/
    boolean columns all the way (round-4 VERDICT task #2 done-criterion)."""
    from gnosis_ocr_spark.plans.curate import curate_corpus

    u = _docs_with_copies(spark, sf_dir)
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(d % 4 == 0, "WWW.").otherwise(""),
        F.lit("host"), (d % 50).cast("string"),
        F.lit(".Example.org"),
        F.when(d % 5 == 0, ":443").otherwise(""),
        F.lit("/doc/"), d.cast("string"),
        F.when(d % 2 == 0, "?utm_source=x&b=2&a=1").otherwise("?a=1&b=2"),
        F.when(d % 7 == 0, "#frag").otherwise(""),
    )
    return curate_corpus(
        u.withColumn("url", url),
        url_col="url",
        max_docs_per_host=10,
        near_dup=True,
        near_dup_threshold=1.0,
    ).select(
        "doc_id", "n_tokens", "lang", "rep2_bp", "top_2gram_bp",
        "dup_5gram_bp", "ok_gates", "ok_repetition", "keep_model",
        "keep_lm", "canonical_id", "is_dup", "host", "ok_host_quota",
        "is_near_dup", "near_dup_canonical", "keep", "split",
    )


_CURATE_MESSY_URL = (
    "'https://' || CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END"
    " || 'host' || CAST(doc_id % 50 AS VARCHAR) || '.Example.org'"
    " || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END"
    " || '/doc/' || CAST(doc_id AS VARCHAR)"
    " || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&b=2&a=1'"
    "         ELSE '?a=1&b=2' END"
    " || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END"
)


def _oracle_curate_compose() -> str:
    from gnosis_ocr_spark.functions.urls import canon_cte_sql

    canon = canon_cte_sql(_CURATE_MESSY_URL, "doc_id", "u")
    return (
        """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 10000, text FROM documents
), """
        + _CURATE_DECISION_CTES.replace("%LANG%", lang_case_sql("toks"))
        + ","
        + canon.lstrip()
        + f"""
, hh AS (
  -- url_host over the RAW url: lowercase, strip userinfo/port, KEEP www.
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(regexp_extract(
           {_CURATE_MESSY_URL},
           '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)),
           '^.*@', ''), ':[0-9]*$', '') AS host
  FROM u
), hr AS (
  SELECT hh.doc_id, hh.host,
         ROW_NUMBER() OVER (PARTITION BY hh.host ORDER BY
           CAST(concat('0x', substr(md5(c.curl), 1, 15)) AS BIGINT),
           c.curl, hh.doc_id) AS rk
  FROM hh JOIN _u3 c ON hh.doc_id = c.doc_id
), nt AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM u
), nk AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
           [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
         )), chr(31))) AS shset
  FROM nt WHERE len(toks) >= 3
), ng AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY shset) AS n,
         MIN(doc_id) OVER (PARTITION BY shset) AS comp
  FROM nk
), nd AS (
  SELECT doc_id, comp FROM ng WHERE n >= 2
)
SELECT dec.doc_id, n_tokens, lang, rep2_bp, top_2gram_bp, dup_5gram_bp,
       ok_gates, ok_repetition, keep_model, keep_lm, canonical_id, is_dup,
       hr.host, hr.rk <= 10 AS ok_host_quota,
       COALESCE(nd.doc_id <> nd.comp, FALSE) AS is_near_dup,
       COALESCE(nd.comp, dec.doc_id) AS near_dup_canonical,
       dec.keep AND hr.rk <= 10
         AND NOT COALESCE(nd.doc_id <> nd.comp, FALSE) AS keep,
       split
FROM dec
JOIN hr ON dec.doc_id = hr.doc_id
LEFT JOIN nd ON dec.doc_id = nd.doc_id
"""
    )


ORACLE_CURATE_COMPOSE = _oracle_curate_compose()


def q_prepare_training_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus→training-examples composition
    (plans.curate.prepare_training_data) as ONE driver row: curation keep ∧
    split='train' gating → 32-token context-window chunking → 256-token
    shard-local sequence packing, with the doc's lang carried onto every
    packed chunk."""
    from gnosis_ocr_spark.plans.curate import prepare_training_data

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return prepare_training_data(
        docs, chunk_tokens=32, overlap=8, seq_len=256, n_shards=16
    )


ORACLE_PREPARE_TRAINING_COMPOSE = (
    """
WITH u AS (
  SELECT doc_id, text FROM documents
), """
    + _CURATE_DECISION_CTES.replace("%LANG%", lang_case_sql("toks"))
    + """
, kept AS (
  SELECT doc_id, lang FROM dec WHERE keep AND split = 'train'
), kt AS (
  SELECT u.doc_id,
         CASE WHEN length(trim(u.text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(u.text), '\\s+') END AS toks
  FROM u JOIN kept USING (doc_id)
), kg AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 32 THEN 1
              ELSE 1 + (len(toks) - 32 + 23) // 24 END AS nc
  FROM kt WHERE len(toks) >= 1
), ke AS (
  SELECT doc_id, toks, CAST(unnest(range(0, nc)) AS INT) AS chunk_no FROM kg
), kc AS (
  SELECT doc_id, chunk_no,
         array_to_string(toks[chunk_no * 24 + 1 : chunk_no * 24 + 32], ' ')
           AS chunk_text,
         CAST(doc_id AS VARCHAR) || '#' || CAST(chunk_no AS VARCHAR) AS ck
  FROM ke
), kb AS (
  SELECT doc_id, chunk_no, chunk_text, ck,
         CAST(len(list_filter(regexp_split_to_array(trim(lower(chunk_text)), '\\s+'),
                              x -> length(x) > 0)) AS BIGINT) AS n_tokens,
         CAST(CAST(concat('0x', substr(md5(ck), 1, 15)) AS BIGINT) % 16
              AS INT) AS shard,
         CAST(concat('0x', substr(md5(ck), 1, 15)) AS BIGINT) AS h
  FROM kc
), kp AS (
  SELECT doc_id, chunk_no, chunk_text, n_tokens, shard,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, ck
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - n_tokens AS pb
  FROM kb
)
SELECT p.doc_id, p.chunk_no, p.chunk_text, p.n_tokens, p.shard,
       p.pb // 256 AS bin_id, CAST(p.pb % 256 AS INT) AS bin_offset,
       k.lang
FROM kp p JOIN kept k USING (doc_id)
"""
)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs over 100 docs ∪ lightly-perturbed copies."""
    u = _docs_with_copies(spark, sf_dir, limit=100, suffix=" extra tail words appended")
    return ngram_jaccard_pairs(u, n=3, threshold=0.6, max_chars=100)


ORACLE_NGRAM_JACCARD = """
WITH u AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 10000, text || ' extra tail words appended' FROM documents WHERE doc_id < 100
), n AS (
  SELECT doc_id, substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 100) AS s
  FROM u
), g AS (
  SELECT DISTINCT doc_id, substr(s, i, 3) AS gram
  FROM n, generate_series(1, 98) t(i)
  WHERE i <= length(s) - 2
), sz AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a, b, ROUND(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE ROUND(i * 1.0 / (sa.sz + sb.sz - i), 4) >= 0.6
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style n-gram overlap): bench = every
    doc with doc_id % 10 = 7, train = all docs, 5-gram word shingles —
    every bench doc's train twin is provably contaminated (verbatim
    membership), and natural cross-doc shingle overlap is computed
    identically on both sides."""
    from gnosis_ocr_spark.functions.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 10 == 7)
    return decontaminate(docs, bench, n=5)


ORACLE_DECONTAMINATE = """
WITH tt AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
), ts AS (
  SELECT doc_id,
         unnest([array_to_string(toks[i:i+4], ' ')
                 for i in range(1, len(toks) - 3)]) AS shingle
  FROM tt WHERE len(toks) >= 5
), bs AS (
  SELECT DISTINCT shingle FROM ts WHERE doc_id % 10 = 7
), hits AS (
  SELECT t.doc_id, COUNT(DISTINCT t.shingle) AS n_hits
  FROM ts t JOIN bs USING (shingle) GROUP BY t.doc_id
)
SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup with a PROVABLE-recall oracle: over a corpus of
    docs ∪ verbatim copies at threshold=1.0, every true pair has identical
    shingle sets ⇒ identical MinHash signature ⇒ identical bands ⇒ guaranteed
    LSH candidate, so the output EQUALS the exact shingle-set-equality pair
    set the SQL oracle computes. (Sub-1.0 recall behavior is covered by unit
    tests; the driver row verifies the full signature→band→bucket→verify
    machinery value-for-value.)"""
    u = _docs_with_copies(spark, sf_dir, limit=100)
    return minhash_near_duplicates(u, threshold=1.0).select(
        "a", "b", F.round(F.col("jaccard") * 10000).cast("long").alias("jaccard_e4")
    )


# exact word-3-shingle-set equality pairs, mirroring word_shingles():
# lower → trim → split on \s+ → 3-gram shingles → DISTINCT set; docs with
# <3 tokens have an empty shingle set and never pair (Spark's jaccard is
# null/0 for them). chr(31) join is safe: tokens are whitespace-free and the
# corpus is plain text.
ORACLE_MINHASH_LSH = """
WITH u AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 100
), t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM u
), k AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
           [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
         )), chr(31))) AS shset
  FROM t WHERE len(toks) >= 3
), pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM k a JOIN k b ON a.shset = b.shset AND a.doc_id < b.doc_id
)
SELECT a, b, CAST(10000 AS BIGINT) AS jaccard_e4 FROM pairs
"""


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with a provable oracle: at max_hamming=0 over docs ∪
    verbatim copies, equal token MULTISETS ⇒ identical 64-bit signature ⇒
    same signature group, so the STAR-compressed output (round 3: identical
    signatures collapse to rep→member edges, the hot-bucket O(B²) fix) equals
    the per-multiset star edge set min(group)→member the SQL computes
    (64-bit collisions between distinct multisets are absent at the driver's
    gate scales — asserted by scripts/validate_oracles.py --preconditions:
    OK at sf0.01 and sf0.1; sf0.001 is KNOWN to carry 2 collisions among its
    tiny-vocabulary docs, where ANY simhash formulation — pairs or star —
    diverges from the multiset oracle, which is precisely what the loud
    precondition check is for). Hamming>0 behavior is covered by unit
    tests."""
    return simhash_near_duplicates(
        _docs_with_copies(spark, sf_dir, limit=200), max_hamming=0
    )


ORACLE_SIMHASH_DEDUP = """
WITH u AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 200
), k AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(
           regexp_split_to_array(trim(lower(text)), '\\s+')), chr(31))) AS ms
  FROM u WHERE length(trim(text)) > 0
), g AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY ms) AS rep FROM k
)
SELECT rep AS a, doc_id AS b, 0 AS hamming FROM g WHERE doc_id != rep
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: MinHash+LSH pairs → connected components →
    (id, component = canonical min doc id). At threshold=1.0 over verbatim
    copies the pair graph is a union of shingle-set-equality CLIQUES, so
    each node's component is provably the min doc_id sharing its shingle
    set — exactly what the SQL oracle computes (multi-hop/chain convergence
    of the iterative algorithm is exercised by unit tests on path graphs)."""
    from gnosis_ocr_spark.functions.dedup import duplicate_clusters

    u = _docs_with_copies(spark, sf_dir, limit=100)
    return duplicate_clusters(u, threshold=1.0)


ORACLE_DEDUP_CLUSTERS = """
WITH u AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 100
), t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM u
), k AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
           [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
         )), chr(31))) AS shset
  FROM t WHERE len(toks) >= 3
), g AS (
  SELECT doc_id, shset, COUNT(*) OVER (PARTITION BY shset) AS n,
         MIN(doc_id) OVER (PARTITION BY shset) AS component
  FROM k
)
SELECT doc_id AS id, component FROM g WHERE n >= 2
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 5 query vectors (broadcast NL join)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_bruteforce(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id",
        F.round(F.col("cos") * 1_000_000).cast("long").alias("cos_e6"),
        "rank",
    )


ORACLE_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
s AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_dot_product(q.qv, e.embedding::DOUBLE[]) /
               (GREATEST(sqrt(list_dot_product(q.qv, q.qv)), 1e-12) *
                GREATEST(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 1e-12)), 6) AS cos6
  FROM q CROSS JOIN embeddings e
), r AS (
  SELECT query_id, vec_id, cos6,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos6 DESC, vec_id ASC) AS rank
  FROM s
)
SELECT query_id, vec_id, CAST(ROUND(cos6 * 1000000) AS BIGINT) AS cos_e6, rank
FROM r WHERE rank <= 5
"""


def _emb_with_query_copies(spark: SparkSession, sf_dir: str, n_copies: int = 6) -> DataFrame:
    """ANN oracle corpus: embeddings ∪ ``n_copies`` verbatim replicas of each
    query vector (vec_id < 5), replica r at vec_id + 10000·r.

    Why this makes bucketed ANN exactly SQL-checkable: identical vectors get
    identical LSH buckets / IVF centroids (same deterministic expressions on
    identical values), so every replica is PROVABLY a candidate for its query.
    With 6 replicas + the query itself ≥ k=5 exact matches at cos = 1.0, the
    top-5 (tie-break vec_id asc) is exactly the 5 smallest vec_ids whose
    embedding EQUALS the query's — a pure equality join the oracle computes.
    (No distractor rounds to cos 1.000000 in this frozen corpus — verified at
    sf0.01 and sf0.1.)"""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    replicas = (
        emb.filter(F.col("vec_id") < 5)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(n_copies))).alias("r"),
            "vec_id",
            "embedding",
        )
        .select(
            (F.col("vec_id") + 10000 * F.col("r")).alias("vec_id"), "embedding"
        )
    )  # explode, not n union branches: ONE extra scan instead of n
    return emb.unionByName(replicas)


ORACLE_ANN_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
u AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 * r, embedding
  FROM embeddings, range(1, 7) t(r) WHERE vec_id < 5
), m AS (
  SELECT q.query_id, u.vec_id,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY u.vec_id ASC) AS rank
  FROM q JOIN u ON u.embedding = q.embedding
)
SELECT query_id, vec_id, CAST(1000000 AS BIGINT) AS cos_e6, rank
FROM m WHERE rank <= 5
"""


def q_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN top-5 over embeddings ∪ exact query replicas
    (see _emb_with_query_copies for why this is provably oracle-checkable)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = _emb_with_query_copies(spark, sf_dir)
    out = lsh_cosine_topk(corpus, queries, k=5, n_planes=6, dim=64)
    return out.select(
        "query_id", "vec_id",
        F.round(F.col("cos") * 1_000_000).cast("long").alias("cos_e6"),
        "rank",
    )


def q_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (centroid-bucketed) ANN top-5 over embeddings ∪ exact query
    replicas (replicas share the query's centroid, which is always the
    query's first probe — provable recall, exact SQL oracle)."""
    from gnosis_ocr_spark.functions.similarity import ivf_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = _emb_with_query_copies(spark, sf_dir)
    out = ivf_cosine_topk(corpus, queries, k=5, n_centroids=16, n_probe=4, dim=64)
    return out.select(
        "query_id", "vec_id",
        F.round(F.col("cos") * 1_000_000).cast("long").alias("cos_e6"),
        "rank",
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at cos ≥ 0.999999 over embeddings ∪ verbatim
    copies. Round 3: byte-identical vectors collapse to rep→member STAR
    edges (the hot-bucket O(B²) fix), so the result equals the per-embedding
    star edge set min(group)→member the oracle computes; remaining rep pairs
    contribute nothing (no two distinct embeddings reach cos 0.999999 in the
    frozen corpus — asserted by scripts/validate_oracles.py
    --preconditions)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    u = emb.unionByName(copies)
    out = embedding_near_duplicates(u, threshold=0.999999, n_planes=6, dim=64)
    return out.select(
        "a", "b", F.round(F.col("cos") * 1_000_000).cast("long").alias("cos_e6")
    )


ORACLE_EMBEDDING_NEAR_DUP = """
WITH u AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + 10000, embedding FROM embeddings
), g AS (
  SELECT vec_id, MIN(vec_id) OVER (PARTITION BY embedding) AS rep FROM u
)
SELECT rep AS a, vec_id AS b, CAST(1000000 AS BIGINT) AS cos_e6
FROM g WHERE vec_id != rep
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media plumbing: bytes → sniffed type + byte length, UNIONed
    with one by-construction fixture payload per sniffed format (PNG, JPEG,
    GIF, BMP, WebP, TIFF, JP2, WAV, MP4, HEIF, AVIF — media_fixture_rows)
    so the REAL dimension/duration parses are value-certified by the driver
    gate, not just unit-tested. Expected values on the oracle side come
    from the builder arguments, never from running the engine's parsers
    (non-circular — see media_fixture_rows' docstring). duration is emitted
    as integer milliseconds (driver contract: no raw float columns)."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode(F.col("text"), "UTF-8").alias("data"),
    )
    fixtures = spark.createDataFrame(
        [(u, bytearray(p)) for u, p, _t2, _w, _h, _d in media_fixture_rows()],
        "url string, data binary",
    )
    meta = media_metadata(docs.unionByName(fixtures))
    # -1 sentinels instead of NULL: nullable numerics become float-NaN
    # columns in pandas and the driver's canonicalizer can't hash them
    return meta.select(
        "url",
        "media_type",
        "byte_len",
        F.coalesce(F.col("width"), F.lit(-1)).alias("width"),
        F.coalesce(F.col("height"), F.lit(-1)).alias("height"),
        F.coalesce(
            F.round(F.col("duration_sec") * 1000).cast("bigint"), F.lit(-1).cast("bigint")
        ).alias("duration_ms"),
    )


def _multimodal_meta_oracle() -> str:
    fixture_values = ",\n       ".join(
        "('{}', '{}', {}, {}, {}, {})".format(
            u, t, len(p),
            -1 if w is None else w,
            -1 if h is None else h,
            -1 if d is None else d,
        )
        for u, p, t, w, h, d in media_fixture_rows()
    )
    return f"""
SELECT CAST(doc_id AS VARCHAR) AS url,
       'application/octet-stream' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(-1 AS INTEGER) AS width,
       CAST(-1 AS INTEGER) AS height,
       CAST(-1 AS BIGINT) AS duration_ms
FROM documents
UNION ALL
SELECT url, media_type,
       CAST(byte_len AS BIGINT) AS byte_len,
       CAST(width AS INTEGER) AS width,
       CAST(height AS INTEGER) AS height,
       CAST(duration_ms AS BIGINT) AS duration_ms
FROM (VALUES {fixture_values})
  AS fx(url, media_type, byte_len, width, height, duration_ms)
"""


ORACLE_MULTIMODAL_META = _multimodal_meta_oracle()


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "html_extract": q_html_extract,
    "pdf_extract": q_pdf_extract,
    "route_counts": q_route_counts,
    "span_assembly": q_span_assembly,
    "session_status": q_session_status,
    "ordered_concat": q_ordered_concat,
    "latest_topk": q_latest_topk,
    "chunk_assembly": q_chunk_assembly,
    "semi_anti_join": q_semi_anti_join,
    "set_ops": q_set_ops,
    "scalar_funcs": q_scalar_funcs,
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "tpch_q10": q_tpch_q10,
    "tpch_q14": q_tpch_q14,
    "tpch_q4": q_tpch_q4,
    "tpch_q12": q_tpch_q12,
    "tpch_q18": q_tpch_q18,
    "tpch_q22": q_tpch_q22,
    "tpch_q7": q_tpch_q7,
    "tpch_q19": q_tpch_q19,
    "tpch_q15": q_tpch_q15,
    "tpch_q17": q_tpch_q17,
    "host_stats": q_host_stats,
    "windowed_throughput": q_windowed_throughput,
    "rollup": q_rollup,
    "sessionize": q_sessionize,
    "text_stats": q_text_stats,
    "curation": q_curation,
    "gopher_repetition": q_gopher_repetition,
    "quality_classifier": q_quality_classifier,
    "lm_score": q_lm_score,
    "sampling_split": q_sampling_split,
    "pack_sequences": q_pack_sequences,
    "vocabulary": q_vocabulary,
    "dedup_exact": q_dedup_exact,
    "curate_compose": q_curate_compose,
    "prepare_training_compose": q_prepare_training_compose,
    "hot_spans": q_hot_spans,
    "ngram_jaccard": q_ngram_jaccard,
    "decontaminate": q_decontaminate,
    "minhash_lsh": q_minhash_lsh,
    "simhash_dedup": q_simhash_dedup,
    "dedup_clusters": q_dedup_clusters,
    "cosine_topk": q_cosine_topk,
    "lsh_cosine_topk": q_lsh_cosine_topk,
    "ivf_cosine_topk": q_ivf_cosine_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "multimodal_meta": q_multimodal_meta,
}

ORACLES: dict[str, str] = {
    "html_extract": ORACLE_HTML_EXTRACT,
    "pdf_extract": ORACLE_PDF_EXTRACT,
    "route_counts": ORACLE_ROUTE_COUNTS,
    "span_assembly": ORACLE_SPAN_ASSEMBLY,
    "session_status": ORACLE_SESSION_STATUS,
    "ordered_concat": ORACLE_ORDERED_CONCAT,
    "latest_topk": ORACLE_LATEST_TOPK,
    "chunk_assembly": ORACLE_CHUNK_ASSEMBLY,
    "semi_anti_join": ORACLE_SEMI_ANTI_JOIN,
    "set_ops": ORACLE_SET_OPS,
    "scalar_funcs": ORACLE_SCALAR_FUNCS,
    "tpch_q1": ORACLE_TPCH_Q1,
    "tpch_q3": ORACLE_TPCH_Q3,
    "tpch_q5": ORACLE_TPCH_Q5,
    "tpch_q10": ORACLE_TPCH_Q10,
    "tpch_q14": ORACLE_TPCH_Q14,
    "tpch_q4": ORACLE_TPCH_Q4,
    "tpch_q12": ORACLE_TPCH_Q12,
    "tpch_q18": ORACLE_TPCH_Q18,
    "tpch_q22": ORACLE_TPCH_Q22,
    "tpch_q7": ORACLE_TPCH_Q7,
    "tpch_q19": ORACLE_TPCH_Q19,
    "tpch_q15": ORACLE_TPCH_Q15,
    "tpch_q17": ORACLE_TPCH_Q17,
    "host_stats": ORACLE_HOST_STATS,
    "windowed_throughput": ORACLE_WINDOWED_THROUGHPUT,
    "rollup": ORACLE_ROLLUP,
    "sessionize": ORACLE_SESSIONIZE,
    "text_stats": ORACLE_TEXT_STATS,
    "curation": ORACLE_CURATION,
    "gopher_repetition": ORACLE_GOPHER_REPETITION,
    "quality_classifier": ORACLE_QUALITY_CLASSIFIER,
    "lm_score": ORACLE_LM_SCORE,
    "sampling_split": ORACLE_SAMPLING_SPLIT,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "vocabulary": ORACLE_VOCABULARY,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "curate_compose": ORACLE_CURATE_COMPOSE,
    "prepare_training_compose": ORACLE_PREPARE_TRAINING_COMPOSE,
    "hot_spans": ORACLE_HOT_SPANS,
    "ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "decontaminate": ORACLE_DECONTAMINATE,
    # the hash-seeded bucketing families get PROVABLE oracles by corpus
    # construction (verbatim copies ⇒ identical signatures ⇒ guaranteed
    # recall ⇒ output equals an exact SQL-computable set; see each query's
    # docstring)
    "minhash_lsh": ORACLE_MINHASH_LSH,
    "simhash_dedup": ORACLE_SIMHASH_DEDUP,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "lsh_cosine_topk": ORACLE_ANN_TOPK,
    "ivf_cosine_topk": ORACLE_ANN_TOPK,
    "cosine_topk": ORACLE_COSINE_TOPK,
    "embedding_near_dup": ORACLE_EMBEDDING_NEAR_DUP,
    "multimodal_meta": ORACLE_MULTIMODAL_META,
}
