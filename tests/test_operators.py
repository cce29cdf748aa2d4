"""Spark-level unit tests: routing, PDF probe/split, OCR engine, span
assembly, salted skew repartition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gnosis_ocr_spark.functions.codec_pdf import build_pdf
from gnosis_ocr_spark.functions.codec_png import DPI150_SIZE, encode_page_png
from gnosis_ocr_spark.operators.layout import assemble_documents, assemble_spans
from gnosis_ocr_spark.operators.ocr import get_engine
from gnosis_ocr_spark.operators.pdf_split import (
    pdf_page_count_udf,
    split_pdf_text_pages,
)
from gnosis_ocr_spark.operators.routing import with_route
from gnosis_ocr_spark.operators.skew import salted_repartition


def test_routing_trusts_magic_bytes(spark):
    df = spark.createDataFrame(
        [
            ("u1", bytearray(b"%PDF-1.4 stuff")),
            ("u2", bytearray(b"<html><body>x</body></html>")),
            ("u3", bytearray(b"")),
            ("u4", None),
            ("u5.pdf", bytearray(b"<html>lies</html>")),  # extension lies
        ],
        schema="url string, html binary",
    )
    routes = dict(with_route(df).select("url", "route").collect())
    assert routes == {"u1": "pdf", "u2": "html", "u3": "empty", "u4": "empty", "u5.pdf": "html"}


def test_pdf_probe_udf(spark):
    df = spark.createDataFrame(
        [
            ("a", bytearray(build_pdf(["x", "y", "z"]))),
            ("b", bytearray(b"%PDF-1.4\nbroken")),
        ],
        schema="url string, html binary",
    )
    got = dict(
        df.select("url", pdf_page_count_udf("html").alias("n")).collect()
    )
    assert got["a"] == 3
    assert got["b"] == 0  # parseable header, zero page objects


def test_split_emits_sentinel_for_garbage(spark):
    df = spark.createDataFrame(
        [("ok", bytearray(build_pdf(["p1", "p2"]))), ("bad", bytearray(b"%PDF-oops"))],
        schema="url string, html binary",
    )
    pages = split_pdf_text_pages(df).collect()
    by_url = {}
    for r in pages:
        by_url.setdefault(r["url"], []).append(r)
    assert sorted(r["page_no"] for r in by_url["ok"]) == [1, 2]
    [bad] = by_url["bad"]
    assert (bad["page_no"], bad["page_text"], bad["page_png"]) == (None, None, None)


def test_ocr_stub_udf_strips():
    texts, confs = get_engine("stub").ocr_batch_scored(
        [encode_page_png("  hello  "), None]
    )
    assert texts == ["hello", ""]  # final .strip() per reference ocr_service.py:208
    assert confs[0] > 0.0 and confs[1] == 0.0


def test_assembly_orders_pages_and_counts(spark):
    df = spark.createDataFrame(
        [("u", 2, "second"), ("u", 1, "first"), ("u", 3, "third"), ("v", None, "")],
        schema="url string, page_no int, page_text string",
    )
    got = {
        r["url"]: (r["extracted_text"], r["n_pages"])
        for r in assemble_documents(df).collect()
    }
    assert got["u"] == ("first\n\nsecond\n\nthird", 3)
    assert got["v"] == ("", 0)


def test_span_assembly_reading_order(spark):
    df = spark.createDataFrame(
        [
            ("u", 1, 300.0, 700.0, "right"),
            ("u", 1, 72.0, 700.0, "left"),
            ("u", 1, 72.0, 650.0, "row2"),
            ("u", 2, 72.0, 720.0, "pagetwo"),
        ],
        schema="url string, page_no int, x double, y double, span_text string",
    )
    row = assemble_spans(df).collect()[0]
    assert row["extracted_text"] == "left right\nrow2\n\npagetwo"
    assert row["n_pages"] == 2


def test_salted_repartition_spreads_large_docs(spark):
    # 8 giant docs with identical size + 80 small ones; salt must spread the
    # giants over multiple partitions even though they share a size bucket
    rows = [(f"big{i}", bytearray(b"%PDF-" + b"x" * 100_000)) for i in range(8)]
    rows += [(f"small{i}", bytearray(b"<html>y</html>")) for i in range(80)]
    df = spark.createDataFrame(rows, schema="url string, html binary")
    parts = (
        salted_repartition(df, num_partitions=8)
        .withColumn("pid", F.spark_partition_id())
        .filter(F.col("url").startswith("big"))
        .select("pid")
        .distinct()
        .count()
    )
    assert parts >= 3


def test_pdf15_files_flow_through_spark_pipeline(spark):
    """A PDF 1.5-class file (ObjStm page tree, xref stream, split content
    streams, Tm/TL/' positioning) must extract byte-identically to the
    classic writer THROUGH the Spark split → raster+OCR → assemble path,
    not just the pure-Python parser."""
    from gnosis_ocr_spark.functions.codec_pdf import build_pdf, build_pdf_15
    from gnosis_ocr_spark.operators.layout import assemble_documents
    from gnosis_ocr_spark.operators.pdf_split import (
        raster_ocr_pages,
        split_pdf_text_pages,
    )

    pages = [["one alpha", "two beta\nsecond line"], ["solo page"]]
    rows = []
    for i, pg in enumerate(pages):
        rows.append((f"u{i}-14", bytearray(build_pdf(pg))))
        rows.append((f"u{i}-15", bytearray(build_pdf_15(pg))))
    df = spark.createDataFrame(rows, schema="url string, html binary")
    out = assemble_documents(
        raster_ocr_pages(split_pdf_text_pages(df), ocr_engine="stub", raster="64x64")
    )
    got = {r["url"]: (r["extracted_text"], r["n_pages"]) for r in out.collect()}
    for i, pg in enumerate(pages):
        assert got[f"u{i}-15"] == got[f"u{i}-14"]
        assert got[f"u{i}-14"][1] == len(pg)



@pytest.mark.parametrize(
    "spec,size",
    [
        (None, (64, 64)),
        ("64x64", (64, 64)),
        ("dpi150", DPI150_SIZE),
        ("DPI150", DPI150_SIZE),
        ("32", (32, 32)),
        ("640X480", (640, 480)),
        ("dpi300", None),
        ("abc", None),
        ("0x0", None),
        ("-5x3", None),
        ("5x", None),
    ],
)
def test_raster_spec_parses_or_raises_at_plan_build(spark, monkeypatch, spec, size):
    """A raster spec outside dpi150 / N / WxH (positive integers) raises
    ValueError naming it while raster_ocr_pages builds the plan, on the
    driver: before this, a typo silently OCR'd every page at 64x64."""
    from gnosis_ocr_spark.operators.pdf_split import _raster_size, raster_ocr_pages

    monkeypatch.delenv("SPARK_GRAFT_RASTER", raising=False)
    pages = spark.createDataFrame([], "url string, page_no int, page_text string")
    if size is None:
        with pytest.raises(ValueError, match=repr(spec)):
            raster_ocr_pages(pages, raster=spec)
    else:
        assert _raster_size(spec) == size
        raster_ocr_pages(pages, raster=spec)

def test_mid_document_split_failure_leaves_sentinel(monkeypatch):
    """A parse failure AFTER partial page emission (corrupt tail — common
    in truncated crawl downloads) adds a NULL-page sentinel row next to
    the partial pages, so the truncation is marked instead of a 10-page
    prefix silently passing as the whole document. Assembly still skips
    NULLs (partial text, partial count)."""
    import pandas as pd

    from gnosis_ocr_spark.operators import pdf_split as PS

    def three_then_die(data):
        yield "p1", None
        yield "p2", None
        raise ValueError("corrupt tail")

    monkeypatch.setattr(PS, "_pdf_page_rows", lambda data: three_then_die(data))
    fn = PS._make_split_batches(with_route=False)
    batch = pd.DataFrame({"url": ["u1"], "html": [b"%PDF-1.4 fake"]})
    out = pd.concat(list(fn(iter([batch]))))
    by_null = out["page_no"].isna()
    assert (~by_null).sum() == 2  # the partial pages survive
    assert by_null.sum() == 1     # plus the incompleteness sentinel


def test_url_extension_query_strings_and_dotfiles(spark):
    """splitext semantics (review fixes): query/fragment stripped before
    the extension, dotfiles have none, and percentages round banker's
    (Python round) on both engines."""
    from gnosis_ocr_spark.functions.scalar import progress_percent, url_extension

    rows = [
        ("https://x.test/doc.pdf?download=1", ".pdf"),
        ("https://x.test/a/page.HTML#sec", ".html"),
        ("https://x.test/.bashrc", ""),
        ("https://x.test/archive.tar.gz", ".gz"),
        ("https://x.test/noext", ""),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], "url string")
    got = [r["e"] for r in df.select(url_extension("url").alias("e")).collect()]
    assert got == [e for _, e in rows]
    pct = spark.createDataFrame([(1, 8), (3, 8), (1, 40), (2, 8)], "d int, t int")
    vals = [r["p"] for r in pct.select(
        progress_percent(F.col("d"), F.col("t")).alias("p")).collect()]
    assert vals == [round(1/8*100), round(3/8*100), round(1/40*100), round(2/8*100)]
    assert vals == [12, 38, 2, 25]  # banker's: 12.5→12, 37.5→38, 2.5→2
