"""The end-to-end extraction plan (SURVEY.md §7 phases 1–4 composed).

    documents (url, warc_ts, html, text, lang)
      ├─ light branch (ONE scan): route on magic bytes → HTML rows get the
      │    vectorized boilerplate strip (U7), office containers
      │    (docx/xlsx/pptx/odt/epub/rtf) get the codec_zip/XML extractors,
      │    feeds their item text, empty rows ('', 0) — one fused UDF (bytes cross Arrow once),
      │    narrow end-to-end, zero shuffles
      └─ heavy branch (second scan, PDFs + multi-page TIFFs + images):
           salted repartition (skew) → mapInPandas page split (U2 parse,
           cheap; TIFF pages rebuilt as still-compressed single-page files)
           → page-level respread → fused raster+OCR mapInPandas (U2/U3,
           heavy) → sort-aggregate assembly (A6/U8)
      unionByName (SO2) → (url, extracted_text, n_pages, route,
                           ocr_confidence)

Shuffle census at scale: light branch 0 exchanges; heavy branch 3 (salted
repartition, page respread, groupBy(url) assembly). The input is scanned
twice, both scans column-pruned to (url, html); on an Iceberg deployment,
partitioning the table by a routed flag at ingest lets each branch prune to
its own partitions instead.

Straggler control (north rule): the salted size-bucket repartition spreads
*documents* for the cheap parse stage; the page-level respread then
spreads the HEAVY per-page work — rasterization (~100 ms/page at
dpi=150) and OCR (seconds/page with the real model) — so one 500-page PDF
fans out across the cluster instead of pinning a task, and the assembly
groupBy brings pages back together. This is the Spark restatement of the
reference's 10-page/5-page continuation windows
(/root/reference/app/jobs.py:378,435), where each continuation job re-reads
the PDF and processes only its window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gnosis_ocr_spark.operators.layout import assemble_documents
from gnosis_ocr_spark.operators.office_extract import light_extract_udf
from gnosis_ocr_spark.operators.pdf_split import (
    raster_ocr_pages,
    split_pdf_text_pages,
)
from gnosis_ocr_spark.operators.routing import HEAVY_ROUTES, with_route
from gnosis_ocr_spark.operators.skew import salted_repartition


def light_branch(routed: DataFrame) -> DataFrame:
    """Routed rows off the heavy routes → their extraction, in ONE scan and
    ONE fused UDF so the raw bytes cross Arrow once: html → U7 main-content
    strip, office containers (docx/xlsx/pptx/odt/epub/rtf) → codec_zip/XML
    extraction, feeds → item text, empty → ('', 0). Narrow end to end, zero
    shuffles.

    Returns the five union columns of :func:`extract_corpus`. Light
    extraction is not model inference, so ``ocr_confidence`` is 1.0 for
    non-empty text and 0.0 for empty/unparseable rows."""
    return (
        routed.filter(~F.col("route").isin(*HEAVY_ROUTES))
        .withColumn("_lx", light_extract_udf(F.col("html"), F.col("route")))
        .withColumns({
            "extracted_text": F.col("_lx.extracted_text"),
            "n_pages": F.col("_lx.n_pages"),
        })
        .select(
            "url",
            "extracted_text",
            "n_pages",
            "route",
            F.when(F.length("extracted_text") > 0, F.lit(1.0))
            .otherwise(0.0)
            .alias("ocr_confidence"),
        )
    )


def extract_corpus(
    docs: DataFrame,
    ocr_engine: str = "stub",
    pdf_partitions: int | None = None,
    raster: str | None = None,
) -> DataFrame:
    """documents → (url, extracted_text, n_pages, route, ocr_confidence).

    ``pdf_partitions`` is the heavy branch's width: the salted PDF
    repartition, the page respread and the coalesced assembly output all
    run that many tasks (default: ``sparkContext.defaultParallelism``, one
    task per core). The count is explicit because AQE would coalesce these
    byte-light, CPU-heavy exchanges to one task.

    ``ocr_confidence`` is the page-average of the OCR engine's per-page
    score on the heavy branch (aggregated inside the existing assembly
    groupBy — no extra shuffle); :func:`light_branch` sets the light
    rows' value.
    """
    routed = with_route(docs)

    # heavy branch: PDFs, multi-page TIFFs and images share one topology —
    # the split stage re-sniffs the magic per blob and emits a route column
    # that rides the existing exchanges (no extra shuffle)
    n = pdf_partitions or docs.sparkSession.sparkContext.defaultParallelism
    heavy = routed.filter(F.col("route").isin(*HEAVY_ROUTES)).select("url", "html")
    pages = split_pdf_text_pages(salted_repartition(heavy, n), with_route=True)
    # spread a giant document's pages across the cluster BEFORE the heavy
    # per-page stage
    pages = pages.repartition(n, "url", "page_no")
    # fused raster+OCR: pixels never cross the Arrow boundary (see
    # operators/pdf_split.raster_ocr_pages)
    ocred = raster_ocr_pages(
        pages, ocr_engine=ocr_engine, raster=raster, with_confidence=True
    )
    # assembly folds the per-page route into the same sort-aggregate; the
    # coalesce (no exchange) keeps the stages above the union at n tasks
    # instead of spark.sql.shuffle.partitions
    return light_branch(routed).unionByName(assemble_documents(ocred).coalesce(n))
