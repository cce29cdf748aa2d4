"""gnosis_ocr_spark — a from-scratch PySpark-native document-extraction engine.

Re-expresses the capabilities of the reference service (kordless/gnosis-ocr,
a single-node FastAPI OCR web app, studied read-only at /root/reference) as an
idiomatic Spark batch pipeline over a Common-Crawl-style table
``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)``:

- content sniffing routes each row to the PDF path (page split + rasterize +
  OCR inside ``mapInPandas``) or the HTML path (DOM boilerplate strip as a
  vectorized ``pandas_udf``),
- layout reconstruction reassembles page/span text per ``url`` with a single
  sort-aggregate,
- skew is handled by salted size-bucket repartitioning, and
- runs are resumable: each run is one results write plus one commit row in
  a ``runs/`` table, and every results row carries its partition lineage.

Everything here is built from public knowledge only (Apache Spark APIs, the
PDF/PNG file-format specs, Readability/trafilatura-style heuristics from
published descriptions). No code is copied from the reference.
"""

__version__ = "0.1.0"
