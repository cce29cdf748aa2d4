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

On Python < 3.12, importing the package makes ``zipimport`` re-read an
archive's directory only when the file changed: the PySpark worker calls
``importlib.invalidate_caches()`` before every task, which otherwise re-reads
every zip on its path (16 importers, ~270 ms per task on a 4-vCPU VM).
"""

import sys

__version__ = "0.1.0"

if sys.version_info < (3, 12):  # 3.12's zipimport re-reads lazily already
    import os
    import zipimport

    _archive_stamps: dict[str, tuple[int, int]] = {}
    _reread_archive = zipimport.zipimporter.invalidate_caches

    def _invalidate_if_changed(self) -> None:
        """``zipimporter.invalidate_caches`` that skips an archive whose
        ``(st_mtime_ns, st_size)`` is the one stamped before its last read;
        the importers of one archive share that read's directory."""
        try:
            st = os.stat(self.archive)
        except OSError:
            return _reread_archive(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)  # None after a failed read
        if files is not None and _archive_stamps.get(self.archive) == stamp:
            self._files = files
        else:
            _reread_archive(self)
            _archive_stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
