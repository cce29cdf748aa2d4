"""U3/U4 — OCR engines behind one scored protocol, loaded as an
executor singleton.

Reference semantics being reproduced (SURVEY.md §2.8 U3): the model is loaded
once per process (/root/reference/app/ocr_service.py:36-77), each page image
becomes markdown-ish text (:160-215) with greedy decoding
(``max_new_tokens=15000, do_sample=False``, :196) and a final ``.strip()``
(:208) — the strip is replicated here because byte-identity of the final text
depends on it.

Two engines behind one seam:

- :class:`DeterministicStubOCR` — CI/default engine, a pure function of the
  PNG bytes (reads the ground-truth iTXt chunk written by the rasterizer).
  Deterministic, GPU-free; this is what golden tests and benches run.
- :class:`NanonetsOCR` — the real model path with the reference's exact
  constants, import-gated on torch/transformers (absent in this container →
  ``NotImplementedError`` at load, never at import).

Every engine implements one method, ``ocr_batch_scored(pngs) -> (texts,
confs)``. :func:`get_engine` keeps one engine per Python worker process;
``pdf_split.raster_ocr_pages`` fetches it once at the top of its
``mapInPandas`` iterator, so the model loads once per worker, not once per
batch — the Spark analog of the reference's process-wide model singleton.
"""

from __future__ import annotations

from gnosis_ocr_spark.functions.codec_png import (
    decode_scan_png_text,
    decode_stub_text,
)

# exact reference constants (app/ocr_service.py:166,196) — used by NanonetsOCR
NANONETS_MODEL_ID = "nanonets/Nanonets-OCR-s"
NANONETS_MAX_NEW_TOKENS = 15000
NANONETS_PROMPT = (
    "Extract the text from the above document as if you were reading it naturally. "
    "Return the tables in html format. Return the equations in LaTeX representation. "
    "If there is an image in the document and image caption is not present, add a small "
    "description of the image inside the <img></img> tag; otherwise, add the image "
    "caption inside <img></img>. Watermarks should be wrapped in brackets. Ex: "
    "<watermark>OFFICIAL COPY</watermark>. Page numbers should be wrapped in brackets. "
    "Ex: <page_number>14</page_number> or <page_number>9/22</page_number>. Prefer "
    "using ☐ and ☑ for check boxes."
)


class DeterministicStubOCR:
    """Pure-function stand-in: PNG → embedded ground-truth text, stripped.

    Two page shapes, both deterministic: rendered text pages carry their
    ground truth in the rasterizer's iTXt chunk; scanned pages (pixels
    decoded from an image XObject, codec_pdf scanned path) carry it in the
    scan-matrix pixel encoding (codec_png.encode_scan_pixels) — the stub
    "reads the pixels" either way."""

    name = "stub"

    def ocr_batch_scored(
        self, pngs: list[bytes | None]
    ) -> tuple[list[str], list[float]]:
        """(texts, per-page confidences) — the one engine method. Texts get
        the reference's final ``.strip()``; a NULL page reads as ''. The
        real-model analog of the confidence averages token logprobs over
        the greedy decode; the stub derives a deterministic confidence in
        [0.5, 1.0) from the page pixels (crc32) so every page gets a
        distinct, reproducible score — 0.0 for failed/empty pages."""
        import zlib

        texts: list[str] = []
        confs: list[float] = []
        for png in pngs:
            text = ""
            if png is not None:
                try:
                    text = decode_stub_text(bytes(png)).strip()
                except Exception:
                    scanned = decode_scan_png_text(bytes(png))
                    text = scanned.strip() if scanned else ""
            texts.append(text)
            confs.append(
                0.5 + (zlib.crc32(bytes(png)) % 5000) / 10000.0 if text else 0.0
            )
        return texts, confs


class ComputeCalibratedStubOCR(DeterministicStubOCR):
    """Stub with calibrated CPU cost per page — the scaling-evidence engine.

    Identical output to :class:`DeterministicStubOCR`; additionally burns a
    deterministic sha256 chain per page (default ~30 ms) so the OCR stage's
    cost profile is compute-bound like real model inference (the reference
    spends 5–20 s/page on GPU — see BASELINE.md). This exists ONLY to make
    scaling measurements reflect the deployed regime; throughput numbers from
    this engine are labeled as such, never presented as stub throughput.
    Iterations: $SPARK_GRAFT_OCR_ITERS (0 disables the burn).
    """

    name = "stub_compute"

    def __init__(self) -> None:
        import os

        self.iters = int(os.environ.get("SPARK_GRAFT_OCR_ITERS", "60000"))

    def ocr_batch_scored(
        self, pngs: list[bytes | None]
    ) -> tuple[list[str], list[float]]:
        import hashlib

        for png in pngs:
            if png is None:
                continue
            h = bytes(png[:64])
            for _ in range(self.iters):
                h = hashlib.sha256(h).digest()
        return super().ocr_batch_scored(pngs)


class NanonetsOCR:
    """Real-model path; loads lazily, fails clearly when torch is absent."""

    name = "nanonets"

    def __init__(self) -> None:
        try:
            import torch  # noqa: F401
            from transformers import (  # noqa: F401
                AutoModelForImageTextToText,
                AutoProcessor,
                AutoTokenizer,
            )
        except ImportError as exc:  # pragma: no cover - env without torch
            raise NotImplementedError(
                "NanonetsOCR requires torch+transformers (not in this container); "
                "use DeterministicStubOCR for CI. Reference semantics documented "
                "in this module's constants."
            ) from exc
        raise NotImplementedError(
            "real-model inference is environment-gated in this sandbox"
        )

    def ocr_batch_scored(  # pragma: no cover
        self, pngs: list[bytes | None]
    ) -> tuple[list[str], list[float]]:
        raise NotImplementedError


_ENGINES = {
    "stub": DeterministicStubOCR,
    "stub_compute": ComputeCalibratedStubOCR,
    "nanonets": NanonetsOCR,
}
_SINGLETON: object | None = None
_SINGLETON_KIND: str | None = None


def get_engine(kind: str = "stub"):
    """Executor-local singleton (one engine per Python worker process)."""
    global _SINGLETON, _SINGLETON_KIND
    if _SINGLETON is None or _SINGLETON_KIND != kind:
        _SINGLETON = _ENGINES[kind]()
        _SINGLETON_KIND = kind
    return _SINGLETON

