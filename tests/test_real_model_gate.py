"""Marker-gated real-model path (SURVEY.md §5 item 1): exercises the
NanonetsOCR seam. In this container (no torch) it must fail CLEANLY at
engine construction — never at import — so the plumbing stays honest; on a
GPU host with transformers installed the same test runs real inference
against the reference constants."""

from __future__ import annotations

import pytest

from gnosis_ocr_spark.operators import ocr


def _torch_available() -> bool:
    try:
        import torch  # noqa: F401

        return True
    except ImportError:
        return False


def test_reference_constants_pinned():
    # byte-identity depends on these staying exactly the reference's values
    # (/root/reference/app/ocr_service.py:166,196)
    assert ocr.NANONETS_MAX_NEW_TOKENS == 15000
    assert ocr.NANONETS_MODEL_ID == "nanonets/Nanonets-OCR-s"
    assert "Extract the text from the above document" in ocr.NANONETS_PROMPT
    assert "<watermark>OFFICIAL COPY</watermark>" in ocr.NANONETS_PROMPT


def test_gated_engine_fails_cleanly_without_torch():
    if _torch_available():  # pragma: no cover - GPU host
        pytest.skip("torch present; covered by the real-model marker test")
    with pytest.raises(NotImplementedError, match="torch"):
        ocr.get_engine("nanonets")
    # the failed construction must not poison the singleton
    assert ocr.get_engine("stub").ocr_batch_scored([None]) == ([""], [0.0])


@pytest.mark.realmodel
def test_real_model_parity(spark):  # pragma: no cover - needs GPU+weights
    if not _torch_available():
        pytest.skip("real-model parity requires torch/transformers")
    from pyspark.sql import functions as F

    from gnosis_ocr_spark.corpus import corpus_df, golden_df
    from gnosis_ocr_spark.plans.pipeline import extract_corpus

    docs = corpus_df(spark, n=20)
    result = extract_corpus(docs, ocr_engine="nanonets")
    assert result.count() == golden_df(spark, n=20).count()
