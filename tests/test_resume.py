"""Idempotence/resume tests (SURVEY.md §5 item 4): re-running is a no-op;
resuming after losing half the manifest reprocesses only the missing urls and
the canonical view stays duplicate-free and byte-identical."""

from __future__ import annotations

from pyspark.sql import functions as F

from gnosis_ocr_spark.corpus import corpus_df, golden_df
from gnosis_ocr_spark.plans.run import (
    MANIFEST_SCHEMA,
    canonical_results,
    run_extraction,
)
from gnosis_ocr_spark.sources import tables

N = 60


def test_rerun_is_noop(spark, tmp_path):
    out = str(tmp_path / "run")
    docs = corpus_df(spark, n=N, num_partitions=4)

    r1 = run_extraction(spark, docs, out, run_id="r1")
    assert r1["processed"] == N

    r2 = run_extraction(spark, docs, out, run_id="r2")
    assert r2["processed"] == 0 and r2["skipped_done"] == N

    canon = canonical_results(spark, out)
    assert canon.count() == N
    assert canon.select("url").distinct().count() == N


def test_resume_after_partial_manifest_loss(spark, tmp_path):
    out = str(tmp_path / "run")
    docs = corpus_df(spark, n=N, num_partitions=4)
    run_extraction(spark, docs, out, run_id="r1")

    # simulate a killed run: keep only half the done-manifest
    manifest_path = f"{out}/done_manifest"
    manifest = tables.read_or_empty(spark, manifest_path, MANIFEST_SCHEMA)
    kept = manifest.filter(F.crc32("url") % 2 == 0)
    n_kept = kept.count()
    kept_local = kept.collect()
    tables.overwrite(
        spark.createDataFrame(kept_local, schema=MANIFEST_SCHEMA), manifest_path
    )

    r2 = run_extraction(spark, docs, out, run_id="r2")
    assert r2["processed"] == N - n_kept

    canon = canonical_results(spark, out)
    assert canon.count() == N  # no duplicates despite double-append

    golden = golden_df(spark, n=N).alias("g")
    bad = (
        canon.alias("o")
        .join(golden, F.col("o.url") == F.col("g.url"), "full_outer")
        .filter(
            F.col("o.url").isNull()
            | F.col("g.url").isNull()
            | ~F.col("o.extracted_text").eqNullSafe(F.col("g.extracted_text"))
        )
        .count()
    )
    assert bad == 0


def test_metrics_lineage_written(spark, tmp_path):
    out = str(tmp_path / "run")
    docs = corpus_df(spark, n=N, num_partitions=4)
    run_extraction(spark, docs, out, run_id="r1")

    metrics = spark.read.parquet(f"{out}/metrics")
    agg = metrics.agg(
        F.sum("url_count").alias("urls"), F.sum("page_count").alias("pages")
    ).collect()[0]
    assert agg["urls"] == N
    golden_pages = golden_df(spark, n=N).agg(F.sum("n_pages")).collect()[0][0]
    assert agg["pages"] == golden_pages
    assert metrics.filter(F.col("partition_id") < 0).count() == 0

    rows = metrics.collect()
    # one run-wide wall on every row, so the per-partition rates sum to the
    # run's rates
    (elapsed,) = {r["elapsed_sec"] for r in rows}
    assert elapsed > 0
    assert abs(sum(r["docs_per_sec"] for r in rows) * elapsed - agg["urls"]) < 1e-6 * N
    assert abs(sum(r["pages_per_sec"] for r in rows) * elapsed - agg["pages"]) < (
        1e-6 * golden_pages
    )
    assert len({r["partition_id"] for r in rows}) == len(rows)


def test_canonical_latest_wins_by_time_not_lexicographic(spark, tmp_path):
    """Regression (round-2 advice): run 'r10' finishing after 'r9' must win
    the latest-wins dedup even though 'r9' > 'r10' lexicographically."""
    out = str(tmp_path / "run")
    docs = corpus_df(spark, n=10, num_partitions=2)
    run_extraction(spark, docs, out, run_id="r9")
    # wipe the manifest so r10 reprocesses everything (a later, full rerun)
    import shutil

    shutil.rmtree(f"{out}/done_manifest")
    import time

    time.sleep(1.1)  # ensure a strictly later finished_at (second precision)
    run_extraction(spark, docs, out, run_id="r10")

    canon = canonical_results(spark, out)
    assert canon.count() == 10
    assert canon.filter(F.col("run_id") != "r10").count() == 0


def test_metrics_carry_nonconstant_ocr_confidence(spark, tmp_path):
    """Round-3 task #7: ocr_confidence in the metrics table comes from the
    engine's scored protocol (per-page, deterministic), not a hardcoded
    1.0/0.0 — partition averages must be non-constant and within (0, 1]."""
    out = str(tmp_path / "run")
    docs = corpus_df(spark, n=N, num_partitions=4)
    run_extraction(spark, docs, out, run_id="r1")
    metrics = spark.read.parquet(f"{out}/metrics")
    vals = [r["ocr_confidence"] for r in metrics.collect()]
    assert all(0.0 < v <= 1.0 for v in vals)
    # PDF pages score 0.5..1.0 from pixels while HTML rows score exactly 1.0;
    # with both routes present the averages cannot all be 1.0
    assert any(v != 1.0 for v in vals)
    # deterministic: a second run over a fresh dir reproduces the values
    out2 = str(tmp_path / "run2")
    run_extraction(spark, docs, out2, run_id="r1")
    vals2 = sorted(r["ocr_confidence"] for r in spark.read.parquet(f"{out2}/metrics").collect())
    assert vals2 == sorted(vals)
