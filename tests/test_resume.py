"""Idempotence/resume tests (SURVEY.md §5 item 4): re-running is a no-op;
a killed run's uncommitted results stay invisible and resuming reprocesses
only their urls; the canonical view stays duplicate-free and byte-identical;
the run's ``runs/`` row and the per-row lineage in ``results/`` agree."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from gnosis_ocr_spark.corpus import corpus_df, golden_df
from gnosis_ocr_spark.plans.pipeline import extract_corpus
from gnosis_ocr_spark.plans.run import canonical_results, run_extraction

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


def test_resume_after_uncommitted_run(spark, tmp_path):
    """A killed run wrote its results but never its ``runs/`` row: its rows
    stay out of the canonical view, and a resumed run re-processes them."""
    out = str(tmp_path / "run")
    docs = corpus_df(spark, n=N, num_partitions=4)
    even = F.crc32("url") % 2 == 0
    committed, killed = docs.filter(even), docs.filter(~even)
    run_extraction(spark, committed, out, run_id="r1")
    r1_urls = {r["url"] for r in committed.select("url").collect()}

    # the killed run: its results append landed, its commit row did not
    (
        extract_corpus(killed)
        .select(
            "url", "extracted_text", "n_pages", "route", F.lit("rk").alias("run_id"),
            "ocr_confidence", F.spark_partition_id().alias("partition_id"),
        )
        .write.mode("append").partitionBy("route").parquet(f"{out}/results")
    )
    assert {r["url"] for r in canonical_results(spark, out).collect()} == r1_urls

    r2 = run_extraction(spark, docs, out, run_id="r2")
    assert r2 == {"processed": N - len(r1_urls), "skipped_done": len(r1_urls)}

    canon = canonical_results(spark, out)
    assert canon.count() == N  # no duplicates despite the uncommitted rows
    assert canon.select("url").distinct().count() == N

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

    (run,) = spark.read.parquet(f"{out}/runs").collect()
    golden_pages = golden_df(spark, n=N).agg(F.sum("n_pages")).collect()[0][0]
    assert run["run_id"] == "r1"
    assert run["url_count"] == N and run["page_count"] == golden_pages
    assert run["elapsed_sec"] > 0
    assert run["docs_per_sec"] == pytest.approx(N / run["elapsed_sec"])
    assert run["pages_per_sec"] == pytest.approx(golden_pages / run["elapsed_sec"])

    results = spark.read.parquet(f"{out}/results")
    assert results.filter(~(F.col("partition_id") >= 0)).count() == 0
    # per-partition metrics are one groupBy over results/ and sum back to
    # the run's row
    per_partition = results.groupBy("partition_id").agg(
        F.count("*").alias("urls"),
        F.sum("n_pages").alias("pages"),
        F.sum(F.length("extracted_text")).alias("chars"),
    ).collect()
    assert sum(r["urls"] for r in per_partition) == run["url_count"]
    assert sum(r["pages"] for r in per_partition) == run["page_count"]
    assert sum(r["chars"] for r in per_partition) == run["char_count"]


def test_canonical_latest_wins_by_time_not_lexicographic(spark, tmp_path):
    """Regression (round-2 advice): run 'r10' finishing after 'r9' must win
    the latest-wins dedup even though 'r9' > 'r10' lexicographically."""
    out = str(tmp_path / "run")
    docs = corpus_df(spark, n=10, num_partitions=2)
    run_extraction(spark, docs, out, run_id="r9")
    time.sleep(1.1)  # ensure a strictly later finished_at
    # a later, full rerun that reprocesses everything
    run_extraction(spark, docs, out, run_id="r10", resume=False)

    canon = canonical_results(spark, out)
    assert canon.count() == 10
    assert canon.filter(F.col("run_id") != "r10").count() == 0


def _partition_confidence(spark, out: str) -> list[float]:
    results = spark.read.parquet(f"{out}/results")
    per_partition = results.groupBy("partition_id").agg(F.avg("ocr_confidence"))
    return sorted(r[1] for r in per_partition.collect())


def test_metrics_carry_nonconstant_ocr_confidence(spark, tmp_path):
    """Round-3 task #7: ``results.ocr_confidence`` comes from the engine's
    scored protocol (per-page, deterministic), not a hardcoded 1.0/0.0 —
    partition averages must be non-constant and within (0, 1]."""
    out = str(tmp_path / "run")
    docs = corpus_df(spark, n=N, num_partitions=4)
    run_extraction(spark, docs, out, run_id="r1")
    vals = _partition_confidence(spark, out)
    assert all(0.0 < v <= 1.0 for v in vals)
    # PDF pages score 0.5..1.0 from pixels while HTML rows score exactly 1.0;
    # with both routes present the averages cannot all be 1.0
    assert any(v != 1.0 for v in vals)
    # the run's row holds the mean over its results rows
    (run,) = spark.read.parquet(f"{out}/runs").collect()
    mean = spark.read.parquet(f"{out}/results").agg(F.avg("ocr_confidence")).collect()[0][0]
    assert run["ocr_confidence"] == pytest.approx(mean)
    # deterministic: a second run over a fresh dir reproduces the values
    out2 = str(tmp_path / "run2")
    run_extraction(spark, docs, out2, run_id="r1")
    assert _partition_confidence(spark, out2) == vals
