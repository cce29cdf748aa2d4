"""Run orchestration: checkpointed idempotent resume + per-partition lineage.

Spark restatement of the reference's restart-safety design (SURVEY.md §2.9):

- the reference rebuilds status from the files themselves
  (/root/reference/app/jobs.py:204-271) and chains continuation jobs every
  10/5 pages (:349-356, :502-513); Cloud Tasks redelivers on failure
  (/root/reference/app/main.py:366-370). The durable source of truth is
  *what has been written*.
- here: results append keyed ``(url, run_id)``; a ``done_manifest`` table
  records finished urls; **resume = input LEFT ANTI JOIN done_manifest on
  url** (the J2 missing-set pattern, reference analog
  /root/reference/app/uploader.py:76-96). Re-running a completed run is a
  no-op; a killed run re-processes only unfinished urls. Replayed tasks
  cannot duplicate final state because the canonical view dedups on
  (url, latest run) — at-least-once execution, exactly-once table semantics.
  A fresh run (empty manifest) skips the join: an anti-join against an
  empty set is the identity, and planning it would shuffle every input
  blob by url.
- per-partition lineage + metrics (north rule): one row per partition of
  the run's output (run_id, partition_id = ``spark_partition_id()`` over
  the union, url_count, page_count, char_count, ocr_confidence) — the
  analog of the reference's per-page status writes, but O(partitions) not
  O(pages). ``elapsed_sec`` is the driver-timed wall of the materializing
  count, the same on every row of a run, so ``docs_per_sec`` and
  ``pages_per_sec`` sum across partitions to the run's rates. No extra
  Python stage tags the rows.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gnosis_ocr_spark.plans.pipeline import extract_corpus
from gnosis_ocr_spark.sources import tables

MANIFEST_SCHEMA = "run_id string, url string, status string, finished_at timestamp"
METRICS_SCHEMA = (
    "run_id string, partition_id int, url_count long, page_count long, "
    "char_count long, elapsed_sec double, docs_per_sec double, "
    "pages_per_sec double, ocr_confidence double"
)
RESULTS_SCHEMA = (
    "url string, extracted_text string, n_pages int, route string, run_id string"
)


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str,
    ocr_engine: str = "stub",
    resume: bool = True,
    raster: str | None = None,
) -> dict[str, int]:
    """Execute one (resumable) extraction run.

    Writes three tables under ``out_dir``: ``results/`` (keyed url+run_id),
    ``done_manifest/``, ``metrics/``. Returns row counts for observability.
    """
    results_path = f"{out_dir}/results"
    manifest_path = f"{out_dir}/done_manifest"
    metrics_path = f"{out_dir}/metrics"

    todo = docs
    n_done = 0
    if resume:
        done = tables.read_or_empty(spark, manifest_path, MANIFEST_SCHEMA).select("url")
        # J2 anti-join: only unfinished urls are re-processed. The done
        # side is the tiny manifest — count it for the return value (a
        # partially-resumed run previously reported skipped_done=0, making
        # the resume indistinguishable from a fresh run in the metrics)
        n_done = done.distinct().count()
        if n_done:
            todo = docs.join(done, "url", "left_anti")

    tagged = extract_corpus(todo, ocr_engine=ocr_engine, raster=raster).withColumn(
        "partition_id", F.spark_partition_id()
    )
    tagged = tagged.persist()
    try:
        # count AFTER persist: this materializes the cache the three writes
        # below reuse — no separate pre-count scan of the (100 TB) input
        # (round-1 review flagged the extra job). Its wall is the run's
        # extraction time.
        start = time.monotonic()
        n_todo = tagged.count()
        elapsed = time.monotonic() - start
        if n_todo == 0:
            return {"processed": 0, "skipped_done": n_done or docs.count()}
        results = tagged.select(
            "url", "extracted_text", "n_pages", "route", F.lit(run_id).alias("run_id")
        )
        # partition results by route: downstream readers that want only the
        # HTML (or only the PDF) slice get partition pruning at the scan
        results.write.mode("append").partitionBy("route").parquet(results_path)

        metrics = tagged.groupBy("partition_id").agg(
            F.count("*").alias("url_count"),
            F.sum("n_pages").alias("page_count"),
            F.sum(F.length("extracted_text")).alias("char_count"),
            # per-partition mean OCR confidence (north_star metrics list):
            # the document-level page-average from the engine's scored
            # protocol (real model: mean token logprob; stub: deterministic
            # per-page score — NON-constant, round-3 task #7)
            F.avg("ocr_confidence").alias("ocr_confidence"),
        ).select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            F.col("url_count").cast("long"),
            F.col("page_count").cast("long"),
            F.col("char_count").cast("long"),
            F.lit(elapsed).alias("elapsed_sec"),
            (F.col("url_count") / elapsed).alias("docs_per_sec"),
            (F.col("page_count") / elapsed).alias("pages_per_sec"),
            "ocr_confidence",
        )
        tables.append(metrics, metrics_path)

        manifest = tagged.select(
            F.lit(run_id).alias("run_id"),
            "url",
            F.lit("complete").alias("status"),
            F.current_timestamp().alias("finished_at"),
        )
        tables.append(manifest, manifest_path)
    finally:
        tagged.unpersist()
    return {"processed": n_todo, "skipped_done": n_done}


def canonical_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest-wins view over possibly-replayed appends (A8 pattern):
    exactly one row per url even after retries/overlapping runs.

    "Latest" is the run's real completion time from the done_manifest (a
    lexicographic order on run_id would rank 'r9' above 'r10' and resurrect
    stale extractions). The per-run timestamp table is tiny (one row per
    run) and broadcast; results rows whose run died before writing a
    manifest sort last (nulls last) and lose to any completed run."""
    from pyspark.sql.window import Window

    raw = tables.read_or_empty(spark, f"{out_dir}/results", RESULTS_SCHEMA)
    manifest = tables.read_or_empty(
        spark, f"{out_dir}/done_manifest", MANIFEST_SCHEMA
    )
    run_times = manifest.groupBy("run_id").agg(
        F.max("finished_at").alias("_run_ts")
    )
    w = Window.partitionBy("url").orderBy(
        F.desc_nulls_last("_run_ts"), F.desc("run_id")
    )
    return (
        raw.join(F.broadcast(run_times), "run_id", "left")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_run_ts")
    )
