"""Run orchestration: idempotent resume from what was written, one write per run.

Spark restatement of the reference's restart-safety design (SURVEY.md §2.9):

- the reference rebuilds status from the files themselves
  (/root/reference/app/jobs.py:204-271) and chains continuation jobs every
  10/5 pages (:349-356, :502-513); Cloud Tasks redelivers on failure
  (/root/reference/app/main.py:366-370). The durable source of truth is
  *what has been written*.
- here: a run is one append to ``results/`` (keyed ``(url, run_id)``) and
  then one commit row in ``runs/``. A run's results count only once its
  commit row exists: rows of a killed run join no ``runs/`` row and are
  invisible by construction. **Resume = input LEFT ANTI JOIN the urls of
  results ⋈ broadcast(runs)** (the J2 missing-set pattern, reference analog
  /root/reference/app/uploader.py:76-96). Re-running a completed run is a
  no-op; a killed run re-processes only uncommitted urls. Replayed tasks
  cannot duplicate final state because the canonical view dedups on
  (url, latest committed run) — at-least-once execution, exactly-once table
  semantics. A fresh run (no ``runs/`` table) plans no join and no resume
  action: an anti-join against an empty set is the identity, and planning
  it would shuffle every input blob by url.
- per-partition lineage + metrics (north rule): every results row carries
  its ``partition_id`` (``spark_partition_id()`` over the union) and its
  ``ocr_confidence``, so a partition's metrics are one
  ``groupBy(run_id, partition_id)`` over ``results/``. The run-wide totals
  (url, page and char counts, mean OCR confidence) are observed on the
  written frame itself, and the commit row adds the write's driver-timed
  wall (``elapsed_sec``) and the run's rates. No cache, no extra pass over
  the output and no extra Python stage.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from gnosis_ocr_spark.plans.pipeline import extract_corpus
from gnosis_ocr_spark.sources import tables

RESULTS_SCHEMA = (
    "url string, extracted_text string, n_pages int, route string, run_id string, "
    "ocr_confidence double, partition_id int"
)
RUNS_SCHEMA = (
    "run_id string, finished_at timestamp, url_count long, page_count long, "
    "char_count long, ocr_confidence double, elapsed_sec double, "
    "docs_per_sec double, pages_per_sec double"
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

    Appends the run's rows to ``results/`` and then commits the run with one
    row in ``runs/``. Returns row counts for observability.
    """
    todo = docs
    n_done = 0
    if resume and tables.exists(f"{out_dir}/runs"):
        # J2 anti-join: only urls no committed run wrote are re-processed
        done = _committed(spark, out_dir).select("url")
        n_done = done.distinct().count()
        if n_done:
            todo = docs.join(done, "url", "left_anti")

    # observe() on the written frame: the totals are taken in the write's
    # result stage, where each partition counts once
    observed = Observation("run")
    results = (
        extract_corpus(todo, ocr_engine=ocr_engine, raster=raster)
        .select(
            "url", "extracted_text", "n_pages", "route", F.lit(run_id).alias("run_id"),
            "ocr_confidence", F.spark_partition_id().alias("partition_id"),
        )
        .observe(
            observed,
            F.count(F.lit(1)).alias("url_count"),
            F.sum("n_pages").alias("page_count"),
            F.sum(F.length("extracted_text")).alias("char_count"),
            # the document-level page-average from the engine's scored
            # protocol (real model: mean token logprob; stub: deterministic
            # per-page score)
            F.avg("ocr_confidence").alias("ocr_confidence"),
        )
    )
    start = time.monotonic()
    # partition results by route: downstream readers that want only the
    # HTML (or only the PDF) slice get partition pruning at the scan
    results.write.mode("append").partitionBy("route").parquet(f"{out_dir}/results")
    elapsed = time.monotonic() - start

    totals = observed.get  # read only after the write has run
    n, pages = totals["url_count"], totals["page_count"] or 0
    values = {
        "run_id": run_id,
        "url_count": n,
        "page_count": pages,
        "char_count": totals["char_count"] or 0,
        "ocr_confidence": totals["ocr_confidence"],
        "elapsed_sec": elapsed,
        "docs_per_sec": n / elapsed,
        "pages_per_sec": pages / elapsed,
    }
    # one driver-built row; createDataFrame of local rows would cost a
    # Python stage
    commit = spark.range(1, numPartitions=1).select(*(
        (F.current_timestamp() if f.name == "finished_at" else F.lit(values[f.name]))
        .cast(f.dataType).alias(f.name)
        for f in StructType.fromDDL(RUNS_SCHEMA).fields
    ))
    tables.append(commit, f"{out_dir}/runs")
    return {"processed": n, "skipped_done": n_done}


def _committed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Results rows of committed runs, each with its run's ``_run_ts``. The
    per-run table is tiny (one row per run) and broadcast."""
    run_times = (
        tables.read_or_empty(spark, f"{out_dir}/runs", RUNS_SCHEMA)
        .groupBy("run_id")
        .agg(F.max("finished_at").alias("_run_ts"))
    )
    raw = tables.read_or_empty(spark, f"{out_dir}/results", RESULTS_SCHEMA)
    return raw.join(F.broadcast(run_times), "run_id")


def canonical_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest-wins view over possibly-replayed appends (A8 pattern):
    exactly one row per url even after retries/overlapping runs.

    "Latest" is the run's real commit time from ``runs/`` (a lexicographic
    order on run_id would rank 'r9' above 'r10' and resurrect stale
    extractions); run_id breaks ties. Rows of a run that never committed
    join no ``runs/`` row and are not in the view."""
    w = Window.partitionBy("url").orderBy(F.desc("_run_ts"), F.desc("run_id"))
    return (
        _committed(spark, out_dir)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_run_ts")
    )
