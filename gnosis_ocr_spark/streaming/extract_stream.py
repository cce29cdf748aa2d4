"""Streaming extraction: readStream(parquet dir) → extract → writeStream.

Usage pattern (tested with Trigger.AvailableNow so CI needs no long-running
query):

    q = start_extract_stream(spark, in_dir, out_dir, ckpt_dir)
    q.awaitTermination()

The HTML branch is fully streaming-safe (stateless). The PDF branch's
assembly is a streaming aggregation; in append mode that needs a watermark —
we key it by ``warc_ts`` event time with a configurable lateness bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gnosis_ocr_spark.corpus import INPUT_SCHEMA
from gnosis_ocr_spark.operators.routing import with_route
from gnosis_ocr_spark.plans.pipeline import extract_corpus, light_branch


def read_document_stream(spark: SparkSession, in_dir: str,
                         max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_dir)
    )


def html_extract_stream(docs: DataFrame) -> DataFrame:
    """Stateless streaming transform: route + the batch plan's light branch
    (HTML, office containers, feeds and empty rows — the high-volume
    stateless paths on real crawls). The heavy branch requires
    per-document aggregation → handled by the batch resume plan or the
    foreachBatch sink below."""
    return light_branch(with_route(docs)).select(
        "url", "warc_ts", "extracted_text", "n_pages"
    )


def start_extract_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    out = html_extract_stream(read_document_stream(spark, in_dir))
    writer = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_full_extract_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    ocr_engine: str = "stub",
    available_now: bool = True,
):
    """Full-pipeline streaming via ``foreachBatch``: every micro-batch runs
    the complete batch plan (routing, PDF split→raster→OCR, assembly).

    Exactly-once semantics require the foreachBatch sink write to be
    IDEMPOTENT under batch replay (the checkpoint only guarantees
    at-least-once delivery of each epoch): the output is partitioned by
    ``epoch`` and written with dynamic partition overwrite, so a micro-batch
    replayed after a crash between the write and the checkpoint commit
    replaces its own epoch partition instead of appending duplicates.
    Per-document completeness holds because file sources never split one row
    across batches."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        (
            extract_corpus(batch_df, ocr_engine=ocr_engine)
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(out_dir)
        )

    writer = (
        read_document_stream(spark, in_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_dedup_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
    available_now: bool = True,
):
    """Streaming exact deduplication — the training-pipeline analog of
    ``functions.dedup.exact_duplicates`` for continuous ingest.

    Documents are keyed by the normalized content fingerprint (md5 of
    case/whitespace-normalized text — the same key the batch dedup uses;
    binary-payload rows with no text column, e.g. PDFs, key on the raw blob
    md5 so they don't all collapse into one null-fingerprint group) and
    deduplicated with ``dropDuplicatesWithinWatermark``: the FIRST arrival of
    each fingerprint within the watermark bound survives, and per-key state
    is evicted once the event-time watermark passes — bounded memory at
    crawl-scale ingest, unlike an unbounded dropDuplicates."""
    from gnosis_ocr_spark.functions.text import fingerprint

    docs = read_document_stream(spark, in_dir)
    fp = F.when(
        F.col("text").isNotNull(), fingerprint(F.col("text"))
    ).otherwise(F.md5(F.col("html")))
    keyed = docs.withColumn("fp", fp).withWatermark("warc_ts", watermark)
    # rows where BOTH text and html are NULL have a NULL fingerprint:
    # dropDuplicates treats NULL keys as equal and would collapse every
    # failed-fetch row into one survivor — they bypass instead, matching
    # batch exact_duplicates' NULL contract (each survives, never a dup)
    deduped = keyed.filter(F.col("fp").isNotNull()).dropDuplicatesWithinWatermark(
        ["fp"]
    ).unionByName(keyed.filter(F.col("fp").isNull()))
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_throughput(docs: DataFrame, window: str = "10 minutes",
                        watermark: str = "30 minutes") -> DataFrame:
    """Watermarked event-time throughput aggregation (late data beyond the
    watermark is dropped — the streaming metrics analog of plans/run.py)."""
    return (
        docs.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"))
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.length("html")).alias("bytes_in"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "docs",
            "bytes_in",
        )
    )
