"""A1–A8 — the reference's status/progress aggregation surface as Spark
aggregates (SURVEY.md §2.4). The reference rebuilds all of this by scanning
a session's files (/root/reference/app/jobs.py:204-271); here each is a
declarative aggregate Catalyst executes with partial+final hash aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gnosis_ocr_spark.functions.scalar import progress_percent


def session_status(files: DataFrame) -> DataFrame:
    """scan_and_build_status (reference app/jobs.py:204-271) as ONE group-by.

    Input: a blob-listing-shaped frame
    ``(session string, kind string, page_no int, text string, total_pages int)``
    where kind ∈ {'page','result'}. Output mirrors the reference's
    session_status.json: per-session counts, progress percents and
    completeness flags (A1, A2, A4, A5) — idempotent and order-insensitive,
    exactly like the rebuild-from-files original.
    """
    agg = files.groupBy("session").agg(
        F.max("total_pages").alias("total_pages"),
        F.count(F.when(F.col("kind") == "page", 1)).alias("pages_extracted"),  # A1
        F.count(F.when(F.col("kind") == "result", 1)).alias("ocr_completed"),  # A2
    )
    return agg.select(
        "session",
        "total_pages",
        "pages_extracted",
        "ocr_completed",
        progress_percent(F.col("pages_extracted"), F.col("total_pages")).alias(
            "extraction_pct"  # A4
        ),
        progress_percent(F.col("ocr_completed"), F.col("total_pages")).alias("ocr_pct"),
        F.when(  # A5 completeness flag
            (F.col("total_pages") > 0)
            & (F.col("ocr_completed") == F.col("total_pages")),
            F.lit("complete"),
        )
        .when(F.col("ocr_completed") > 0, F.lit("processing"))
        .otherwise(F.lit("pending"))
        .alias("status"),
    )


def ocr_results_map(page_texts: DataFrame) -> DataFrame:
    """A3: per-session {page_no: text} map (reference app/jobs.py:230-242).

    map_from_entries over sort-collected structs so map key order is
    deterministic page order."""
    # NULL page_no rows (parse-failure sentinels assemble_documents
    # tolerates) and duplicate page rows (at-least-once retries) would
    # RAISE inside map_from_entries (NULL_MAP_KEY / DUPLICATED_MAP_KEY):
    # filter and latest-wins-dedup first
    one_per_page = (
        page_texts.filter(F.col("page_no").isNotNull())
        .groupBy("session", "page_no")
        .agg(F.max("text").alias("text"))
    )
    return one_per_page.groupBy("session").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("page_no", "text")))
        ).alias("ocr_results")
    )


def high_water_progress(events: DataFrame, key: str = "session") -> DataFrame:
    """A7: progress never regresses — max() per key (reference client logic
    app/static/js/app.js:231-237)."""
    return events.groupBy(key).agg(F.max("progress").alias("progress_hwm"))


def running_high_water(events: DataFrame, key: str = "session", order: str = "ts") -> DataFrame:
    """A7 windowed form: running monotonic progress per event."""
    w = (
        Window.partitionBy(key)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.withColumn("progress_hwm", F.max("progress").over(w))


def latest_sessions(sessions: DataFrame, k: int = 50) -> DataFrame:
    """A8/W2: latest-wins dedup per session, newest first, top-k
    (reference app/static/js/app.js:111-113)."""
    # total order: ts ties (coarse timestamps) need a secondary key or
    # both the per-session winner and the top-k boundary are
    # nondeterministic run to run. WITHIN one session, rows tied on ts
    # still need a caller-side unique column (the driver row tie-breaks
    # on event_id); this library default at least pins the top-k boundary
    w = Window.partitionBy("session").orderBy(F.desc("ts"), F.asc("session"))
    return (
        sessions.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy(F.desc("ts"), F.asc("session"))
        .limit(k)  # Spark executes as TakeOrderedAndProject — no full sort
    )


def windowed_throughput(docs: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Per event-time window document count and input bytes: tumbling
    ``window``-wide buckets of ``warc_ts`` with ``count(*)`` and
    ``sum(length(html))``, one row per non-empty window."""
    return (
        docs.groupBy(F.window("warc_ts", window).alias("w"))
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
