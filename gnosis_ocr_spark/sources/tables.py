"""Table IO behind one seam (SURVEY.md §7 "hard part" (5)).

The production design targets Iceberg (``spark.read.format("iceberg")``,
``df.writeTo(tbl).append()``) — snapshot isolation makes the reference's GCS
read-after-write retry loop (/root/reference/app/storage_service.py:485-506)
moot. This container has no Iceberg catalog, so the same API runs on parquet
paths; swapping the backend touches only this module.

Replaces the reference's blob store verbs (SURVEY.md §2.1 S1–S9):
get→read_table, put→append/overwrite, list→the manifest tables themselves,
recursive delete→delete_run.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_FORMATS = {"parquet", "json", "csv", "orc", "iceberg"}


def read_documents(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """S1 scan: the input corpus table. Columns per input_hint; columnar
    formats get predicate pushdown + column pruning from Catalyst for free.

    Text formats (json/csv) carry the binary ``html`` payload base64-encoded
    in a ``html_b64`` column (the WARC-sidecar convention); it is decoded
    JVM-side here so downstream operators see the same BINARY schema.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {sorted(_FORMATS)}")
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path)
    if fmt in ("parquet", "orc"):
        return spark.read.format(fmt).load(path)
    text_schema = "url string, warc_ts timestamp, html_b64 string, text string, lang string"
    reader = spark.read.schema(text_schema)
    if fmt == "csv":
        # multiLine: the text column legitimately contains newlines
        reader = reader.option("header", "true").option("multiLine", "true")
    df = reader.format(fmt).load(path)
    return df.select(
        "url",
        "warc_ts",
        F.unbase64(F.col("html_b64")).alias("html"),
        "text",
        "lang",
    )


def write_documents_as(df: DataFrame, path: str, fmt: str) -> None:
    """Sink counterpart for text formats: binary → base64 sidecar column."""
    if fmt in ("parquet", "orc"):
        df.write.format(fmt).mode("overwrite").save(path)
        return
    out = df.select(
        "url",
        "warc_ts",
        F.base64(F.col("html")).alias("html_b64"),
        "text",
        "lang",
    )
    writer = out.write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.format(fmt).save(path)


def append(df: DataFrame, path: str) -> None:
    """S2 sink, append mode (Iceberg: writeTo(...).append())."""
    df.write.mode("append").parquet(path)


def overwrite(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a table that may not exist yet (``results/`` or ``runs/``
    before the first run). The empty frame has zero partitions:
    ``createDataFrame([])`` parallelizes into one Python task per core, so
    even counting it paid a Python stage."""
    if exists(path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema=schema)


def delete_run(spark: SparkSession, path: str, run_id: str, schema: str) -> None:
    """S6 drop-namespace analog: remove one run's rows (Iceberg: DELETE FROM
    tbl WHERE run_id = ...). Parquet fallback rewrites the table."""
    if not exists(path):
        return
    remaining = spark.read.schema(schema).parquet(path).filter(
        # null-safe: `run_id != x` is NULL for NULL run_id, and filter()
        # drops NULL — rows belonging to NO run were silently destroyed
        # when deleting an unrelated run
        (F.col("run_id") != run_id) | F.col("run_id").isNull()
    )
    tmp = path.rstrip("/") + ".tmp"
    remaining.write.mode("overwrite").parquet(tmp)
    spark.read.schema(schema).parquet(tmp).write.mode("overwrite").parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_col: str,
    sort_col: str | None = None,
) -> None:
    """Write a bucketed (hash-clustered) managed table — the co-located-join
    primitive: two tables bucketed on the same key with the same bucket
    count equi-join WITHOUT a shuffle on either side (Iceberg analog:
    ``bucket(N, col)`` partition transform + storage-partitioned joins).

    At 100 TB this is how the documents table and its derived page/dedup
    tables stay join-aligned across repeated pipeline stages."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a previous session's orphaned location blocks managed-table creation
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    local = warehouse.removeprefix("file:")
    if local.startswith("/"):
        import shutil

        shutil.rmtree(os.path.join(local, table.lower()), ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)


def exists(path: str) -> bool:
    """Whether a table has been written at ``path`` (Iceberg: the catalog's
    ``tableExists``). Non-local paths are assumed to exist."""
    if "://" in path:  # non-local FS: let spark try
        return True
    return os.path.exists(path) and any(
        name.endswith(".parquet") or name == "_SUCCESS"
        for name in os.listdir(path)
    )


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction — the Iceberg ``rewrite_data_files`` analog for
    the parquet-path seam: a long-running ingest leaves thousands of
    KB-sized files whose per-file open/footer costs dominate scans at
    scale. Rewrites the table into ``ceil(total_bytes / target)`` files and
    returns the new file count.

    Crash-safety contract (directory swaps are NOT atomic): the write goes
    to .compact-tmp first, the live dir moves aside to .compact-old, the
    tmp moves in, the old drops. A crash between the two moves leaves the
    table only in .compact-old — the NEXT compact (or any caller invoking
    this) RECOVERS it before doing anything else, and a stale
    .compact-old/.compact-tmp from an earlier crash is cleared rather than
    nesting the live table inside it (which a bare shutil.move would do,
    followed by rmtree deleting real data)."""
    import math
    import os
    import shutil

    old = path.rstrip("/") + ".compact-old"
    tmp = path.rstrip("/") + ".compact-tmp"
    if os.path.exists(old) and not os.path.exists(path):
        shutil.move(old, path)  # recover a crash between the two swaps
    elif os.path.exists(old):
        shutil.rmtree(old)  # stale copy from a crash after the second swap
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # incomplete rewrite from an earlier crash

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    return n_files
