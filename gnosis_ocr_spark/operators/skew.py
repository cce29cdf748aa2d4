"""North-rule skew handling: salted repartition on document byte-size buckets.

UDF cost in this pipeline is proportional to document size/page count, not row
count — one 200-page PDF costs ~200× a 1-page doc, so hash partitioning on
url alone leaves straggler partitions (the reference bounds the same problem
with 10-page continuation jobs, /root/reference/app/jobs.py:378).

Strategy: bucket = floor(log2(byte_length)) groups similar-cost documents;
a deterministic salt (crc32(url) % salt_factor) spreads each bucket across
the cluster. Deterministic (no rand()) so retried/resumed runs place rows
identically — required for idempotent re-execution. At 100 TB this is the
difference between a 1000-executor stage finishing together and one executor
grinding on the giant-PDF bucket.

Width: the caller's ``num_partitions``, else ``sparkContext.defaultParallelism``
(``spark.default.parallelism``: the cluster's cores unless set). The count is
always explicit because the shuffled bytes are tiny next to the work they
carry — a count left to ``spark.sql.shuffle.partitions`` is coalesced by AQE
to a single task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def size_bucket_col(html_col: str = "html"):
    return F.floor(
        F.log2(F.greatest(F.length(F.col(html_col)).cast("double"), F.lit(1.0)))
    ).alias("size_bucket")


def salted_repartition(
    df: DataFrame,
    num_partitions: int | None = None,
    html_col: str = "html",
    url_col: str = "url",
    salt_factor: int | None = None,
) -> DataFrame:
    # salt cardinality must be ≥ the partition count, or a hot size bucket
    # (the giant-PDF bucket) can only reach salt_factor partitions
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    salt_factor = salt_factor or max(64, 4 * n)
    bucket = size_bucket_col(html_col)
    salt = (F.crc32(F.col(url_col).cast("string")) % salt_factor).alias("salt")
    return df.repartition(n, bucket, salt)
