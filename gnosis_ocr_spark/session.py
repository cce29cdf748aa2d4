"""SparkSession factory with scale-minded defaults.

Defaults chosen for the 100 TB design point (AQE on, Arrow on, bounded Arrow
batches so large BINARY payloads don't blow Python-worker memory), while still
being correct on ``local[N]`` in tests.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batches carry whole PDF blobs (BinaryType); keep batches small so one
# batch of multi-MB documents fits comfortably in the Python worker
# (SURVEY.md §7 "hard parts" (2)).
ARROW_MAX_RECORDS = 64


def get_spark(
    app_name: str = "gnosis-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``master`` is the master URL to set (tests, the driver harness and bench
    runs pass ``local[N]``). With ``master=None`` the builder sets none, so
    the launcher's applies: ``spark-submit --master`` (yarn, ``spark://``,
    ``local-cluster[...]``), or spark-submit's own default ``local[*]`` for
    a plain ``python`` launch.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    conf = {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_MAX_RECORDS),
        # binary-heavy scans: keep input splits bounded so one partition's
        # documents fit executor memory at scale
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # saveAsTable (write_bucketed) lands under /tmp, not the cwd; the
        # catalog is in-memory and bucketing is on by default
        "spark.sql.warehouse.dir": "/tmp/gnosis_spark_warehouse",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
