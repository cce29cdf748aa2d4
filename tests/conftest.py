from __future__ import annotations

import pytest

from gnosis_ocr_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="gnosis-ocr-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture
def persisted_rdd_ids(spark):
    """Callable returning the ids of the session's persisted RDDs — the
    registry the checkpoint-cleanup tests compare before and after a call."""
    jsc = spark.sparkContext._jsc

    def ids() -> set[int]:
        return {e.getKey() for e in jsc.getPersistentRDDs().entrySet().toArray()}

    return ids
