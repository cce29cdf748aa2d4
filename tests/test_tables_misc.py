"""S5/S6 delete_run (drop-namespace analog) and F7 manifest JSON."""

from __future__ import annotations

from pyspark.sql import functions as F

from gnosis_ocr_spark.functions.scalar import to_json_manifest
from gnosis_ocr_spark.plans.run import RESULTS_SCHEMA
from gnosis_ocr_spark.sources import tables


def test_delete_run_removes_only_that_run(spark, tmp_path):
    path = str(tmp_path / "results")
    rows = [
        ("u1", "t", 1, "html", "r1", 1.0, 0),
        ("u2", "t", 1, "html", "r1", 1.0, 0),
        ("u3", "t", 1, "html", "r2", 1.0, 1),
    ]
    df = spark.createDataFrame(rows, schema=RESULTS_SCHEMA)
    tables.overwrite(df, path)

    tables.delete_run(spark, path, "r1", RESULTS_SCHEMA)
    left = tables.read_or_empty(spark, path, RESULTS_SCHEMA)
    assert [r["url"] for r in left.collect()] == ["u3"]

    # deleting a missing run is a no-op, and deleting from a missing path too
    tables.delete_run(spark, path, "nope", RESULTS_SCHEMA)
    assert tables.read_or_empty(spark, path, RESULTS_SCHEMA).count() == 1
    tables.delete_run(spark, str(tmp_path / "absent"), "r1", RESULTS_SCHEMA)


def test_manifest_json_roundtrip(spark):
    df = spark.createDataFrame([("j1", "ocr")], "job_id string, job_type string")
    out = df.select(
        to_json_manifest(F.col("job_id"), F.col("job_type")).alias("j")
    ).collect()[0]["j"]
    assert out == '{"job_id":"j1","job_type":"ocr"}'
    back = (
        df.select(to_json_manifest(F.col("job_id"), F.col("job_type")).alias("j"))
        .select(F.from_json("j", "job_id string, job_type string").alias("s"))
        .collect()[0]["s"]
    )
    assert back["job_id"] == "j1" and back["job_type"] == "ocr"


def test_human_size_matches_reference_semantics(spark):
    """F11: first unit where the scaled value is < 1024, 2 decimals
    (reference app/config.py:98-104)."""
    from pyspark.sql import functions as F

    from gnosis_ocr_spark.functions.scalar import human_size

    def ref(size_bytes: float) -> str:  # the reference's loop, verbatim logic
        for unit in ["B", "KB", "MB", "GB"]:
            if size_bytes < 1024.0:
                return f"{size_bytes:.2f} {unit}"
            size_bytes /= 1024.0
        return f"{size_bytes:.2f} TB"

    vals = [0, 1, 512, 1023, 1024, 1536, 10_000, 1024**2 - 1, 5 * 1024**2,
            3 * 1024**3, 2 * 1024**4, 999 * 1024**4]
    df = spark.createDataFrame([(v,) for v in vals], schema="n long")
    got = {r["n"]: r["h"] for r in df.select("n", human_size("n").alias("h")).collect()}
    for v in vals:
        assert got[v] == ref(float(v)), (v, got[v], ref(float(v)))


def test_compact_rewrites_small_files_preserving_rows(spark, tmp_path):
    from gnosis_ocr_spark.sources import tables

    p = str(tmp_path / "frag")
    df = spark.range(0, 5000).withColumnRenamed("id", "v")
    df.repartition(64).write.parquet(p)  # 64 tiny files
    import glob
    assert len(glob.glob(p + "/*.parquet")) == 64
    n = tables.compact(spark, p, target_file_bytes=10**9)
    assert n == 1
    assert len(glob.glob(p + "/*.parquet")) == 1
    got = spark.read.parquet(p)
    assert got.count() == 5000
    assert got.agg({"v": "sum"}).collect()[0][0] == sum(range(5000))


def test_delete_run_preserves_null_run_rows(spark, tmp_path):
    from gnosis_ocr_spark.sources.tables import delete_run

    path = str(tmp_path / "t")
    schema = "run_id string, v int"
    spark.createDataFrame(
        [("r1", 1), (None, 2), ("r2", 3)], schema
    ).write.parquet(path)
    delete_run(spark, path, "r1", schema)
    got = {(r["run_id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(None, 2), ("r2", 3)}


def test_compact_recovers_from_crash_artifacts(spark, tmp_path):
    """A stale .compact-old (crash between the two swaps) is RECOVERED as
    the live table; a stale .compact-tmp is cleared — neither nests nor
    deletes real data."""
    import os
    import shutil

    from gnosis_ocr_spark.sources.tables import compact

    path = str(tmp_path / "t2")
    spark.range(100).write.parquet(path)
    # simulate a crash after `move(path, old)` and before `move(tmp, path)`
    shutil.move(path, path + ".compact-old")
    os.makedirs(path + ".compact-tmp")
    n = compact(spark, path)
    assert n >= 1
    got = spark.read.parquet(path).count()
    assert got == 100
    assert not os.path.exists(path + ".compact-old")
    assert not os.path.exists(path + ".compact-tmp")
