"""The spark-submit entry point end to end: ``scripts/submit_extract.py``
launched by the pyspark package's own ``bin/spark-submit``, with the
package shipped as a ``--py-files`` zip, the way a cluster job runs it."""

from __future__ import annotations

import json
import subprocess
import zipfile
from pathlib import Path

import pyspark

from gnosis_ocr_spark.corpus import corpus_df, golden_df
from gnosis_ocr_spark.plans.run import canonical_results

ROOT = Path(__file__).resolve().parents[1]
SPARK_SUBMIT = Path(pyspark.__file__).parent / "bin" / "spark-submit"
N = 24


def _package_zip(path: Path) -> Path:
    with zipfile.ZipFile(path, "w") as zf:
        for f in sorted((ROOT / "gnosis_ocr_spark").rglob("*.py")):
            zf.write(f, f.relative_to(ROOT).as_posix())
    return path


def _event_log_master(log_dir: Path) -> str:
    """``spark.master`` as the application's event log recorded it."""
    [log] = log_dir.iterdir()
    for line in log.read_text().splitlines():
        event = json.loads(line)
        if event["Event"] == "SparkListenerEnvironmentUpdate":
            return event["Spark Properties"]["spark.master"]
    raise AssertionError(f"no environment update in {log}")


def test_submit_extract_keeps_spark_submit_master(spark, tmp_path):
    docs, out, events = (tmp_path / d for d in ("docs", "out", "events"))
    corpus_df(spark, n=N, num_partitions=2).write.parquet(str(docs))
    events.mkdir()
    proc = subprocess.run(
        [
            str(SPARK_SUBMIT),
            "--master", "local[2]",
            "--driver-memory", "1g",
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--py-files", str(_package_zip(tmp_path / "gnosis_ocr_spark.zip")),
            str(ROOT / "scripts" / "submit_extract.py"),
            "--input", str(docs),
            "--output", str(out),
            "--run-id", "submit-1",
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    assert _event_log_master(events) == "local[2]"

    assert spark.read.parquet(str(out / "results")).count() == N  # no duplicate url
    got = canonical_results(spark, str(out)).select("url", "extracted_text", "n_pages")
    want = golden_df(spark, n=N)
    assert sorted(got.collect(), key=lambda r: r.url) == sorted(
        want.collect(), key=lambda r: r.url
    )
