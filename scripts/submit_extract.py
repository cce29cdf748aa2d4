#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline (north rule: "run via
spark-submit --py-files on multi-executor clusters").

    spark-submit --py-files gnosis_ocr_spark.zip scripts/submit_extract.py \
        --input  /data/documents_parquet \
        --output /data/extract_out \
        --run-id run-2026-08-16 \
        [--engine stub|nanonets] [--resume/--no-resume] [--raster dpi150]

spark-submit's --master is the master URL the job runs on (yarn, spark://,
local-cluster[...], local[N]); without one it runs on local[*]. The job is
resumable: re-submitting with the same --output anti-joins the urls of the
committed runs (results/ joined with runs/) and processes only the rest
(plans/run.py).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents table (parquet/Iceberg path)")
    ap.add_argument("--output", required=True, help="output dir (results/, runs/)")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--engine", default="stub", choices=["stub", "nanonets"])
    ap.add_argument("--raster", default=None, help="page raster: WxH or dpi150")
    ap.add_argument("--resume", action=argparse.BooleanOptionalAction, default=True)
    args = ap.parse_args()

    from gnosis_ocr_spark.plans.run import run_extraction
    from gnosis_ocr_spark.session import get_spark
    from gnosis_ocr_spark.sources.tables import read_documents

    spark = get_spark(app_name=f"gnosis-extract-{args.run_id}")
    docs = read_documents(spark, args.input)
    stats = run_extraction(
        spark,
        docs,
        args.output,
        run_id=args.run_id,
        ocr_engine=args.engine,
        resume=args.resume,
        raster=args.raster,
    )
    print(f"run {args.run_id}: {stats}")
    spark.stop()


if __name__ == "__main__":
    main()
