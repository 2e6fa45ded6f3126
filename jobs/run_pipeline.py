#!/usr/bin/env python
"""spark-submit entry point for the dedup pipeline.

  spark-submit --py-files dist/dedupe_rust_spark.zip jobs/run_pipeline.py \
      --pages /data/pages_parquet_dir --output /data/out --run-id R42 \
      [--exclude-host mirror.example.org ...] [--use-golden-text]

On a multi-executor cluster pass the usual --master/--num-executors confs;
the pipeline code is identical (partitioning scales with
sc.defaultParallelism). Resumable: rerunning with the same --run-id skips
stages whose checkpoint directories already have _SUCCESS.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow `spark-submit jobs/run_pipeline.py` straight from a repo checkout
# (driver side; executors get the package via --py-files on a real cluster)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="dir containing pages.parquet (or the file itself)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--exclude-host", action="append", default=[])
    ap.add_argument("--use-golden-text", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from dedupe_rust_spark.plans.pipeline import DedupPipeline, PipelineConfig

    spark = SparkSession.builder.appName("dedupe_pipeline").getOrCreate()
    cfg = PipelineConfig(exclude_hosts=args.exclude_host,
                         use_golden_text=args.use_golden_text)
    pipe = DedupPipeline(spark, args.pages, out_dir=args.output,
                         run_id=args.run_id, config=cfg)
    clusters = pipe.run()
    n = clusters.count()
    summary = {
        "run_id": pipe.run_id,
        "clustered_urls": n,
        "stages": [m for m in pipe.stage_metrics
                   if not m["stage"].endswith(".partition")],
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
