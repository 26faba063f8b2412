#!/usr/bin/env python
"""spark-submit entry point for the webtext quality pipeline.

Deployment shape (multi-executor cluster, see DEPLOY.md)::

    zip -r hooqu_spark.zip hooqu_spark
    spark-submit --py-files hooqu_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        scripts/run_pipeline.py \
        --input s3://bucket/pages/ --work-dir s3://bucket/dq-work \
        --output s3://bucket/kept/ --run-id 2026-08-17 --buckets 4096

Local smoke (same code path)::

    spark-submit --master 'local[8]' scripts/run_pipeline.py \
        --synthesize 5000 --work-dir /tmp/dqwork --run-id smoke

Resume semantics: re-running with the same --work-dir and --run-id
processes only buckets absent from the committed state log.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="parquet path of pages (input_hint schema)")
    p.add_argument(
        "--synthesize",
        type=int,
        default=0,
        help="synthesize N deterministic pages instead of reading --input",
    )
    p.add_argument("--work-dir", required=True,
                   help="checkpoint/state root (local, HDFS or s3a)")
    p.add_argument("--output", help="optional parquet sink for kept docs")
    p.add_argument("--run-id", default="run",
                   help="names the run's state log directory: no path "
                        "separators, not '.' or '..'")
    p.add_argument("--buckets", type=int, default=64,
                   help="url-hash bucket count (resume + skew granularity)")
    p.add_argument("--no-resume", action="store_true",
                   help="delete the run id's committed states and "
                        "recompute every checkpointed bucket")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName(f"webtext-quality-{args.run_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from hooqu_spark.analyzers import Compliance, Size
    from hooqu_spark.pipeline import run_pipeline, synthesize

    if args.synthesize:
        pages = synthesize(spark, args.synthesize)
    elif args.input:
        # path -> parquet; bare identifier -> catalog table (Iceberg
        # when the catalog is configured; see DEPLOY.md)
        from hooqu_spark.sources import read_pages

        pages = read_pages(spark, args.input)
    else:
        p.error("one of --input or --synthesize is required")

    result = run_pipeline(
        spark,
        pages,
        work_dir=args.work_dir,
        run_id=args.run_id,
        n_buckets=args.buckets,
        resume=not args.no_resume,
    )

    if args.output:
        result.kept.write.mode("overwrite").parquet(args.output)

    # counts from the merged lineage states: no scan of the checkpoint
    n_total = int(result.metrics[Size()].value.get())
    keep_rate = result.metrics[Compliance("keep_rate", "keep == true")].value
    # keep_rate is kept/total as a double, so this rounds back exactly
    n_kept = round(keep_rate.get() * n_total) if n_total else 0
    summary = {
        "run_id": args.run_id,
        "status": result.verification.status.name,
        "docs_total": n_total,
        "docs_kept": n_kept,
        "keep_rate": round(n_kept / n_total, 4) if n_total else None,
        "processed_buckets": len(result.processed_buckets),
        "resumed_buckets": len(result.resumed_buckets),
    }
    print(json.dumps(summary))
    return 0 if result.verification.status.name != "ERROR" else 1


if __name__ == "__main__":
    sys.exit(main())
