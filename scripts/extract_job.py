"""Standalone extraction job for spark-submit (the N->4N scaling check).

    python scripts/make_pyfiles.py
    spark-submit --master local[N] --py-files dist/engine.zip \
        scripts/extract_job.py --sf-dir /root/testdata/sf0.1 --replicate 256

Times ONLY the steady-state pipeline (synth -> latest-crawl dedup ->
extraction kernel -> count) after a small untimed warmup that absorbs
JVM/Python-worker startup, and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import time

PARTITIONS_PER_CORE = 3


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--replicate", type=int, default=256)
    ap.add_argument(
        "--total-cores", type=int, default=0,
        help="override cluster core count (defaultParallelism is "
        "unreliable in local-cluster mode before executors register)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("extract-job")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # same rationale as sources/readers.get_spark: AQE's byte-based
        # coalescing starves the per-row-CPU Python kernel stage of
        # partitions (16 of 32 cores busy at sf0.1) — keep a low floor
        # so parallelismFirst fills every core.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = args.total_cores or spark.sparkContext.defaultParallelism

    from text_extraction_evaluation_spark.operators.extract import (
        extract_pages,
        extracted_clean,
        latest_crawl,
    )
    from text_extraction_evaluation_spark.sources.readers import pages_df

    n_parts = max(cores * PARTITIONS_PER_CORE, 8)
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))

    # untimed warmup: spins up Python workers + codegen on 1 replica
    warm = pages_df(spark, args.sf_dir, n_partitions=n_parts, replicate=1)
    extracted_clean(extract_pages(latest_crawl(warm))).count()

    pages = pages_df(
        spark, args.sf_dir, n_partitions=n_parts, replicate=args.replicate
    )
    pipeline = extracted_clean(extract_pages(latest_crawl(pages)))
    t0 = time.time()
    n_docs = pipeline.count()
    wall = time.time() - t0

    print(
        json.dumps(
            {
                "cores": cores,
                "n_docs": n_docs,
                "wall_sec": round(wall, 3),
                "docs_per_sec": round(n_docs / wall, 1),
                "replicate": args.replicate,
                "sf_dir": args.sf_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
