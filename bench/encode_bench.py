#!/usr/bin/env python
"""spark-submit entry for the scaling protocol (BASELINE.md §B).

    spark-submit --master local[N] --py-files dist/parquet_toolkit_spark.zip \
        bench/encode_bench.py --staging DIR --out DIR --runs 3

Encodes the staged corpus `--runs` times (resume off, fresh output each
run) and prints one JSON line: {"cores": N, "walls": [...], "gb": G,
"gbps_median": ...}.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--staging", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--warmup", type=int, default=1,
                    help="unmeasured runs first (python workers import + "
                         "fault their heaps once; steady state is what a "
                         "long-running cluster job sees)")
    ap.add_argument("--cores", type=int, default=0)
    ap.add_argument("--no-prefetch", action="store_true",
                    help="disable the per-task 1-deep read-ahead thread so "
                         "each task is exactly one thread — required on "
                         "BOTH legs of the scaling protocol so threads-"
                         "per-task is constant across parallelism levels")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from parquet_toolkit_spark.runtime import spark_builder_defaults, tune_malloc

    tune_malloc()
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    if args.cores:
        builder = builder.master(f"local[{args.cores}]")
    spark = (
        spark_builder_defaults(builder, shuffle_partitions=args.cores or None)
        .config("spark.driver.memory", "10g")
        .config("spark.driver.extraJavaOptions", "-Xms10g -XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = int(spark.sparkContext.defaultParallelism)

    from parquet_toolkit_spark.operators.encode import encode_partitions

    # layout_stage writes part-NNNNN files in the staging root
    staged_bytes = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(args.staging, "part-*"))
        if os.path.isfile(f)
    )

    walls = []
    man = None
    for i in range(args.warmup + args.runs):
        shutil.rmtree(args.out, ignore_errors=True)
        os.sync()  # previous run's writeback stays outside the timed region
        t0 = time.time()
        man = encode_partitions(spark, args.staging, args.out,
                                run_id=f"scale{i}", resume=False,
                                concurrency=cores,
                                prefetch=not args.no_prefetch)
        if i >= args.warmup:
            walls.append(round(time.time() - t0, 2))
    from pyspark.sql import functions as F

    row = man.agg(F.sum("bytes_in")).first()
    gb = (row[0] or 0) / 1e9
    med = statistics.median(walls)
    # min = capability under this host's externally-imposed memory-path
    # weather (identical work swings 2-3x between multi-minute windows);
    # the full wall list is always published next to both summaries
    mn = min(walls)
    print(json.dumps({
        "cores": cores,
        "prefetch": not args.no_prefetch,
        "walls": walls,
        "gb_in": round(gb, 3),
        "staged_gb": round(staged_bytes / 1e9, 3),
        "wall_median": med,
        "gbps_median": round(gb / med, 4),
        "wall_min": mn,
        "gbps_min": round(gb / mn, 4),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
