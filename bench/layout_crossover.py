#!/usr/bin/env python
"""layout_stage's crossover: the in-process (pyarrow) path against the
Spark path on the F0 corpus at several sizes.

    python3 bench/layout_crossover.py --rows 30000 60000 120000 \
        --calls 5 --workdir /tmp/ptsk_crossover

For each size: the corpus in 64 files (datagen.write_corpus, seed 1),
laid out as rows/3750 pids (the benchmark's 3 750 rows per pid), timed
on both paths with encode._ARROW_LAYOUT_BYTES set past the input or to
0, in interleaved calls after one warm call of each. The Python
process's RSS is sampled every 2 ms during each in-process call, the
warm one included; its growth is the peak over the RSS before the call.
Memory an earlier size left with the allocator hides growth, so run one
size per process for the RSS column. Prints one line per
size: rows, the footers' decoded-bytes estimate, each path's median ms
and the largest RSS growth, in MB and as a multiple of the estimate.
One local[4] session with a 3 GB driver, as the benchmark runs.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import threading
import time


def rss_bytes() -> int:
    with open("/proc/self/statm") as fh:
        return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def peak_growth(call) -> int:
    """call(), and the largest RSS over the RSS before it, sampled."""
    base = rss_bytes()
    peak, done = [base], threading.Event()

    def sample():
        while not done.is_set():
            peak[0] = max(peak[0], rss_bytes())
            time.sleep(0.002)

    t = threading.Thread(target=sample)
    t.start()
    try:
        call()
    finally:
        done.set()
        t.join()
    return max(peak[0], rss_bytes()) - base


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, nargs="+", required=True)
    ap.add_argument("--calls", type=int, default=5)
    ap.add_argument("--workdir", required=True)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from parquet_toolkit_spark.runtime import (
        spark_builder_defaults,
        tune_malloc,
    )

    tune_malloc()
    from pyspark.sql import SparkSession

    from parquet_toolkit_spark.datagen import write_corpus
    from parquet_toolkit_spark.operators import encode
    from parquet_toolkit_spark.operators.layout import (
        _footer_decoded_bytes_per_row,
        input_footers,
    )

    spark = (spark_builder_defaults(SparkSession.builder.master("local[4]"))
             .config("spark.driver.memory", "3g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    print("rows decoded_MB spark_ms in_process_ms rss_growth_MB "
          "rss_growth_x", flush=True)
    for rows in args.rows:
        src = write_corpus(os.path.join(args.workdir, f"f0_{rows}"), rows,
                           n_files=64, seed=1)
        metas = [md for _f, md in input_footers(spark.read.parquet(src))]
        decoded = _footer_decoded_bytes_per_row(metas) * sum(
            md.num_rows for md in metas)
        stage = os.path.join(args.workdir, "stage")
        walls = {"spark": [], "arrow": []}
        growth = []
        for i in range(args.calls + 1):
            for path, limit in (("spark", 0), ("arrow", 1 << 62)):
                encode._ARROW_LAYOUT_BYTES = limit
                t0 = time.perf_counter()

                def call():
                    encode.layout_stage(spark, spark.read.parquet(src), stage,
                                        n_partitions=max(1, rows // 3750))
                if path == "arrow":
                    growth.append(peak_growth(call))
                else:
                    call()
                if i:  # the first call of each path warms it
                    walls[path].append(time.perf_counter() - t0)
        print(rows, round(decoded / 1e6, 1),
              round(statistics.median(walls["spark"]) * 1e3),
              round(statistics.median(walls["arrow"]) * 1e3),
              round(max(growth) / 1e6), round(max(growth) / decoded, 2),
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
