#!/usr/bin/env python
"""Extra benchmarks for the optimization rounds (guide §1.4 noop isolation).

NOT the driver-facing bench (bench.py is frozen): this harness times the
same query bodies with a finer breakdown so optimization work can see
where each wall goes:

  build_s   — calling the query builder (includes any EAGER work the body
              does: fixture writes, streaming runs, encode jobs)
  exec_s    — the noop-sink execution of the returned DataFrame
  total_s   — build_s + exec_s (comparable to bench.py's per-query number)

Usage:
  python bench_extra.py                    # all bench queries, 1 round
  python bench_extra.py q1 q2 ...          # subset
  SPARK_GRAFT_ROUNDS=3 python bench_extra.py q1   # repeat, report each

Optionally captures .explain("formatted") per query into plans/r07/ when
SPARK_GRAFT_PLANS=before|after is set.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parquet_toolkit_spark.runtime import spark_builder_defaults, tune_malloc

tune_malloc()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ROUNDS = int(os.environ.get("SPARK_GRAFT_ROUNDS", "1"))
PLANS = os.environ.get("SPARK_GRAFT_PLANS", "")


def main() -> None:
    from pyspark.sql import SparkSession

    import bench as benchmod
    import __spark_entry__ as entrymod

    spark = (
        spark_builder_defaults(
            SparkSession.builder.master(f"local[{CPUS}]").appName("ptsk_bx"),
            shuffle_partitions=CPUS,
        )
        .config("spark.driver.memory", "10g")
        .config("spark.driver.extraJavaOptions", "-Xms10g -XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = {**entrymod.queries(), **entrymod.extra_queries(),
          "scrub_pii": benchmod._q_scrub_pii}
    names = [a for a in sys.argv[1:] if a in qs]
    if not names:
        names = [n for n in benchmod.BENCH_QUERIES
                 if n not in ("layout_corpus", "encode_corpus")]

    # same untimed warm pass as bench.py (fixture writes + worker pool)
    import pandas as pd  # noqa: F401

    def _noop(it):
        import pandas as pd
        for _ in it:
            pass
        yield pd.DataFrame({"x": [1]})

    spark.range(CPUS * 4).repartition(CPUS * 2).mapInPandas(_noop, "x long").count()
    warm = [n for n in benchmod.WARM_QUERIES
            if n in names or not sys.argv[1:]]
    for name in warm:
        qs[name](spark, SF_DIR)
    if "merge_compact" in names or not sys.argv[1:]:
        qs["merge_compact"](spark, SF_DIR)
    if "ptsc_scan" in names or not sys.argv[1:]:
        qs["ptsc_scan"](spark, SF_DIR).limit(1).count()
    if "iceberg_fs_scan" in names or not sys.argv[1:]:
        qs["iceberg_fs_scan"](spark, SF_DIR).limit(1).count()
    os.sync()

    plan_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "plans", "r07")
    if PLANS:
        os.makedirs(plan_dir, exist_ok=True)

    out: dict[str, list[dict]] = {}
    for r in range(ROUNDS):
        for name in names:
            spark.sparkContext.setJobDescription(f"bx:{name}")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            rec = {"build_s": round(t1 - t0, 3), "exec_s": round(t2 - t1, 3),
                   "total_s": round(t2 - t0, 3)}
            out.setdefault(name, []).append(rec)
            print(f"[{r}] {name:28s} build {rec['build_s']:7.3f}  "
                  f"exec {rec['exec_s']:7.3f}  total {rec['total_s']:7.3f}",
                  flush=True)
            if PLANS and r == 0:
                with open(os.path.join(plan_dir, f"{name}_{PLANS}.txt"),
                          "w") as fh:
                    fh.write(df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution
                        .ExplainMode.fromString("formatted")))
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({n: v for n, v in out.items()}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
