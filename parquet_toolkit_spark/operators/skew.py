"""Skew-aware aggregation: salting for hot keys (north rule: 'salting for
skewed repos') + AQE as the runtime backstop.

Range layout (plan_layout) doesn't need salting — its driver-picked
(repo, path) bounds split the mega-repo by path (layout.range_split). Hash
aggregations DO: groupBy(repo) sends repo0's ~30% of rows to one reducer.
salted_agg does the classic two-stage rewrite:

    stage 1: groupBy(repo, salt)  — partial aggregate, hot key spread over
             `buckets` reducers (salt = pmod(hash(path...), buckets))
    stage 2: groupBy(repo)        — combine tiny partials

Works for any algebraic aggregate (count/sum/min/max); averages via
sum+count at stage 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, salt_from: list[str], buckets: int = 16,
              col_name: str = "_salt") -> DataFrame:
    return df.withColumn(
        col_name, F.pmod(F.hash(*[F.col(c) for c in salt_from]), F.lit(buckets))
    )


def salted_agg(df: DataFrame, key: str, aggs: dict[str, tuple[str, str]],
               salt_from: list[str], buckets: int = 16) -> DataFrame:
    """Two-stage skew-safe aggregation.

    aggs: {out_name: (fn, col)} with fn in {count,sum,min,max}.
    """
    stage1_exprs, stage2_exprs = [], []
    for out, (fn, col) in aggs.items():
        p = f"_p_{out}"
        if fn == "count":
            stage1_exprs.append(F.count(col if col != "*" else F.lit(1)).alias(p))
            stage2_exprs.append(F.sum(p).alias(out))
        elif fn == "sum":
            stage1_exprs.append(F.sum(col).alias(p))
            stage2_exprs.append(F.sum(p).alias(out))
        elif fn == "min":
            stage1_exprs.append(F.min(col).alias(p))
            stage2_exprs.append(F.min(p).alias(out))
        elif fn == "max":
            stage1_exprs.append(F.max(col).alias(p))
            stage2_exprs.append(F.max(p).alias(out))
        else:
            raise ValueError(f"unsupported agg fn {fn}")
    salted = with_salt(df, salt_from, buckets)
    partial = salted.groupBy(key, "_salt").agg(*stage1_exprs)
    return partial.groupBy(key).agg(*stage2_exprs)
