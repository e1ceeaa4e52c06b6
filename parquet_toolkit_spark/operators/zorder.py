"""Z-order (Morton) multi-column clustering for the layout stage.

A single-key sort gives tight zone maps on that key only: at 100 TB a
predicate on any OTHER column admits every pid and the scan is full.
Morton-interleaving per-column quantile ranks makes each range partition
cover a small hyper-rectangle of the clustered space, so the per-pid
min/max zone maps become selective on EVERY cluster column at once.
Public technique (Morton 1966); Delta Lake's OPTIMIZE ZORDER BY and
Iceberg's z-order sort use the same construction.

Scale notes:
- The whole key is a Catalyst Column expression, no python in the hot
  path: each column's rank is layout.range_pid against its bounds (a
  codegen'd binary search, O(bits) comparisons per row), and a literal
  spread table turns each rank into its Morton bits, so every rank is
  evaluated once per row.
- Driver state is the bounds only: <= 2^bits - 1 values per column,
  quantiles of layout.key_sample (the footers' row groups, else one
  seeded sample job) — O(1) in table size.
- The rows move through layout.range_split on the Morton key, whose
  bounds come from one seeded sample of that key: one input gives the
  same partitions in any session.
- Quantile (not uniform-width) buckets keep ranks balanced under skew:
  a mega-repo that owns half the rows still spreads over half the rank
  space instead of one bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: cluster-key column injected/dropped by plan_layout
ZCLUSTER_COL = "__zcluster"


def _rank_bounds(df: DataFrame, cols: tuple[str, ...], bits: int,
                 footers: list, n_rows: int | None) -> dict[str, list]:
    """Per-column rank bounds: the distinct 2^bits-quantiles (as 1-tuples,
    range_pid's bound shape) of the column's non-null, non-NaN sampled
    values. A column with no such value gets no bound (every row rank 0).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from parquet_toolkit_spark.operators.layout import key_sample, range_bounds

    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits < 1 or bits * len(cols) > 62:
        raise ValueError(
            f"bits * len(cols) = {bits * len(cols)} exceeds the 62-bit "
            f"Morton budget (bits={bits}, cols={len(cols)})")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"cluster columns not in dataframe: {missing}")
    sample, weights = key_sample(df, list(cols), footers, n_rows)
    out = {}
    for c in cols:
        col = sample.column(c)
        keep = pc.is_valid(col)
        if pa.types.is_floating(col.type):
            keep = pc.fill_null(pc.invert(pc.is_nan(col)), False)
        mask = keep.to_numpy(zero_copy_only=False).astype(bool)
        bounds = range_bounds(sample.select([c]).filter(keep), weights[mask],
                              1 << bits)
        out[c] = list(dict.fromkeys(bounds))
    return out


def _morton(df: DataFrame, cols: tuple[str, ...], bits: int,
            bounds: dict[str, list]) -> Column:
    """The Morton key of the columns' ranks: bit j of column i's rank
    lands at bit j*k + (k-1-i), so the first column is the most
    significant. spread[r] places bit j of r at bit j*k; looking a rank
    up in it keeps each rank once in the expression. A rank is at most
    the column's bound count, so the table stops there."""
    from parquet_toolkit_spark.operators.layout import range_pid

    k = len(cols)
    spread = F.expr("array({})".format(", ".join(
        "{}L".format(sum(((r >> j) & 1) << (j * k) for j in range(bits)))
        for r in range(1 + max(map(len, bounds.values()))))))
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        if bounds[c]:
            rank = range_pid(df, [c], bounds[c])
            z = z.bitwiseOR(F.shiftleft(F.element_at(spread, rank + 1),
                                        k - 1 - i))
    return z


def zorder_key(df: DataFrame, cols: tuple[str, ...], bits: int = 8,
               total_rows: int | None = None) -> Column:
    """Morton key Column over `cols`: interleaves the per-column
    quantile ranks bit by bit (most-significant first), giving a long
    whose range partitions are hyper-rectangles in the clustered space.
    `total_rows`, when known, spares the fallback sample its count.

    bits * len(cols) must fit a signed long (<= 62)."""
    from parquet_toolkit_spark.operators.layout import input_footers

    cols = tuple(cols)
    return _morton(df, cols, bits,
                   _rank_bounds(df, cols, bits, input_footers(df), total_rows))


def zorder_split(df: DataFrame, cols: tuple[str, ...], bits: int, n: int,
                 footers: list, n_rows: int | None) -> DataFrame:
    """`df` plus its Morton key column ZCLUSTER_COL, range-split into n
    partitions on that key (layout.range_split). The column ranks come
    from `footers` (the input's, from input_footers); the Morton key is
    no file column, so its bounds come from range_split's seeded sample.
    Callers sort within partitions and drop ZCLUSTER_COL."""
    from parquet_toolkit_spark.operators.layout import range_split

    if ZCLUSTER_COL in df.columns:
        raise ValueError(f"input already has a {ZCLUSTER_COL} column")
    zk = _morton(df, cols, bits, _rank_bounds(df, cols, bits, footers, n_rows))
    return range_split(df.withColumn(ZCLUSTER_COL, zk), [ZCLUSTER_COL], n,
                       footers, n_rows)
