"""Z-order (Morton) multi-column clustering for the layout stage.

A single-key sort gives tight zone maps on that key only: at 100 TB a
predicate on any OTHER column admits every pid and the scan is full.
Morton-interleaving per-column quantile ranks makes each range partition
cover a small hyper-rectangle of the clustered space, so the per-pid
min/max zone maps become selective on EVERY cluster column at once.
Public technique (Morton 1966); Delta Lake's OPTIMIZE ZORDER BY and
Iceberg's z-order sort use the same construction.

Scale notes:
- The whole key is a Catalyst Column expression: rank lookup is one
  `F.aggregate` over a literal boundary array (O(2^bits) integer adds
  per row, JVM-side, no python in the hot path); the bit interleave is
  a shiftleft/bitwiseOR chain. No extra shuffle beyond the range
  shuffle on the Morton key that plan_layout does.
- Driver state is the sampled boundaries only: <= (2^bits - 1) values
  per column from one bounded, seeded sample job — O(1) in table size.
  The range shuffle on the Morton key still samples with Spark's
  RangePartitioner; the plain range layout (layout.range_split) does
  not.
- Quantile (not uniform-width) buckets keep ranks balanced under skew:
  a mega-repo that owns half the rows still spreads over half the rank
  space instead of one bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: cluster-key column injected/dropped by plan_layout
ZCLUSTER_COL = "__zcluster"

_SAMPLE_ROWS = 20_000


def _sample_boundaries(df: DataFrame, cols: tuple[str, ...], bits: int,
                       sample_rows: int = _SAMPLE_ROWS,
                       total_rows: int | None = None,
                       seed: int = 7) -> dict[str, list]:
    """Per-column quantile boundaries (<= 2**bits - 1 each) from one
    bounded sample job. NULLs are excluded (they rank as bucket 0);
    constant columns yield an empty list (every row bucket 0)."""
    n = total_rows if total_rows is not None else df.count()
    if n == 0:
        return {c: [] for c in cols}
    frac = min(1.0, (sample_rows * 1.3) / n)
    sample = [r.asDict() for r in
              df.select(*cols).sample(False, frac, seed)
              .limit(sample_rows).collect()]
    if not sample:  # tiny input + unlucky sample: take the head
        sample = [r.asDict() for r in
                  df.select(*cols).limit(sample_rows).collect()]
    nbuckets = 1 << bits
    out: dict[str, list] = {}
    for c in cols:
        vals = sorted(v for r in sample
                      if (v := r[c]) is not None and v == v)  # drop null/NaN
        if not vals:
            out[c] = []
            continue
        bounds = []
        for i in range(1, nbuckets):
            q = vals[min(len(vals) - 1, (i * len(vals)) // nbuckets)]
            if not bounds or q > bounds[-1]:
                bounds.append(q)
        # a boundary equal to the max puts nothing above it; harmless
        out[c] = bounds
    return out


def _bucket_expr(col: Column, bounds: list) -> Column:
    """Quantile rank of `col` against sorted `bounds`: the count of
    boundaries strictly below the value. NULL ranks 0 (lowest corner);
    Spark's total order puts NaN above every boundary (top bucket) —
    either corner is fine, layout quality only, never correctness."""
    if not bounds:
        return F.lit(0).cast("int")
    rank = F.aggregate(
        F.lit(bounds), F.lit(0),
        lambda acc, b: acc + F.when(col > b, 1).otherwise(0),
    )
    return F.when(col.isNull(), F.lit(0)).otherwise(rank).cast("int")


def zorder_key(df: DataFrame, cols: tuple[str, ...], bits: int = 8,
               sample_rows: int = _SAMPLE_ROWS,
               total_rows: int | None = None) -> Column:
    """Morton key Column over `cols`: interleaves the per-column
    quantile ranks bit by bit (most-significant first), giving a long
    whose range partitions are hyper-rectangles in the clustered space.

    bits * len(cols) must fit a signed long (<= 62)."""
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits < 1 or bits * len(cols) > 62:
        raise ValueError(
            f"bits * len(cols) = {bits * len(cols)} exceeds the 62-bit "
            f"Morton budget (bits={bits}, cols={len(cols)})")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"cluster columns not in dataframe: {missing}")
    bmap = _sample_boundaries(df, tuple(cols), bits, sample_rows,
                              total_rows)
    buckets = [_bucket_expr(F.col(c), bmap[c]).cast("long") for c in cols]
    z = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for b in buckets:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)))
    return z
