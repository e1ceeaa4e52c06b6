"""Z-order clustering: multi-column zone-map pruning stays exact.

The claim under test is the 100 TB one: after cluster_keys=("a","b"),
a range predicate on EITHER column alone prunes pids (a single-key sort
prunes only on its leading key), and every pruned read equals the plain
filter — pruning is a sound superset, the residual keeps it exact."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from conftest import on_wide_lookup_path
from parquet_toolkit_spark.operators.encode import (
    decode_where,
    encode_pipeline,
    pids_matching_range,
    read_manifest,
)
from parquet_toolkit_spark.operators.zorder import zorder_key


def _events(spark, n=60_000):
    rows = [(i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i % 5000),
             (i * 7919) % 3000) for i in range(n)]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")


def test_zorder_prunes_both_dimensions_exactly(spark, tmp_path):
    df = _events(spark)
    enc = str(tmp_path / "zo")
    man = encode_pipeline(spark, df, enc, target_bytes=64 << 10,
                          run_id="zo", cluster_keys=("ts", "user_id"),
                          n_partitions=32)
    n_pids = man.select("pid").distinct().count()

    keep_u = pids_matching_range(spark, enc, "user_id", lo=100, hi=400)
    lo, hi = dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 2, 12)
    keep_t = pids_matching_range(spark, enc, "ts", lo=lo, hi=hi)
    # both NON-leading-key dimensions prune: the whole point of z-order
    assert 0 < len(keep_u) < n_pids
    assert 0 < len(keep_t) < n_pids

    got = {r.event_id for r in
           decode_where(spark, enc, {"user_id": (100, 400)},
                        columns=["event_id", "user_id"]).collect()}
    want = {r.event_id for r in
            df.where((F.col("user_id") >= 100)
                     & (F.col("user_id") <= 400)).collect()}
    assert got == want and got

    got2 = {r.event_id for r in
            decode_where(spark, enc,
                         {"ts": (lo, hi), "user_id": (100, 1500)},
                         columns=["event_id", "ts", "user_id"]).collect()}
    want2 = {r.event_id for r in
             df.where((F.col("ts") >= lo) & (F.col("ts") <= hi)
                      & (F.col("user_id") >= 100)
                      & (F.col("user_id") <= 1500)).collect()}
    assert got2 == want2 and got2


test_zorder_prunes_both_dimensions_exactly_wide = on_wide_lookup_path(
    test_zorder_prunes_both_dimensions_exactly)


def test_zorder_beats_single_key_layout_on_second_dim(spark, tmp_path):
    df = _events(spark)
    zo, sk = str(tmp_path / "zo"), str(tmp_path / "sk")
    encode_pipeline(spark, df, zo, target_bytes=64 << 10, run_id="zo",
                    cluster_keys=("ts", "user_id"), n_partitions=32)
    encode_pipeline(spark, df, sk, target_bytes=64 << 10, run_id="sk",
                    range_keys=("ts",), sort_keys=("ts",), n_partitions=32)
    keep_zo = pids_matching_range(spark, zo, "user_id", lo=100, hi=400)
    keep_sk = pids_matching_range(spark, sk, "user_id", lo=100, hi=400)
    # ts-sorted layout can't prune on user_id; z-order must do strictly
    # better (on this interleaved-uniform fixture, dramatically so)
    assert len(keep_zo) < len(keep_sk)
    assert len(keep_sk) == read_manifest(spark, sk) \
        .select("pid").distinct().count()


def test_zorder_null_and_skew_stay_exact(spark, tmp_path):
    # one mega-user owns half the rows (skew), 5% null user_ids
    rows = []
    for i in range(20_000):
        uid = 42 if i % 2 == 0 else (None if i % 20 == 1 else i % 500)
        rows.append((i, dt.datetime(2024, 1, 1)
                     + dt.timedelta(seconds=i * 13), uid))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")
    enc = str(tmp_path / "zo")
    encode_pipeline(spark, df, enc, target_bytes=32 << 10, run_id="zs",
                    cluster_keys=("ts", "user_id"), n_partitions=16)
    got = {r.event_id for r in
           decode_where(spark, enc, {"user_id": (100, 300)},
                        columns=["event_id", "user_id"]).collect()}
    want = {r.event_id for r in
            df.where((F.col("user_id") >= 100)
                     & (F.col("user_id") <= 300)).collect()}
    assert got == want and got
    # NULL user_ids survive a full decode (bucket 0 placement, not loss)
    full = decode_where(spark, enc, {"event_id": (0, 10**9)},
                        columns=["event_id", "user_id"])
    assert full.where(F.col("user_id").isNull()).count() == 1000


test_zorder_null_and_skew_stay_exact_wide = on_wide_lookup_path(
    test_zorder_null_and_skew_stay_exact)


def test_zorder_key_guards(spark):
    df = _events(spark, n=100)
    with pytest.raises(ValueError, match="62-bit"):
        zorder_key(df, ("ts", "user_id"), bits=32)
    with pytest.raises(ValueError, match="not in dataframe"):
        zorder_key(df, ("nope",))
    with pytest.raises(ValueError, match="at least one column"):
        zorder_key(df, ())


def test_zorder_key_is_jvm_side(spark):
    """The Morton key must be a pure Catalyst expression — no python
    UDF in the plan (BatchEvalPython/ArrowEvalPython nodes)."""
    df = _events(spark, n=2_000)
    zk = zorder_key(df, ("ts", "user_id"), bits=6, total_rows=2_000)
    plan = df.withColumn("z", zk)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def _py_rank(v, bounds):
    """#{bounds <= v}: null ranks 0, NaN above every bound."""
    import bisect

    if v is None:
        return 0
    if v != v:
        return len(bounds)
    return bisect.bisect_right(bounds, v)


def _py_interleave(ranks, bits):
    """Morton code of the ranks, one bit of each in turn, most
    significant first."""
    z = 0
    for bit in range(bits - 1, -1, -1):
        for r in ranks:
            z = (z << 1) | ((r >> bit) & 1)
    return z


def _plain(v):
    """A sampled bound as the value collect() gives (naive UTC
    timestamps in the UTC test session)."""
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def test_morton_key_equals_python_bit_interleave(spark, tmp_path):
    """The spread-table Morton key equals a bit-by-bit interleave of the
    same ranks, #{bounds <= value}, for bits 1-8 and 1-3 columns, on
    long, double (with NaN), timestamp and string columns with nulls."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.operators.layout import (
        input_footers,
        key_sample,
    )
    from parquet_toolkit_spark.operators.zorder import _morton, _rank_bounds

    rows = []
    for i in range(600):
        rows.append((
            None if i % 17 == 0 else (i * 7919) % 211 - 50,
            None if i % 13 == 0 else (float("nan") if i % 11 == 0
                                      else ((i * 31) % 97) / 7.0),
            None if i % 19 == 0 else (dt.datetime(2024, 1, 1)
                                      + dt.timedelta(hours=(i * 37) % 500)),
            None if i % 23 == 0 else f"s{(i * 13) % 150:03d}é"))
    src = str(tmp_path / "src.parquet")
    pq.write_table(pa.table({
        "l": pa.array([r[0] for r in rows], pa.int64()),
        "d": pa.array([r[1] for r in rows], pa.float64()),
        "t": pa.array([r[2] for r in rows], pa.timestamp("us", "UTC")),
        "s": pa.array([r[3] for r in rows], pa.string())}), src,
        row_group_size=150)
    df = spark.read.parquet(src)
    footers = input_footers(df)
    sc = spark.sparkContext
    try:  # the ranks come from the footers' row groups: no Spark job
        sc.setJobGroup("morton-footer-sample", "morton-footer-sample")
        key_sample(df, ["l", "d", "t", "s"], footers, None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not sc.statusTracker().getJobIdsForGroup("morton-footer-sample")
    names = ["l", "d", "t", "s"]
    for k in (1, 2, 3):
        for bits in range(1, 9):  # every type leads at every k
            cols = tuple((names * 2)[bits % 4:bits % 4 + k])
            bounds = _rank_bounds(df, cols, bits, footers, None)
            plain = {c: [_plain(b) for (b,) in bounds[c]] for c in cols}
            assert all(0 < len(b) < 1 << bits for b in plain.values())
            got = df.select(*cols, _morton(df, cols, bits, bounds)
                            .alias("z")).collect()
            assert len(got) == len(rows)
            for r in got:
                ranks = [_py_rank(r[c], plain[c]) for c in cols]
                assert r.z == _py_interleave(ranks, bits), (cols, bits, r)
