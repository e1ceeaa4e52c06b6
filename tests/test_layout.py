"""Layout operator semantics: multiset preservation, global sortedness,
split size bounds, probe accuracy (reference parity per SURVEY.md §2)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from conftest import on_spark_layout_path
from parquet_toolkit_spark.operators.layout import (
    compact,
    estimate_bytes_per_row,
    sort_by_key,
    split_by_size,
)

SF = "/root/testdata/sf0.01"


def _multiset_hash(df, cols):
    return (
        df.select(F.sha2(F.concat_ws("\x00", *[F.col(c).cast("string") for c in cols]), 256).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")))
        .first()[0]
    )


def test_compact_preserves_multiset_and_reduces_files(spark, tmp_path):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    small = str(tmp_path / "small")
    li.repartition(50).write.parquet(small)
    assert len(glob.glob(os.path.join(small, "*.parquet"))) == 50

    out = str(tmp_path / "compacted")
    compact(spark, small, out, target_bytes=8 << 20)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) < 10
    back = spark.read.parquet(out)
    cols = ["l_orderkey", "l_linenumber", "l_quantity"]
    assert back.count() == li.count()
    assert _multiset_hash(back, cols) == _multiset_hash(li, cols)


def _catalyst_key(row):
    """Python sort key of a key tuple in Catalyst's ascending order
    (NULLS FIRST)."""
    return tuple((0,) if v is None else (1, v) for v in row)


def _check_sorted_output(src, out, keys, descending=False):
    """Every file of `out`, read in filename order, continues one global
    key order (NULLS FIRST ascending, NULLS LAST descending); the files
    hold exactly the input's rows. Returns the part files."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    got = []
    for f in files:
        t = pq.read_table(f)
        got.extend(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    names = pq.read_table(files[0]).column_names
    at = [names.index(k) for k in keys]
    ks = [_catalyst_key([r[i] for i in at]) for r in got]
    pairs = list(zip(ks, ks[1:]))
    if descending:
        assert all(a >= b for a, b in pairs), "not descending across files"
    else:
        assert all(a <= b for a, b in pairs), "not ascending across files"
    t = pq.read_table(src, columns=names)
    want = list(zip(*(t.column(c).to_pylist() for c in names)))
    assert sorted(got, key=_catalyst_key) == sorted(want, key=_catalyst_key)
    return files


def _part_index(f):
    return int(os.path.basename(f)[5:].split("-", 1)[0])


def test_sort_by_key_is_globally_sorted(spark, tmp_path):
    out = str(tmp_path / "sorted")
    sort_by_key(spark, f"{SF}/lineitem.parquet", out,
                keys=["l_orderkey", "l_linenumber"], target_bytes=1 << 20)
    files = _check_sorted_output(f"{SF}/lineitem.parquet", out,
                                 ["l_orderkey", "l_linenumber"])
    assert len(files) >= 2, "want multiple output files for a real check"


def test_sort_by_key_descending(spark, tmp_path):
    out = str(tmp_path / "sorted_desc")
    sort_by_key(spark, f"{SF}/lineitem.parquet", out,
                keys=["l_orderkey", "l_linenumber"], target_bytes=1 << 20,
                descending=True)
    files = _check_sorted_output(f"{SF}/lineitem.parquet", out,
                                 ["l_orderkey", "l_linenumber"],
                                 descending=True)
    assert len(files) >= 2


@pytest.mark.parametrize("descending", [False, True])
def test_sort_by_key_null_keys_across_files(spark, tmp_path, descending):
    """Null keys go first ascending and last descending, across files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "nullkeys")
    os.makedirs(src)
    for i in range(4):
        ks = [None if (i * 500 + j) % 7 == 0 else (i * 500 + j) * 37 % 1000
              for j in range(500)]
        pq.write_table(pa.table({
            "k": pa.array(ks, pa.int64()),
            "pad": pa.array([f"{i}-{j}-" + "x" * 200 for j in range(500)]),
        }), os.path.join(src, f"f{i}.parquet"))
    out = str(tmp_path / "sorted")
    sort_by_key(spark, src, out, keys=["k"], target_bytes=64 << 10,
                descending=descending)
    files = _check_sorted_output(src, out, ["k"], descending)
    assert len({_part_index(f) for f in files}) >= 3


def test_sort_by_key_constant_key_fills_one_pid(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "const")
    os.makedirs(src)
    for i in range(3):
        pq.write_table(pa.table({
            "k": pa.array(["same"] * 400),
            "v": pa.array(range(i * 400, (i + 1) * 400), pa.int64()),
            "pad": pa.array([f"{i}-{j}-" + "y" * 290 for j in range(400)]),
        }), os.path.join(src, f"f{i}.parquet"))
    out = str(tmp_path / "sorted")
    info = sort_by_key(spark, src, out, keys=["k"], target_bytes=64 << 10)
    assert info["n_partitions"] >= 2
    files = _check_sorted_output(src, out, ["k"])
    # partition 0 always writes a file, an empty one when its pid is
    assert len({_part_index(f) for f in files
                if pq.ParquetFile(f).metadata.num_rows}) == 1


def test_sort_by_key_single_partition(spark, tmp_path):
    out = str(tmp_path / "sorted_one")
    info = sort_by_key(spark, f"{SF}/orders.parquet", out,
                       keys=["o_custkey", "o_orderkey"])
    assert info["n_partitions"] == 1
    files = _check_sorted_output(f"{SF}/orders.parquet", out,
                                 ["o_custkey", "o_orderkey"])
    assert {_part_index(f) for f in files} == {0}


def _typed_keys(ddl):
    """400 deterministic key values of Spark type `ddl`, with nulls and
    the values a literal must round-trip (quotes, backslashes, non-ASCII,
    NaN, infinities, signed zeros)."""
    import datetime as dt
    import decimal

    utc = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
    plain = {
        "string": lambda i: f"k{i:03d}",
        "double": lambda i: i - 40.5,
        "decimal(10,2)": lambda i: decimal.Decimal(f"{i - 40}.25"),
        "date": lambda i: dt.date(2020, 1, 1) + dt.timedelta(days=i),
        "timestamp": lambda i: utc + dt.timedelta(minutes=i,
                                                  microseconds=i % 7),
        "binary": lambda i: bytes([i, 255 - i % 7]),
        "boolean": lambda i: i % 3 == 0,
    }[ddl]
    special = {
        "string": ["it's", "a\\b", "\u00e9t\u00e9", ""],
        "double": [float("nan"), float("inf"), -float("inf"), -0.0, 0.0],
    }.get(ddl, []) + [None]
    return [special[i // 9 % len(special)] if i % 9 == 0 else plain(i % 97)
            for i in range(400)]


@pytest.mark.parametrize("ddl", ["string", "double", "decimal(10,2)", "date",
                                 "timestamp", "binary", "boolean"])
def test_sort_by_key_typed_keys_follow_catalyst_order(spark, tmp_path, ddl):
    """The driver-side bounds of every atomic key type render as literals
    that keep the output files in Catalyst's own key order. Spark writes
    timestamps as INT96, which the footers do not type as Spark's
    timestamp, so that case takes the bounds from a Spark sample."""
    src = str(tmp_path / "typed")
    rows = [(v, f"{i:04d}-" + "p" * 200)
            for i, v in enumerate(_typed_keys(ddl))]
    (spark.createDataFrame(rows, f"k {ddl}, pad string").repartition(4)
     .write.parquet(src))
    out = str(tmp_path / "sorted")
    info = sort_by_key(spark, src, out, keys=["k"], target_bytes=16 << 10)
    assert info["n_partitions"] >= 3
    got = []
    for f in sorted(glob.glob(os.path.join(out, "part-*.parquet"))):
        got.extend(spark.read.parquet(f).select("k").toArrow()
                   .column("k").to_pylist())
    want = (spark.read.parquet(src).orderBy("k").toArrow()
            .column("k").to_pylist())

    def norm(v):
        return "NaN" if isinstance(v, float) and v != v else v

    assert [norm(v) for v in got] == [norm(v) for v in want]


@pytest.mark.parametrize("descending", [False, True])
@pytest.mark.parametrize("ddl", ["string", "double", "decimal(10,2)", "date",
                                 "timestamp", "binary", "boolean"])
def test_range_pid_counts_the_bounds_before_each_key(spark, ddl, descending):
    """range_pid's one SQL expression (rendered literals + binary search)
    equals the plain count of bounds at or before each key, with every
    special value (quote, backslash, non-ASCII, NaN, +-inf, -0.0, null)
    among the bounds."""
    from parquet_toolkit_spark.operators.layout import _order_key, range_pid

    vals = _typed_keys(ddl)
    df = spark.createDataFrame([(v,) for v in vals], f"k {ddl}")
    bounds = sorted({(v,) for v in vals[::9] + vals[1::23]},
                    key=_order_key, reverse=descending)
    key = F.struct("k")

    def before(b):
        lit = F.struct(F.lit(b[0]).cast(ddl))
        return (lit >= key) if descending else (lit <= key)

    count = sum(F.when(before(b), 1).otherwise(0) for b in bounds)
    rows = df.select(range_pid(df, ["k"], bounds, descending).alias("pid"),
                     count.alias("want")).collect()
    assert len(bounds) >= 3
    assert all(r.pid == r.want for r in rows)


@pytest.mark.parametrize("ddl", ["string", "date", "binary", "boolean"])
def test_range_pid_arrow_equals_range_pid(spark, ddl):
    """range_pid_arrow, the in-process layout's pid rule, ranks every
    row as range_pid does on a key of each admitted type (nulls, quotes,
    non-ASCII and empty strings among keys and bounds) plus a second,
    negative-valued int key."""
    from parquet_toolkit_spark.operators.layout import (
        _order_key,
        range_pid,
        range_pid_arrow,
    )

    rows = [(v, i % 5 - 2) for i, v in enumerate(_typed_keys(ddl))]
    df = spark.createDataFrame(rows, f"k {ddl}, j int")
    bounds = sorted(set(rows[::9] + rows[1::23]), key=_order_key)
    got = df.select(range_pid(df, ["k", "j"], bounds).alias("pid"),
                    "k", "j").toArrow()
    assert len(bounds) >= 3
    assert (range_pid_arrow(got.select(["k", "j"]), bounds).tolist()
            == got.column("pid").to_pylist())


def test_murmur3_port_matches_spark_hash(spark):
    from parquet_toolkit_spark.operators.layout import _murmur3_int

    ids = [0, 1, -1, 2**31 - 1, -2**31, 2**31 - 2, -2**31 + 1,
           *range(2, 300), *range(-300, -2), *range(10**9, 10**9 + 50)]
    df = spark.createDataFrame([(i,) for i in ids], "x int")
    want = {r.x: r.h for r in df.select("x", F.hash("x").alias("h"))
            .collect()}
    assert dict(zip(ids, _murmur3_int(ids).tolist())) == want


@pytest.mark.parametrize("n", [1, 2, 3, 8, 17])
def test_place_by_pid_puts_pid_p_in_partition_p(spark, n):
    from parquet_toolkit_spark.operators.layout import hash_slots, place_by_pid

    slots = hash_slots(n)
    assert len(set(slots)) == n and min(slots) >= 0
    df = spark.range(0, 40 * n + 7).withColumn(
        "pid", ((F.col("id") * 7919) % n).cast("int"))
    placed = place_by_pid(df, F.col("pid"), n).select(
        "id", "pid", F.spark_partition_id().alias("part"))
    rows = placed.collect()
    assert len(rows) == 40 * n + 7
    assert all(r.pid == r.part for r in rows)
    assert {r.part for r in rows} == set(range(n))


def test_range_layouts_pin_spark_job_counts(spark, tmp_path):
    """layout_stage on a small parquet frame lays it out in this process
    and runs no Spark job; on the Spark path (the _spark binding) it runs
    the shuffle's map stage and the write, and so does sort_by_key: it
    reads its input with the footers' schema, so Spark runs no schema-
    inference job. No sampling job and no count job run before the
    shuffle. compact and split_by_size run only the write. A Z-order
    layout_stage (always the Spark path) adds one sample of the Morton
    key: its column ranks come from the footers."""
    from parquet_toolkit_spark.operators import encode
    from parquet_toolkit_spark.operators.encode import layout_stage
    from parquet_toolkit_spark.operators.layout import read_parquet_footed

    path = "arrow" if encode._ARROW_LAYOUT_BYTES else "spark"
    src = f"{SF}/lineitem.parquet"
    df = spark.read.parquet(src)
    footed, _ = read_parquet_footed(spark, [src])
    flat = str(tmp_path / "flat")
    df.repartition(6).write.parquet(flat)
    sc = spark.sparkContext
    calls = {
        "layout_stage": lambda: layout_stage(
            spark, df, str(tmp_path / "stg"), target_bytes=1 << 20,
            range_keys=("l_orderkey", "l_linenumber"),
            sort_keys=("l_orderkey", "l_linenumber")),
        "layout_stage_n": lambda: layout_stage(
            spark, df, str(tmp_path / "stg_n"), n_partitions=4,
            range_keys=("l_orderkey", "l_linenumber"),
            sort_keys=("l_orderkey", "l_linenumber")),
        "sort_by_key": lambda: sort_by_key(
            spark, src, str(tmp_path / "sorted"),
            keys=["l_orderkey", "l_linenumber"], target_bytes=1 << 20),
        "layout_stage_z": lambda: layout_stage(
            spark, footed, str(tmp_path / "stg_z"), target_bytes=1 << 20,
            cluster_keys=("l_orderkey", "l_partkey")),
        "compact": lambda: compact(spark, flat, str(tmp_path / "compact"),
                                   target_bytes=256 << 10),
        "split_by_size": lambda: split_by_size(
            spark, flat, str(tmp_path / "split"), target_bytes=256 << 10),
    }
    try:
        for name, call in calls.items():
            sc.setJobGroup(f"range-pin-{path}-{name}", name)
            call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = {name: len(tracker.getJobIdsForGroup(f"range-pin-{path}-{name}"))
            for name in calls}
    plain = 0 if path == "arrow" else 2
    assert jobs == {"layout_stage": plain, "layout_stage_n": plain,
                    "sort_by_key": 2, "layout_stage_z": 3, "compact": 1,
                    "split_by_size": 1}


test_range_layouts_pin_spark_job_counts_spark = on_spark_layout_path(
    test_range_layouts_pin_spark_job_counts)


def _file_rows(files):
    """The sorted rows of each parquet file, in the order given."""
    import pyarrow.parquet as pq

    out = []
    for f in files:
        t = pq.read_table(f)
        out.append(sorted(zip(*(t.column(c).to_pylist()
                                for c in t.column_names)),
                          key=repr))
    return out


def test_range_layouts_are_the_same_in_any_session(spark, tmp_path):
    """A Z-order layout_stage and a sorted and a Z-order Iceberg rewrite
    write the same rows to every output file (by part index; for Iceberg
    by commit order) in the caller's session and in a new session after
    an unrelated job, so the RDD ids differ: their bounds come from the
    footers and a seeded sample, not from RangePartitioner, whose sample
    is seeded by the RDD id."""
    from parquet_toolkit_spark.operators.encode import layout_stage
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    src = f"{SF}/lineitem.parquet"
    rows = [(i, (i * 7919) % 3000, f"v{i % 37}") for i in range(4000)]

    def run(sess, tag):
        stg = str(tmp_path / f"stg_{tag}")
        layout_stage(sess, sess.read.parquet(src), stg,
                     target_bytes=1 << 20,
                     cluster_keys=("l_orderkey", "l_partkey"))
        staged = sorted(glob.glob(os.path.join(stg, "part-*.parquet")),
                        key=_part_index)
        out = {"zorder_stage": _file_rows(staged)}
        for name, kw in (("sort_by", {"sort_by": ["id"]}),
                         ("zorder_by", {"zorder_by": ["id", "uid"]})):
            tdir = str(tmp_path / f"{name}_{tag}")
            ic.write_table(sess, sess.createDataFrame(
                rows, "id long, uid long, v string"), tdir)
            rw = ic.rewrite_data_files(sess, tdir, target_file_rows=250,
                                       **kw)
            out[name] = _file_rows(rw["files"])
        return out

    def session():
        # AQE would coalesce a small range shuffle into one partition,
        # where any bounds give the same files
        sess = spark.newSession()
        sess.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                      "false")
        return sess

    first = run(session(), "a")
    other = session()
    other.range(1000).repartitionByRange(7, "id").count()  # unrelated job
    second = run(other, "b")
    assert len(first["zorder_stage"]) > 1
    for name in first:
        assert first[name] == second[name], name


def _jobs_in(spark, group, call):
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", ["corpus", "lineitem", "orders", "events",
                                  "documents"])
def test_footer_schema_read_equals_inferred_schema(spark, tmp_path, name):
    """sort_by_key's input frame, read with the schema its footers give,
    has the schema Spark's own inference gives, its footer list is the
    one input_footers gives, and reading it runs no Spark job: on a
    flat directory of F0 corpus files and on the fixture tables."""
    from parquet_toolkit_spark.operators.layout import (
        input_footers,
        read_parquet_footed,
    )
    from parquet_toolkit_spark.sources.fs import strip_local_scheme

    if name == "corpus":
        from parquet_toolkit_spark.datagen import write_corpus

        src = write_corpus(str(tmp_path / "corpus"), 2000, n_files=20, seed=1)
    else:
        src = f"{SF}/{name}.parquet"
    (df, footers), jobs = _jobs_in(spark, f"footed-{name}",
                                   lambda: read_parquet_footed(spark, [src]))
    assert jobs == 0
    want = spark.read.parquet(src)
    assert df.schema.simpleString() == want.schema.simpleString()
    assert df.schema == want.schema
    assert ([strip_local_scheme(f) for f, _ in footers]
            == [strip_local_scheme(f) for f, _ in input_footers(want)])
    assert df.count() == want.count()


def test_layouts_read_each_footer_once(spark, tmp_path, monkeypatch):
    """The CLI encode verb (read_parquet_footed, then encode_pipeline)
    and layout_stage on both of its paths read each input footer once:
    the footers the caller read reach plan_layout and the in-process
    path."""
    from parquet_toolkit_spark.__main__ import main
    from parquet_toolkit_spark.datagen import write_corpus
    from parquet_toolkit_spark.operators.encode import layout_stage
    from parquet_toolkit_spark.sources import parquet_tools

    src = write_corpus(str(tmp_path / "corpus"), 1200, n_files=6, seed=3)
    read, real = [], parquet_tools.read_footers

    def counted(files):
        read.extend(files)
        return real(files)

    def stage():
        layout_stage(spark, spark.read.parquet(src), str(tmp_path / "stg"),
                     n_partitions=3)

    monkeypatch.setattr(parquet_tools, "read_footers", counted)
    for name, run in {
        "cli encode": lambda: main([
            "encode", "--input", src, "--output", str(tmp_path / "enc"),
            "--target-size", "256kb"]),
        "layout_stage": stage,
        "layout_stage_spark": on_spark_layout_path(stage),
    }.items():
        read.clear()
        run()
        assert len(read) == 6 and len(set(read)) == 6, (name, read)


def test_footer_schema_read_falls_back_on_int96(spark, tmp_path):
    """An INT96 timestamp has no exact footer mapping (Spark reads it as
    timestamp, pyarrow as timestamp_ntz), so the frame falls back to
    Spark's inference and keeps Spark's schema."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.operators.layout import (
        _footer_ddl,
        read_parquet_footed,
    )

    src = str(tmp_path / "int96.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2, 3]),
                             "ts": pa.array([dt.datetime(2020, 1, d)
                                             for d in (1, 2, 3)])}),
                   src, use_deprecated_int96_timestamps=True)
    assert _footer_ddl([pq.ParquetFile(src).metadata]) is None
    (df, footers), jobs = _jobs_in(spark, "footed-int96",
                                   lambda: read_parquet_footed(spark, [src]))
    assert jobs >= 1
    want = spark.read.parquet(src)
    assert df.schema == want.schema
    assert df.schema.simpleString() == "struct<k:bigint,ts:timestamp>"
    assert len(footers) == 1


def test_split_by_size_bounds(spark, tmp_path):
    # target is ON-DISK bytes (the reference probes by writing a temp
    # parquet file and measuring it, MultithreadedParquetSplitter.java:
    # 152-170); the sf0.001 lineitem file is ~115KB, so a 32KB target
    # must split it into >=2 files of bounded size
    out = str(tmp_path / "split")
    target = 32 << 10
    split_by_size(spark, f"{SF}/lineitem.parquet", out, target_bytes=target)
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert len(files) >= 2
    for f in files:
        # rolled by maxRecordsPerFile from sampled disk bytes/row; allow
        # per-file encoding variance but nothing wildly over target
        assert os.path.getsize(f) <= target * 2, f
    back = spark.read.parquet(out)
    orig = spark.read.parquet(f"{SF}/lineitem.parquet")
    assert back.count() == orig.count()


def test_bytes_per_row_probe_sane(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    bpr = estimate_bytes_per_row(li)
    # 10 numeric/short-string cols + timestamp: tens of bytes, not KB
    assert 40 <= bpr <= 400, bpr


def test_rewrite_recompress(spark, tmp_path):
    from parquet_toolkit_spark.operators.layout import rewrite

    out = str(tmp_path / "rewritten")
    info = rewrite(spark, f"{SF}/orders.parquet", out, compression="gzip")
    assert info["rows"] == spark.read.parquet(f"{SF}/orders.parquet").count()
    import pyarrow.parquet as pq

    f = glob.glob(os.path.join(out, "*.parquet"))[0]
    assert pq.ParquetFile(f).metadata.row_group(0).column(0).compression == "GZIP"


def test_compact_in_place_swap(spark, tmp_path):
    from parquet_toolkit_spark.operators.layout import compact_in_place

    d = str(tmp_path / "folder")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    li.repartition(30).write.parquet(d)
    n_before = len(glob.glob(os.path.join(d, "*.parquet")))
    info = compact_in_place(spark, d, target_bytes=8 << 20)
    n_after = len(glob.glob(os.path.join(d, "*.parquet")))
    assert n_after < n_before
    assert spark.read.parquet(d).count() == li.count()
    assert not os.path.exists(d + "_old") and not os.path.exists(d + "_compacting")


def test_sort_null_keys_divergence_documented(spark, tmp_path):
    """FIXTURES.md F2 negative fixture: the reference hard-errors on null
    sort keys (DMCMemoryData.java:68-70); our typed sort places them
    NULLS FIRST — the documented divergence."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "withnull")
    os.makedirs(src)
    t = pa.table({"k": pa.array(["b", None, "a"], pa.string()),
                  "v": pa.array([1, 2, 3], pa.int64())})
    pq.write_table(t, os.path.join(src, "f.parquet"))
    out = str(tmp_path / "sorted")
    sort_by_key(spark, src, out, keys=["k"], target_bytes=1 << 20)
    got = [r.k for r in spark.read.parquet(out).orderBy("k").collect()]
    assert got == [None, "a", "b"]  # NULLS FIRST, no error


def test_compact_nested_partitioned_input_sizes_bins(spark, tmp_path):
    # ADVICE r2: a partitioned (nested-dir) input read 0 bytes from the flat
    # listing -> n_bins=1 + unbounded maxRecordsPerFile. Recursive sizing
    # must see the real bytes and keep multiple bins.
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    nested = str(tmp_path / "nested")
    (li.withColumn("part", (F.col("l_orderkey") % 4).cast("int"))
       .repartition(40).write.partitionBy("part").parquet(nested))

    out = str(tmp_path / "compacted")
    info = compact(spark, nested, out, target_bytes=2 << 20)
    assert info["disk_bytes_in"] > 0
    assert info["n_bins"] > 1
    # maxRecordsPerFile bounded: far below "everything in one file"
    assert info["max_records_per_file"] < li.count()
    back = spark.read.parquet(out)
    assert back.count() == li.count()


def test_compact_does_not_leak_scan_confs(spark, tmp_path):
    # VERDICT r2 anti-pattern #2: compact() used to mutate the session's
    # maxPartitionBytes/openCostInBytes for its duration; it now plans in a
    # child session, so the caller's conf is untouched even DURING the run.
    before_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    before_open = spark.conf.get("spark.sql.files.openCostInBytes")

    li = spark.read.parquet(f"{SF}/lineitem.parquet").limit(1000)
    src = str(tmp_path / "src")
    li.repartition(5).write.parquet(src)

    seen = {}
    import parquet_toolkit_spark.operators.layout as layout_mod

    orig_newsession = type(spark).newSession

    def spying_newsession(self):
        sess = orig_newsession(self)
        seen["sess"] = sess
        return sess

    type(spark).newSession = spying_newsession
    try:
        compact(spark, src, str(tmp_path / "out"), target_bytes=1 << 20)
    finally:
        type(spark).newSession = orig_newsession

    # child session got the scan confs; parent session never changed
    assert seen["sess"].conf.get("spark.sql.files.maxPartitionBytes") == str(1 << 20)
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == before_mpb
    assert spark.conf.get("spark.sql.files.openCostInBytes") == before_open


def test_split_strict_refuses_small_input(spark, tmp_path):
    # reference parity: SimpleParquetSplitter.java:89-91 errors when the
    # input is not larger than the chunk size; strict=True restores it
    src = str(tmp_path / "small")
    spark.range(100).write.parquet(src)
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="not\\s+larger than"):
        split_by_size(spark, src, out, target_bytes=1 << 30, strict=True)
    # default stays no-op-safe
    info = split_by_size(spark, src, out, target_bytes=1 << 30)
    assert info["n_bins"] == 1
