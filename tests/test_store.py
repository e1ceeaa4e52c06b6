"""The blob store's manifest protocol (sources/store.py): every writer
commits the schema inside the manifest swap, every reader sees the same
committed rows in every crash state, resume refuses a schema change, and
the shared reader/commit adds no Spark job."""

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import on_spark_layout_path, on_wide_lookup_path
from parquet_toolkit_spark.datagen import write_corpus
from parquet_toolkit_spark.operators.encode import (
    compact_store,
    decode_pipeline,
    decode_where,
    encode_partitions,
    encode_pipeline,
    fsck_store,
    layout_stage,
    read_manifest,
)
from parquet_toolkit_spark.operators.layout import read_parquet_footed
from parquet_toolkit_spark.sources import store
from parquet_toolkit_spark.sources.fs import DriverFS
from parquet_toolkit_spark.sources.ptsc_datasource import PtscDataSource


@pytest.fixture(scope="module")
def corpus_df(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("store_corpus") / "files")
    write_corpus(out, 2000, n_files=8, avg_content_bytes=400)
    return spark.read.parquet(out)


def _keyed(spark, n0, n1, extra=False):
    df = spark.range(n0, n1).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("s"))
    return df.withColumn("extra", F.lit(1)) if extra else df


def _schemas(enc):
    with open(os.path.join(enc, "manifest", "_schema.json")) as fh:
        committed = json.load(fh)
    with open(os.path.join(enc, "_schema.json")) as fh:
        return committed, json.load(fh)


def _ptsc_store(spark, enc, n0=0, n1=200, parts=2):
    spark.dataSource.register(PtscDataSource)
    (_keyed(spark, n0, n1).repartition(parts)
     .write.format("ptsc").mode("append").save(enc))


def test_encode_writers_stage_schema_inside_swap(spark, corpus_df, tmp_path):
    enc = str(tmp_path / "pipe")
    encode_pipeline(spark, corpus_df, enc, target_bytes=48 << 10,
                    run_id="p0")
    committed, root = _schemas(enc)
    assert committed == root
    assert set(committed) == set(corpus_df.columns)

    pids0 = {r.pid for r in read_manifest(spark, enc).collect()}
    compact_store(spark, enc, target_bytes=256 << 10, run_id="c1")
    assert {r.pid for r in read_manifest(spark, enc).collect()} != pids0
    committed, root = _schemas(enc)
    assert committed == root and set(committed) == set(corpus_df.columns)

    stg, enc2 = str(tmp_path / "stg"), str(tmp_path / "parts")
    layout_stage(spark, corpus_df, stg, n_partitions=3)
    encode_partitions(spark, stg, enc2, run_id="e0")
    committed, root = _schemas(enc2)
    assert committed == root and set(committed) == set(corpus_df.columns)


test_encode_writers_stage_schema_inside_swap_spark = on_spark_layout_path(
    test_encode_writers_stage_schema_inside_swap)


def test_decode_where_pruned_reads_committed_schema(spark, tmp_path):
    # a crash between the swap and the root refresh leaves a stale root
    # _schema.json; the fully pruned branch must not read it
    enc = str(tmp_path / "stale_root")
    _ptsc_store(spark, enc)
    committed, _ = _schemas(enc)
    with open(os.path.join(enc, "_schema.json"), "w") as fh:
        json.dump({"old": "bigint"}, fh)
    got = decode_where(spark, enc, {"k": (10**9, None)})
    assert got.columns == list(committed) == ["k", "s"]
    assert got.count() == 0


test_decode_where_pruned_reads_committed_schema_wide = on_wide_lookup_path(
    test_decode_where_pruned_reads_committed_schema)


def test_decode_where_driver_frame_reads_at_the_call(spark, tmp_path,
                                                     monkeypatch):
    # a driver-path lookup decodes while decode_where runs, so its frame
    # keeps the rows of the store as it was then; a wide-path frame reads
    # the pid files when its action runs, and a compaction in between has
    # deleted them
    from parquet_toolkit_spark.operators import encode

    enc = str(tmp_path / "snap")
    _ptsc_store(spark, enc, 0, 600, parts=3)
    driver = decode_where(spark, enc, {"k": (100, 199)}, columns=["k"])
    with monkeypatch.context() as m:
        m.setattr(encode, "_DRIVER_LOOKUP_BYTES", 0)
        wide = decode_where(spark, enc, {"k": (100, 199)}, columns=["k"])
    compact_store(spark, enc, target_bytes=1 << 20, run_id="snap-c")
    assert sorted(r.k for r in driver.collect()) == list(range(100, 200))
    with pytest.raises(Exception, match="part-0.arrow"):
        wide.count()
    assert decode_where(spark, enc, {"k": (100, 199)}).count() == 100


def test_resume_refuses_schema_change(spark, tmp_path):
    enc = str(tmp_path / "enc")
    keys = dict(range_keys=("k",), sort_keys=("k",))
    stg1, stg2, stg3 = (str(tmp_path / f"stg{i}") for i in (1, 2, 3))
    layout_stage(spark, _keyed(spark, 0, 400), stg1, n_partitions=2, **keys)
    encode_partitions(spark, stg1, enc, run_id="a")
    old = store.read_schema_map(DriverFS(spark), enc)

    # same pid count: resume used to return the old store silently;
    # more pids: it encoded the extra pids under the new schema
    layout_stage(spark, _keyed(spark, 0, 400, extra=True), stg2,
                 n_partitions=2, **keys)
    layout_stage(spark, _keyed(spark, 0, 400, extra=True), stg3,
                 n_partitions=3, **keys)
    for stg in (stg2, stg3):
        with pytest.raises(ValueError) as ei:
            encode_partitions(spark, stg, enc, run_id="b")
        assert str(old) in str(ei.value) and "'extra'" in str(ei.value)
    assert store.read_schema_map(DriverFS(spark), enc) == old
    assert decode_pipeline(spark, enc).columns == ["k", "s"]

    # resume=False re-encodes under the new schema, as before
    encode_partitions(spark, stg3, enc, run_id="c", resume=False)
    back = decode_pipeline(spark, enc)
    assert back.columns == ["k", "s", "extra"] and back.count() == 400


def test_manifest_readers_agree_in_every_crash_state(spark, tmp_path):
    enc = str(tmp_path / "diff")
    _ptsc_store(spark, enc, 0, 200, parts=2)
    dfs = DriverFS(spark)
    man = os.path.join(enc, "manifest")

    def both():
        rows = sorted(tuple(r) for r in read_manifest(spark, enc).collect())
        t = store.manifest_table(dfs, enc)
        assert t.column_names == store.MANIFEST_COLS
        assert sorted(tuple(r.values()) for r in t.to_pylist()) == rows
        assert store.committed_pids(dfs, enc) == {r[0] for r in rows}
        return rows

    normal = both()
    assert len(normal) == 2 * 2  # two pids, two columns

    # inside the swap window: manifest/ renamed away, new not in place
    os.rename(man, os.path.join(enc, "manifest_old"))
    assert both() == normal
    os.rename(os.path.join(enc, "manifest_old"), man)

    # a crash while staging left a manifest_new/ that disagrees
    stale = os.path.join(enc, "manifest_new")
    os.makedirs(stale)
    t = pq.read_table(man).slice(0, 1)
    pq.write_table(t.set_column(0, "pid", pa.array([99], pa.int32())),
                   os.path.join(stale, "part-0.parquet"))
    assert both() == normal

    # an append from that state keeps every committed row
    _ptsc_store(spark, enc, 200, 260, parts=1)
    after = both()
    assert set(normal) < set(after) and len(after) == len(normal) + 2
    assert {r[0] for r in after} == {0, 1, 2}
    assert not os.path.exists(stale)
    assert spark.read.format("ptsc").load(enc).count() == 260


def test_store_calls_add_no_spark_job(spark, tmp_path):
    # pinned at the counts of the per-module manifest code this replaced;
    # lookup_count was 2 on a Python-RDD task frame: the 1-pid range
    # frame is one partition, so the count needs no exchange
    stg, enc = str(tmp_path / "stg"), str(tmp_path / "enc")
    layout_stage(spark, _keyed(spark, 0, 600), stg, n_partitions=3,
                 range_keys=("k",), sort_keys=("k",))
    # the staged _keyed rows, read with the footers' schema (no job)
    staged = read_parquet_footed(spark, [stg])[0]
    sc = spark.sparkContext
    calls = {
        # the range shuffle and the encode job; the commit reads no blob
        "pipeline": lambda: encode_pipeline(
            spark, staged, str(tmp_path / "pipe"), n_partitions=3,
            range_keys=("k",), sort_keys=("k",), run_id="pin-p"),
        "encode": lambda: encode_partitions(spark, stg, enc, run_id="pin"),
        "lookup": lambda: decode_where(spark, enc, {"k": (10, 19)}).collect(),
        "lookup_count": lambda: decode_where(
            spark, enc, {"k": (10, 19)}).count(),
        "decode": lambda: decode_pipeline(spark, enc).write.format("noop")
        .mode("overwrite").save(),
        "fsck": lambda: fsck_store(spark, enc).collect(),
        "compact": lambda: compact_store(spark, enc, target_bytes=1 << 20,
                                         run_id="pin-c"),
    }
    out = {}
    try:
        for name, call in calls.items():
            sc.setJobGroup(f"store-pin-{name}", name)
            out[name] = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(out["lookup"]) == 10 and out["lookup_count"] == 10
    assert {r.status for r in out["fsck"]} == {"ok"}
    assert out["compact"].select("pid").distinct().count() == 1
    tracker = sc.statusTracker()
    jobs = {name: len(tracker.getJobIdsForGroup(f"store-pin-{name}"))
            for name in calls}
    assert jobs == {"pipeline": 2, "encode": 1, "lookup": 1,
                    "lookup_count": 1, "decode": 1, "fsck": 3, "compact": 1}
    shutil.rmtree(stg)


def test_readers_plan_from_one_manifest_read(spark, tmp_path, monkeypatch):
    # decode_where, decode_pipeline and the ptsc reader take their files
    # from one manifest read and list no blob dir, so the driver's
    # filesystem calls are the same for 3 pids and for 12
    from pyspark.sql.datasource import GreaterThanOrEqual

    stores = {n: str(tmp_path / f"enc{n}") for n in (3, 12)}
    for n, enc in stores.items():
        _ptsc_store(spark, enc, 0, 600, parts=n)
    calls = []

    def record(name, real):
        def wrapped(*a, **k):
            calls.append((name, a[1] if name != "read_table" else None))
            return real(*a, **k)
        return wrapped

    for name in [n for n in vars(DriverFS) if not n.startswith("_")]:
        monkeypatch.setattr(DriverFS, name,
                            record(name, getattr(DriverFS, name)))
    monkeypatch.setattr(pq, "read_table", record("read_table", pq.read_table))

    def counts(enc):
        reader = PtscDataSource({"path": enc}).reader(None)
        reader.pushFilters([GreaterThanOrEqual(("k",), 10)])
        out = {}
        for name, build in {
            "where": lambda: decode_where(spark, enc, {"k": (10, 19)}),
            "pipeline": lambda: decode_pipeline(spark, enc),
            "ptsc": reader.partitions,
        }.items():
            calls.clear()
            build()
            ops = [op for op, _p in calls]
            assert ops.count("read_table") == 1 and "list_dirs" not in ops
            assert {p for op, p in calls if op == "list_files"} == {
                os.path.join(enc, "manifest")}
            out[name] = sorted(ops)
        return out

    assert counts(stores[3]) == counts(stores[12])


def test_ptsc_read_reads_no_driver_filesystem(spark, tmp_path, monkeypatch):
    # a Python worker has no session, so DriverFS cannot resolve a remote
    # store there: the partitions carry the schema, and read() opens
    # only the pid files
    import pickle

    enc = str(tmp_path / "enc")
    _ptsc_store(spark, enc, 0, 200, parts=2)
    reader = PtscDataSource({"path": enc}).reader(None)
    parts = pickle.loads(pickle.dumps(reader.partitions()))

    def refuse(*_a, **_k):
        raise RuntimeError("a driver filesystem read inside a task")

    monkeypatch.setattr(store, "read_schema_map", refuse)
    monkeypatch.setattr(DriverFS, "exists", refuse)
    got = [k for p in parts for b in reader.read(p)
           for k in b.column("k").to_pylist()]
    assert sorted(got) == list(range(200))


def test_encode_pipeline_crash_before_commit_keeps_old_store(
        spark, tmp_path, monkeypatch):
    # re-encoding writes fresh pids beside the committed ones; a crash
    # before the manifest swap leaves the old view readable and intact
    enc = str(tmp_path / "enc")
    keys = dict(n_partitions=2, range_keys=("k",), sort_keys=("k",))
    encode_pipeline(spark, _keyed(spark, 0, 300), enc, run_id="old", **keys)
    old = sorted(tuple(r) for r in decode_pipeline(spark, enc).collect())

    def crash(*_a, **_k):
        raise RuntimeError("crash before the manifest swap")

    monkeypatch.setattr(store, "commit", crash)
    with pytest.raises(RuntimeError, match="before the manifest swap"):
        encode_pipeline(spark, _keyed(spark, 1000, 1500), enc, run_id="new",
                        **keys)
    monkeypatch.undo()
    assert sorted(tuple(r) for r in decode_pipeline(spark, enc).collect()) \
        == old
    assert {r.status for r in fsck_store(spark, enc).collect()} == {"ok"}


def test_encode_partitions_reencode_never_mixes_runs(
        spark, tmp_path, monkeypatch):
    # resume=False into a committed store: a crash before its commit
    # keeps one run's rows (the old manifest never names new blobs), a
    # crash after the old run is retired leaves an empty store that
    # resume=True fills, a resume after a finished run is a no-op, and
    # no pid of the old run outlives the new one
    enc, blobs = str(tmp_path / "enc"), str(tmp_path / "enc" / "blobs")
    keys = dict(range_keys=("k",), sort_keys=("k",))
    stg_old, stg_new = str(tmp_path / "stg_old"), str(tmp_path / "stg_new")
    layout_stage(spark, _keyed(spark, 0, 400), stg_old, n_partitions=4,
                 **keys)
    layout_stage(spark, _keyed(spark, 1000, 1500), stg_new, n_partitions=2,
                 **keys)
    encode_partitions(spark, stg_old, enc, run_id="old")
    dfs = DriverFS(spark)

    def decoded():
        return {r.k for r in decode_pipeline(spark, enc).collect()}

    def crash_at(n):
        calls, real = [], store.commit

        def commit(*a, **k):
            calls.append(1)
            if len(calls) == n:
                raise RuntimeError("crash before the manifest swap")
            return real(*a, **k)
        return commit

    monkeypatch.setattr(store, "commit", crash_at(1))
    with pytest.raises(RuntimeError, match="before the manifest swap"):
        encode_partitions(spark, stg_new, enc, run_id="new", resume=False)
    monkeypatch.undo()
    assert decoded() == set(range(400))
    assert {r.status for r in fsck_store(spark, enc).collect()} == {"ok"}

    monkeypatch.setattr(store, "commit", crash_at(2))
    with pytest.raises(RuntimeError, match="before the manifest swap"):
        encode_partitions(spark, stg_new, enc, run_id="new", resume=False)
    monkeypatch.undo()
    assert store.committed_pids(dfs, enc) == set()
    assert fsck_store(spark, enc).count() == 0
    encode_partitions(spark, stg_new, enc, run_id="new")
    assert decoded() == set(range(1000, 1500))

    encode_partitions(spark, stg_old, enc, run_id="again", resume=False)
    encode_partitions(spark, stg_new, enc, run_id="new", resume=False)
    assert set(store.pid_dirs(dfs, blobs)) == {0, 1}
    rows = sorted(tuple(r.values())
                  for r in store.manifest_table(dfs, enc).to_pylist())
    stamps = {p: os.stat(p).st_mtime_ns
              for p, _sz in dfs.list_files(blobs + "/pid=0")}
    encode_partitions(spark, stg_new, enc, run_id="resumed")
    assert sorted(tuple(r.values()) for r in
                  store.manifest_table(dfs, enc).to_pylist()) == rows
    assert {p: os.stat(p).st_mtime_ns
            for p, _sz in dfs.list_files(blobs + "/pid=0")} == stamps
    assert decoded() == set(range(1000, 1500))
