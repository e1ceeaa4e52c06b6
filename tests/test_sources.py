"""CSV ingest, schema groups, quarantine, incremental-encode tests
(reference fixtures F1/F4 shapes from FIXTURES.md)."""

import gzip
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_toolkit_spark.sources import csv_ingest, parquet_tools


def test_csv_typed_conversion(spark, tmp_path):
    csv = tmp_path / "typed.csv"
    csv.write_text(
        "id;cnt;ratio;price;flag;note\n"
        "1;100;0.5;9.99;true;hello\n"
        "2;;1.5;0.01;false;\n"  # empty cells -> null (ConvertThread parity)
        "3;300;2.5;1.25;true;käse🎉\n"
    )
    df = csv_ingest.csv_to_df(
        spark, str(csv),
        field_types={"id": "int", "cnt": "long", "ratio": "float",
                     "price": "double", "flag": "boolean", "note": "string"},
        delimiter=";",
    )
    rows = df.orderBy("id").collect()
    assert [r.id for r in rows] == [1, 2, 3]
    assert rows[1].cnt is None and rows[1].note is None
    assert rows[2].note == "käse🎉"
    assert dict(df.dtypes)["price"] == "double"


def test_csv_gzip_and_headerless(spark, tmp_path):
    gz = tmp_path / "data.csv.gz"
    with gzip.open(gz, "wt") as fh:
        fh.write("a,1\nb,2\n")
    df = csv_ingest.csv_to_df(spark, str(gz), header=False,
                              column_names=["name", "val"])
    assert {(r.name, r.val) for r in df.collect()} == {("a", "1"), ("b", "2")}


def test_csv_custom_quote(spark, tmp_path):
    csv = tmp_path / "alarms.csv"
    csv.write_text("c1,c2\n^x,y^,z\n")  # reference Main.java quote char '^'
    df = csv_ingest.csv_to_df(spark, str(csv), quote="^")
    row = df.first()
    assert row.c1 == "x,y" and row.c2 == "z"


@pytest.fixture()
def mixed_folder(tmp_path):
    """FIXTURES.md F1: three schemas + empty + corrupt + hidden + non-parquet."""
    d = tmp_path / "mixed"
    d.mkdir()
    v1 = pa.table({"id": pa.array([1, 2], pa.int64()),
                   "name": pa.array(["a", None], pa.string())})
    v2 = pa.table({"id": pa.array([3], pa.int64()),
                   "name": pa.array(["c"], pa.string()),
                   "added_col": pa.array(["x"], pa.string())})
    v3 = pa.table({"id": pa.array(["s1"], pa.string()),
                   "name": pa.array(["d"], pa.string())})
    for i in range(4):
        pq.write_table(v1, d / f"v1_{i}.parquet")
    for i in range(3):
        pq.write_table(v2, d / f"v2_{i}.parquet")
    pq.write_table(v3, d / "v3_0.parquet")
    pq.write_table(v1.slice(0, 0), d / "empty.parquet")  # zero rows
    (d / "broken.parquet").write_bytes(b"PAR1 this is not really parquet")
    (d / "_hidden.parquet").write_bytes(b"x")
    (d / "data.txt").write_text("not parquet")
    (d / "leftover_merger_.parq").write_bytes(b"x")
    return str(d)


def test_listing_predicate(mixed_folder):
    files = parquet_tools.list_parquet_files(mixed_folder)
    names = {os.path.basename(f) for f in files}
    assert "_hidden.parquet" not in names
    assert "data.txt" not in names
    assert "leftover_merger_.parq" not in names
    assert "broken.parquet" in names  # listed; quarantined later by footer probe


def test_schema_groups_and_quarantine(mixed_folder):
    files = parquet_tools.list_parquet_files(mixed_folder)
    groups, broken = parquet_tools.schema_groups(files)
    assert len(groups) == 3  # v1 (+empty slice shares v1 schema), v2, v3
    assert [os.path.basename(b) for b in broken] == ["broken.parquet"]
    sizes = sorted(len(v) for v in groups.values())
    assert sizes == [1, 3, 5]  # v3=1, v2=3, v1=4+empty


def test_incremental_encode_stream(spark, tmp_path):
    from parquet_toolkit_spark.datagen import gen_source_code_files
    from parquet_toolkit_spark.operators.encode import (
        decode_pipeline,
        read_manifest,
    )
    from parquet_toolkit_spark.streaming.incremental import incremental_encode

    landing = tmp_path / "landing"
    landing.mkdir()
    enc = str(tmp_path / "enc")
    ckpt = str(tmp_path / "ckpt")
    t = gen_source_code_files(500, seed=9)
    pq.write_table(t, landing / "batch0.parquet")

    ddl = ("repo string, path string, commit string, lang string, "
           "content string")
    incremental_encode(spark, str(landing), enc, ddl, ckpt, run_id="s1")
    man = read_manifest(spark, enc)
    assert man.count() == 5  # 5 columns x 1 pid

    # second file arrives -> only it is encoded (new pid, run s2)
    t2 = gen_source_code_files(300, seed=10)
    pq.write_table(t2, landing / "batch1.parquet")
    incremental_encode(spark, str(landing), enc, ddl, ckpt, run_id="s2")
    man = read_manifest(spark, enc)
    pids = {r.pid for r in man.select("pid").distinct().collect()}
    assert len(pids) == 2
    runs = {r.run_id.split("-")[0] for r in man.select("run_id").distinct().collect()}
    assert runs == {"s1", "s2"}

    decoded = decode_pipeline(spark, enc)
    assert decoded.count() == 800


def test_incremental_encode_manifest_commit_is_o_batch(spark, tmp_path,
                                                       monkeypatch):
    """VERDICT r3 #3: a micro-batch's manifest commit must not grow with
    store history. The tasks return their manifest rows, so a batch reads
    NO blob file through Spark's parquet reader (spied on
    DataFrameReader.parquet), and every earlier batch's manifest rows
    carry over unchanged."""
    from pyspark.sql.readwriter import DataFrameReader

    from parquet_toolkit_spark.datagen import gen_source_code_files
    from parquet_toolkit_spark.operators.encode import (
        decode_pipeline,
        read_manifest,
    )
    from parquet_toolkit_spark.sources.fs import DriverFS
    from parquet_toolkit_spark.sources.store import manifest_table
    from parquet_toolkit_spark.streaming.incremental import incremental_encode

    landing = tmp_path / "landing"
    landing.mkdir()
    enc = str(tmp_path / "enc")
    blob_reads: list[tuple[str, ...]] = []
    orig = DataFrameReader.parquet

    def spy(self, *paths):
        if any("/blobs" in p for p in paths):
            blob_reads.append(paths)
        return orig(self, *paths)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)

    ddl = ("repo string, path string, commit string, lang string, "
           "content string")
    before: list[dict] = []
    for batch in range(3):
        t = gen_source_code_files(200, seed=20 + batch)
        pq.write_table(t, landing / f"b{batch}.parquet")
        incremental_encode(spark, str(landing), enc, ddl,
                           str(tmp_path / "ckpt_inc"),
                           run_id=f"b{batch}")
        assert blob_reads == [], blob_reads
        rows = manifest_table(DriverFS(spark), enc).to_pylist()
        assert [r for r in rows if r["pid"] != batch] == before, batch
        assert {r["pid"] for r in rows} == set(range(batch + 1))
        before = rows

    man = read_manifest(spark, enc)
    assert man.count() == 15  # 5 columns x 3 pids
    assert decode_pipeline(spark, enc).count() == 600


def test_int96_legacy_timestamp_passthrough(spark, tmp_path):
    """FIXTURES.md F5: legacy INT96 timestamps read correctly (F8 parity:
    the reference flags parquet.avro.readInt96AsFixed per field or
    auto-detected; Spark's rebase confs are the engine equivalent)."""
    import datetime

    ts = [datetime.datetime(2001, 1, 1, 12, 0, 0),
          datetime.datetime(2020, 6, 15, 23, 59, 59)]
    t = pa.table({"id": pa.array([1, 2], pa.int64()),
                  "DATE_TIME": pa.array(ts, pa.timestamp("us"))})
    f = str(tmp_path / "legacy_ts.parquet")
    pq.write_table(t, f, use_deprecated_int96_timestamps=True)
    assert pq.ParquetFile(f).schema.column(1).physical_type == "INT96"

    spark.conf.set("spark.sql.parquet.int96RebaseModeInRead", "LEGACY")
    rows = spark.read.parquet(f).orderBy("id").collect()
    got = [r.DATE_TIME.replace(tzinfo=None) for r in rows]
    assert got == ts


def test_streaming_windowed_counts(spark, tmp_path):
    from parquet_toolkit_spark.streaming.windowed import windowed_event_counts

    landing = tmp_path / "ev"
    landing.mkdir()
    import datetime

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    for h in range(3):
        for i in range(10):
            rows.append((h * 100 + i, base + datetime.timedelta(hours=h, minutes=i),
                         "click" if i % 2 == 0 else "view", float(i)))
    t = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "event_type": pa.array([r[2] for r in rows], pa.string()),
        "value": pa.array([r[3] for r in rows], pa.float64()),
    })
    pq.write_table(t, landing / "ev0.parquet")

    out = windowed_event_counts(
        spark, str(landing),
        "event_id long, ts timestamp, event_type string, value double",
        query_name="wtest",
    )
    got = {(r.window_start, r.event_type): r.n for r in out.collect()}
    assert len(got) == 6  # 3 hourly windows x 2 types
    assert all(n == 5 for n in got.values())


def test_iceberg_compat_gating(spark):
    from parquet_toolkit_spark.sources import iceberg_compat

    if iceberg_compat.iceberg_available(spark):  # pragma: no cover
        pytest.skip("iceberg runtime present; gating path not applicable")
    with pytest.raises(NotImplementedError) as exc:
        iceberg_compat.read_table(spark, "cat.db.tbl")
    assert "iceberg-spark-runtime" in str(exc.value)


def test_csv_line_sep(spark, tmp_path):
    # reference withLineSeparator (CsvToParquetConverter.java:287-301):
    # records separated by a custom character instead of newline
    p = tmp_path / "pipe.csv"
    p.write_text("a,1;b,2;c,3;")
    df = csv_ingest.csv_to_df(
        spark, str(p), field_types={"name": "string", "v": "int"},
        header=False, line_sep=";",
    )
    rows = {(r.name, r.v) for r in df.collect() if r.name is not None}
    assert rows == {("a", 1), ("b", 2), ("c", 3)}


def test_int96_detect_compact_encode_roundtrip(spark, tmp_path):
    # VERDICT r1 #8: per-field INT96 parity — detect INT96 columns from
    # footers, compact an INT96 file preserving INT96 on the way out, and
    # run the codec encode/decode over the timestamps bit-exact
    import datetime

    ts = [datetime.datetime(2001, 1, 1, 12, 0, 0),
          datetime.datetime(2020, 6, 15, 23, 59, 59),
          datetime.datetime(1999, 12, 31, 0, 0, 1)]
    t = pa.table({"id": pa.array([1, 2, 3], pa.int64()),
                  "DATE_TIME": pa.array(ts, pa.timestamp("us")),
                  "note": pa.array(["a", "b", "c"])})
    src = str(tmp_path / "legacy96")
    os.makedirs(src)
    f = os.path.join(src, "part-0.parquet")
    pq.write_table(t, f, use_deprecated_int96_timestamps=True)

    def int96_columns(path):
        sch = pq.ParquetFile(path).schema
        return [sch.column(i).name for i in range(len(sch.names))
                if sch.column(i).physical_type == "INT96"]

    assert int96_columns(f) == ["DATE_TIME"]

    # compact preserving INT96 physical type on output
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        out = str(tmp_path / "compacted")
        from parquet_toolkit_spark.operators.layout import compact

        compact(spark, src, out, target_bytes=1 << 20)
        out_files = [os.path.join(out, n) for n in os.listdir(out)
                     if n.endswith(".parquet")]
        assert all(int96_columns(p) == ["DATE_TIME"] for p in out_files)
        got = {(r.id, r.DATE_TIME.replace(tzinfo=None))
               for r in spark.read.parquet(out).collect()}
        assert got == set(zip([1, 2, 3], ts))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType",
                       "TIMESTAMP_MICROS")

    # codec layer: the INT96-origin timestamps round-trip bit-exact
    from parquet_toolkit_spark.codecs.chunk import from_arrow, to_arrow
    from parquet_toolkit_spark.codecs.container import decode_blob
    from parquet_toolkit_spark.codecs.selector import select_codec

    arr = pq.read_table(f).column("DATE_TIME").combine_chunks()
    codec, blob, _ = select_codec(from_arrow(arr))
    assert to_arrow(decode_blob(blob)).cast(arr.type).equals(arr)


def test_dedup_stream_cross_batch(spark, tmp_path):
    # stateful streaming dedup: duplicates are dropped WITHIN a batch and
    # ACROSS batches (state persisted through the checkpoint)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.streaming.dedup_stream import dedup_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ddl = "doc_id LONG, text STRING"

    pq.write_table(pa.table({"doc_id": [3, 1, 2],
                             "text": ["same", "same", "other"]}),
                   str(landing / "b1.parquet"))
    dedup_stream(spark, str(landing), out, ckpt, ddl)
    got1 = {(r.doc_id, r.text) for r in spark.read.parquet(out).collect()}
    assert got1 == {(1, "same"), (2, "other")}  # min doc_id wins in-batch

    # batch 2: repeats of batch 1 + one new doc
    pq.write_table(pa.table({"doc_id": [9, 10], "text": ["same", "new"]}),
                   str(landing / "b2.parquet"))
    dedup_stream(spark, str(landing), out, ckpt, ddl)
    got2 = {(r.doc_id, r.text) for r in spark.read.parquet(out).collect()}
    assert got2 == got1 | {(10, "new")}  # "same" NOT re-emitted


def test_iceberg_metadata_reader(spark, tmp_path):
    # pure-python Iceberg METADATA layer: version resolution, schema ->
    # Spark DDL, snapshot log
    import json

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = tmp_path / "icetbl"
    (tdir / "metadata").mkdir(parents=True)
    (tdir / "data").mkdir()
    md = {
        "format-version": 2,
        "table-uuid": "0000-t",
        "location": str(tdir),
        "current-schema-id": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct",
            "fields": [
                {"id": 1, "name": "repo", "type": "string", "required": True},
                {"id": 2, "name": "path", "type": "string", "required": True},
                {"id": 3, "name": "commit", "type": "string", "required": True},
                {"id": 4, "name": "lang", "type": "string", "required": False},
                {"id": 5, "name": "content", "type": "string", "required": True},
                {"id": 6, "name": "emb", "type": {
                    "type": "list", "element-id": 7, "element": "float",
                    "element-required": False}, "required": False},
            ],
        }],
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "repo", "transform": "identity", "source-id": 1,
             "field-id": 1000}]}],
        "current-snapshot-id": 77,
        "snapshots": [{"snapshot-id": 77, "timestamp-ms": 1723800000000,
                       "manifest-list": "metadata/snap-77.avro",
                       "summary": {"operation": "append"}}],
        "properties": {"write.format.default": "parquet"},
    }
    (tdir / "metadata" / "v1.metadata.json").write_text(json.dumps(md))
    md2 = dict(md, **{"current-snapshot-id": 78})
    (tdir / "metadata" / "v2.metadata.json").write_text(json.dumps(md2))
    (tdir / "metadata" / "version-hint.text").write_text("2")

    got = ic.read_table_metadata(str(tdir))
    assert got["metadata_file"].endswith("v2.metadata.json")  # hint wins
    assert got["current_snapshot_id"] == 78
    assert got["schema_ddl"] == (
        "repo string, path string, commit string, lang string, "
        "content string, emb array<float>"
    )
    assert got["snapshots"][0]["manifest_list"] == "metadata/snap-77.avro"


def test_sessionize_stream_stitches_across_batches(spark, tmp_path):
    # a session spanning the micro-batch boundary must be counted ONCE
    import datetime as dtm

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.streaming.sessionize_stream import (
        final_totals,
        sessionize_stream,
    )

    landing = tmp_path / "landing"
    landing.mkdir()

    def ts(s):
        return dtm.datetime(2026, 1, 1) + dtm.timedelta(seconds=s)

    # batch 1: user 1 events at t=0,100; user 2 at t=0
    pq.write_table(pa.table({
        "user_id": [1, 1, 2], "ts": [ts(0), ts(100), ts(0)],
        "event_id": [1, 2, 3],
    }), str(landing / "b0.parquet"))
    # batch 2: user 1 continues the SAME session (t=200), then a new one
    # (t=5000); user 3 appears fresh
    pq.write_table(pa.table({
        "user_id": [1, 1, 3], "ts": [ts(200), ts(5000), ts(10)],
        "event_id": [4, 5, 6],
    }), str(landing / "b1.parquet"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    sessionize_stream(spark, str(landing), out, ckpt,
                      "user_id LONG, ts TIMESTAMP, event_id LONG", gap_s=1800)
    got = {r.user_id: (r.n_sessions, r.n_events)
           for r in final_totals(spark, out).collect()}
    assert got == {1: (2, 4), 2: (1, 1), 3: (1, 1)}


def test_avro_lite_roundtrip_and_codecs():
    # generic schema-driven container round-trip: records, unions, arrays,
    # maps, enums, fixed, named-type references — null and deflate codecs
    from parquet_toolkit_spark.sources.avro_lite import read_avro, write_avro

    schema = {
        "type": "record", "name": "outer", "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": ["null", "long"]},
            {"name": "d", "type": "double"},
            {"name": "flag", "type": "boolean"},
            {"name": "raw", "type": "bytes"},
            {"name": "fx", "type": {"type": "fixed", "name": "f8", "size": 8}},
            {"name": "kind", "type": {"type": "enum", "name": "k",
                                      "symbols": ["A", "B"]}},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "props", "type": {"type": "map", "values": "int"}},
            {"name": "inner", "type": {
                "type": "record", "name": "pt",
                "fields": [{"name": "x", "type": "int"},
                           {"name": "y", "type": "int"}]}},
            {"name": "inner2", "type": ["null", "pt"]},  # by-name reference
        ],
    }
    recs = [
        {"s": "héllo", "n": None, "d": 2.5, "flag": True, "raw": b"\x00\xff",
         "fx": b"12345678", "kind": "B", "tags": ["a", "b"],
         "props": {"k1": 1, "k2": -2}, "inner": {"x": 1, "y": -1},
         "inner2": {"x": 7, "y": 8}},
        {"s": "", "n": -12345678901, "d": -0.5, "flag": False, "raw": b"",
         "fx": b"abcdefgh", "kind": "A", "tags": [],
         "props": {}, "inner": {"x": 0, "y": 0}, "inner2": None},
    ]
    for codec in ("null", "deflate"):
        blob = write_avro(schema, recs, codec=codec)
        got_schema, got = read_avro(blob)
        assert got_schema == schema
        assert got == recs


def _ice_manifest_schemas():
    """Spec-shaped (subset) manifest-list and manifest-entry avro schemas."""
    mlist = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "content", "type": "int"},
            {"name": "added_snapshot_id", "type": "long"},
        ],
    }
    mentry = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102", "fields": []}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ]}},
        ],
    }
    return mlist, mentry


def _ice_entry(status, path, nrec, content=0, fmt="PARQUET"):
    return {"status": status, "snapshot_id": None,
            "data_file": {"content": content, "file_path": path,
                          "file_format": fmt, "partition": {},
                          "record_count": nrec, "file_size_in_bytes": 1}}


def test_iceberg_manifest_layer_exact_reads(spark, tmp_path):
    # hand-built v2 table: snapshot 1 appends two files, snapshot 2
    # DELETES one of them — the manifest layer must read the exact pruned
    # live set for each snapshot (VERDICT r2 #2) instead of raising
    import json

    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.avro_lite import write_avro

    tdir = tmp_path / "ice2"
    meta = tdir / "metadata"
    meta.mkdir(parents=True)
    (tdir / "data").mkdir()
    ddl = "repo string, path string, commit string, lang string, content string"
    rows1 = [("r1", "a.py", "c1", "py", "print(1)")]
    rows2 = [("r2", "b.py", "c2", "py", "print(2)"),
             ("r2", "c.py", "c3", "py", "print(3)")]
    f1, f2 = str(tdir / "data" / "f1.parquet"), str(tdir / "data" / "f2.parquet")
    for rows, f in ((rows1, f1), (rows2, f2)):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
            "overwrite").parquet(f + ".dir")
        import glob as _g
        import os as _os

        _os.replace(_g.glob(f + ".dir/part-*.parquet")[0], f)

    mlist_schema, mentry_schema = _ice_manifest_schemas()
    # snapshot 77: both files ADDED
    (meta / "m1.avro").write_bytes(write_avro(
        mentry_schema,
        [_ice_entry(1, f1, 1), _ice_entry(1, f2, 2)], codec="deflate"))
    (meta / "snap-77.avro").write_bytes(write_avro(
        mlist_schema,
        [{"manifest_path": str(meta / "m1.avro"), "manifest_length": 1,
          "partition_spec_id": 0, "content": 0, "added_snapshot_id": 77}]))
    # snapshot 78: f1 EXISTING, f2 DELETED
    (meta / "m2.avro").write_bytes(write_avro(
        mentry_schema, [_ice_entry(0, f1, 1), _ice_entry(2, f2, 2)]))
    (meta / "snap-78.avro").write_bytes(write_avro(
        mlist_schema,
        [{"manifest_path": str(meta / "m2.avro"), "manifest_length": 1,
          "partition_spec_id": 0, "content": 0, "added_snapshot_id": 78}]))

    md = {
        "format-version": 2, "table-uuid": "t2", "location": str(tdir),
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": i + 1, "name": n, "type": "string", "required": True}
            for i, n in enumerate(
                ["repo", "path", "commit", "lang", "content"])]}],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "current-snapshot-id": 78,
        "snapshots": [
            {"snapshot-id": 77, "timestamp-ms": 1, "manifest-list":
             str(meta / "snap-77.avro"), "summary": {"operation": "append"}},
            {"snapshot-id": 78, "timestamp-ms": 2, "manifest-list":
             str(meta / "snap-78.avro"), "summary": {"operation": "delete"}},
        ],
    }
    (meta / "v1.metadata.json").write_text(json.dumps(md))
    (meta / "version-hint.text").write_text("1")

    got_md = ic.read_table_metadata(str(tdir))
    assert got_md["schema_ddl"] == ddl  # schema_ddl unchanged by manifests

    # exact file lists per snapshot
    assert set(ic.snapshot_data_files(str(tdir), 77)) == {f1, f2}
    assert ic.snapshot_data_files(str(tdir)) == [f1]  # current = 78, pruned

    # reads: append snapshot = all rows; delete snapshot = pruned, NO raise
    got77 = {tuple(r) for r in ic.read_data(spark, str(tdir), 77).collect()}
    assert got77 == set(rows1) | set(rows2)
    got78 = {tuple(r) for r in ic.read_data(spark, str(tdir)).collect()}
    assert got78 == set(rows1)
    assert ic.read_data(spark, str(tdir)).schema.simpleString() == \
        ic.read_data(spark, str(tdir), 77).schema.simpleString()

    # live POSITIONAL delete files (v2 merge-on-read) are APPLIED on read
    # (VERDICT r3 #4): snapshot 79 = both data files + a delete file
    # removing f2's row 0
    del_pq = str(tdir / "data" / "del.parquet")
    pq.write_table(pa.table({"file_path": pa.array([f2], pa.string()),
                             "pos": pa.array([0], pa.int64())}), del_pq)
    (meta / "m3.avro").write_bytes(write_avro(
        mentry_schema, [_ice_entry(1, del_pq, 1, content=1)]))
    (meta / "snap-79.avro").write_bytes(write_avro(
        mlist_schema,
        [{"manifest_path": str(meta / "m1.avro"), "manifest_length": 1,
          "partition_spec_id": 0, "content": 0, "added_snapshot_id": 77},
         {"manifest_path": str(meta / "m3.avro"), "manifest_length": 1,
          "partition_spec_id": 0, "content": 1, "added_snapshot_id": 79}]))
    md3 = dict(md, **{"current-snapshot-id": 79,
                      "snapshots": md["snapshots"] + [
                          {"snapshot-id": 79, "timestamp-ms": 3,
                           "manifest-list": str(meta / "snap-79.avro"),
                           "summary": {"operation": "delete"}}]})
    (meta / "v2.metadata.json").write_text(json.dumps(md3))
    (meta / "version-hint.text").write_text("2")
    # the file LIST is unchanged by row-level deletes...
    assert set(ic.snapshot_data_files(str(tdir))) == {f1, f2}
    # ...but the ROWS drop exactly f2's position 0
    dropped = tuple(
        pq.read_table(f2).slice(0, 1).to_pylist()[0][c]
        for c in ["repo", "path", "commit", "lang", "content"])
    got79 = {tuple(r) for r in ic.read_data(spark, str(tdir)).collect()}
    assert got79 == (set(rows1) | set(rows2)) - {dropped}

    # EQUALITY delete files (content=2) still refuse loudly
    (meta / "m4.avro").write_bytes(write_avro(
        mentry_schema, [_ice_entry(1, del_pq, 1, content=2)]))
    (meta / "snap-80.avro").write_bytes(write_avro(
        mlist_schema,
        [{"manifest_path": str(meta / "m4.avro"), "manifest_length": 1,
          "partition_spec_id": 0, "content": 1, "added_snapshot_id": 80}]))
    md4 = dict(md3, **{"current-snapshot-id": 80,
                       "snapshots": md3["snapshots"] + [
                           {"snapshot-id": 80, "timestamp-ms": 4,
                            "manifest-list": str(meta / "snap-80.avro"),
                            "summary": {"operation": "overwrite"}}]})
    (meta / "v3.metadata.json").write_text(json.dumps(md4))
    (meta / "version-hint.text").write_text("3")
    with pytest.raises(NotImplementedError, match="EQUALITY"):
        ic.snapshot_data_files(str(tdir))


def test_iceberg_manifest_relocated_table(spark, tmp_path):
    # manifests written at an old location: paths re-root under table_dir
    import json

    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.avro_lite import write_avro

    tdir = tmp_path / "moved"
    meta = tdir / "metadata"
    meta.mkdir(parents=True)
    (tdir / "data").mkdir()
    old = "/somewhere/else/tbl"
    spark.createDataFrame([(1,)], "v long").coalesce(1).write.mode(
        "overwrite").parquet(str(tdir / "data" / "d0"))
    import glob as _g
    import os as _os

    f_real = str(tdir / "data" / "f.parquet")
    _os.replace(_g.glob(str(tdir / "data" / "d0" / "part-*.parquet"))[0], f_real)

    mlist_schema, mentry_schema = _ice_manifest_schemas()
    (meta / "m.avro").write_bytes(write_avro(
        mentry_schema, [_ice_entry(1, f"{old}/data/f.parquet", 1)]))
    (meta / "snap-1.avro").write_bytes(write_avro(
        mlist_schema,
        [{"manifest_path": f"{old}/metadata/m.avro", "manifest_length": 1,
          "partition_spec_id": 0, "content": 0, "added_snapshot_id": 1}]))
    md = {
        "format-version": 2, "table-uuid": "m1", "location": old,
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "v", "type": "long", "required": True}]}],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1, "manifest-list":
                       f"{old}/metadata/snap-1.avro",
                       "summary": {"operation": "append"}}],
    }
    (meta / "v1.metadata.json").write_text(json.dumps(md))
    (meta / "version-hint.text").write_text("1")

    assert ic.snapshot_data_files(str(tdir)) == [f_real]
    assert ic.read_data(spark, str(tdir)).collect()[0][0] == 1


def test_driverfs_jvm_route_all_ops(spark, tmp_path, monkeypatch):
    # VERDICT r2 missing #2: the Hadoop-FS branch had never executed (all
    # tests use bare/file: paths -> POSIX). Force _use_jvm so every py4j
    # call in DriverFS runs against the JVM LocalFileSystem — the same
    # code path hdfs:///s3a:// take on a cluster. (A custom mockfs://
    # scheme can't reuse RawLocalFileSystem: its checkPath pins file:///.)
    from parquet_toolkit_spark.sources.fs import DriverFS

    monkeypatch.setattr(
        DriverFS, "_use_jvm",
        lambda self, path: self._jvm is not None, raising=True)
    fs = DriverFS(spark)
    root = str(tmp_path)
    assert fs._use_jvm(root)  # sanity: this IS the JVM branch

    fs.mkdirs(f"{root}/sub/dir")
    assert fs.exists(f"{root}/sub/dir")
    fs.write_text(f"{root}/sub/a.txt", "héllo ☃")
    assert fs.read_text(f"{root}/sub/a.txt") == "héllo ☃"
    assert fs.read_bytes(f"{root}/sub/a.txt") == "héllo ☃".encode()
    fs.write_text(f"{root}/sub/b.txt", "xy")

    # the JVM LocalFileSystem is checksummed: ignore its .crc sidecars
    files = [(os.path.basename(p), s) for p, s in fs.list_files(f"{root}/sub")
             if not os.path.basename(p).startswith(".")]
    assert files == [("a.txt", len("héllo ☃".encode())), ("b.txt", 2)]
    assert [os.path.basename(d.rstrip("/")) for d in fs.list_dirs(f"{root}/sub")] \
        == ["dir"]
    assert fs.file_size(f"{root}/sub/b.txt") == 2
    assert fs.total_size(f"{root}/sub") >= len("héllo ☃".encode()) + 2
    assert fs.total_size_recursive(root) >= fs.total_size(f"{root}/sub")

    assert fs.rename(f"{root}/sub/b.txt", f"{root}/sub/c.txt")
    assert not fs.exists(f"{root}/sub/b.txt") and fs.exists(f"{root}/sub/c.txt")
    assert fs.delete(f"{root}/sub/c.txt", recursive=False)
    assert not fs.exists(f"{root}/sub/c.txt")
    assert fs.delete(f"{root}/sub", recursive=True)
    assert not fs.exists(f"{root}/sub")


def test_encode_pipeline_through_jvm_control_plane(spark, tmp_path, monkeypatch):
    # Force EVERY DriverFS call in the encode/decode pipeline through the
    # Hadoop FileSystem (the route hdfs:///s3a:// would take), with the
    # task-side pyarrow data plane unchanged — a typo in the py4j calls
    # must fail HERE, not on the first real cluster.
    from parquet_toolkit_spark.operators.encode import (
        decode_pipeline,
        encode_partitions,
        layout_stage,
    )
    from parquet_toolkit_spark.sources.fs import DriverFS

    monkeypatch.setattr(
        DriverFS, "_use_jvm",
        lambda self, path: self._jvm is not None, raising=True)

    df = spark.createDataFrame(
        [(f"r{i%3}", f"f{i}.py", f"c{i}", "py", f"line {i}\n" * 10)
         for i in range(200)],
        "repo string, path string, commit string, lang string, content string")
    staging = str(tmp_path / "stage_jvm")
    enc = str(tmp_path / "enc_jvm")
    layout_stage(spark, df, staging, target_bytes=64 << 10)
    man = encode_partitions(spark, staging, enc, run_id="jvm")
    assert man.where("status = 'committed'").count() > 0
    back = decode_pipeline(spark, enc)
    assert back.count() == 200
    a = {tuple(r) for r in df.collect()}
    b = {tuple(r) for r in back.select(*df.columns).collect()}
    assert a == b


def test_sessionize_stream_rejects_out_of_order_batches(spark, tmp_path):
    # VERDICT r2 wrong #4: files arriving out of event-time order used to
    # silently inflate session counts; now the state guard fails loudly
    import datetime as dtm

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from parquet_toolkit_spark.streaming.sessionize_stream import (
        sessionize_stream,
    )

    landing = tmp_path / "landing"
    landing.mkdir()

    def ts(s):
        return dtm.datetime(2026, 1, 1) + dtm.timedelta(seconds=s)

    # drain 1 freezes events older than max-lateness (wm = 10000-1800);
    # drain 2 then lands an event BELOW that committed watermark -> abort
    # (disorder within the window is absorbed; see the converge test).
    # Sequential drains on one checkpoint pin the arrival order — the
    # file source does not promise filename order within a drain.
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    ddl = "user_id LONG, ts TIMESTAMP, event_id LONG"
    pq.write_table(pa.table({
        "user_id": [1, 1, 1], "ts": [ts(0), ts(100), ts(10000)],
        "event_id": [1, 2, 3],
    }), str(landing / "b0.parquet"))
    sessionize_stream(spark, str(landing), out, ckpt, ddl,
                      gap_s=1800, lateness_s=1800)
    pq.write_table(pa.table({
        "user_id": [1], "ts": [ts(3000)], "event_id": [4],
    }), str(landing / "b1.parquet"))
    with pytest.raises((StreamingQueryException, Exception)) as exc:
        sessionize_stream(spark, str(landing), out, ckpt, ddl,
                          gap_s=1800, lateness_s=1800)
    assert "out-of-order" in str(exc.value) or "BEFORE committed" in str(
        exc.value)


def test_iceberg_write_table_roundtrip(spark, tmp_path):
    # pure-python Iceberg v2 COMMIT path: two appends -> two snapshots;
    # our own manifest-layer reader must read back both exactly
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "wtable")
    ddl = "repo string, path string, commit string, lang string, content string"
    rows1 = [(f"r{i % 2}", f"f{i}.py", f"c{i}", "py", f"body {i}")
             for i in range(10)]
    rows2 = [("r9", "z.py", "c9", "py", "late file")]

    info1 = ic.write_table(spark, spark.createDataFrame(rows1, ddl), tdir)
    assert info1["snapshot_id"] == 1 and info1["version"] == 1
    got1 = {tuple(r) for r in ic.read_data(spark, tdir).collect()}
    assert got1 == set(rows1)

    info2 = ic.write_table(spark, spark.createDataFrame(rows2, ddl), tdir)
    assert info2["snapshot_id"] == 2 and info2["version"] == 2
    assert info2["sequence_number"] == 2
    got2 = {tuple(r) for r in ic.read_data(spark, tdir).collect()}
    assert got2 == set(rows1) | set(rows2)

    # time travel back to snapshot 1
    back1 = {tuple(r) for r in ic.read_data(spark, tdir, snapshot_id=1).collect()}
    assert back1 == set(rows1)

    # the metadata layer agrees with the manifests
    md = ic.read_table_metadata(tdir)
    assert md["current_snapshot_id"] == 2
    assert len(md["snapshots"]) == 2
    assert md["schema_ddl"] == ddl
    files2 = ic.snapshot_data_files(tdir)
    assert len(files2) == len(info1["files"]) + len(info2["files"])

    # appending a different schema refuses loudly
    with pytest.raises(ValueError, match="schema mismatch"):
        ic.write_table(
            spark, spark.createDataFrame([(1,)], "x long"), tdir)


def test_iceberg_write_refuses_foreign_metadata(spark, tmp_path):
    # code-review r3: a metadata dir with files but no resolvable
    # vN.metadata.json (catalog-style names) must refuse, not re-init
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = tmp_path / "foreign"
    (tdir / "metadata").mkdir(parents=True)
    (tdir / "metadata" / "00001-abc.metadata.json").write_text("{}")
    with pytest.raises(ValueError, match="refusing to"):
        ic.write_table(spark, spark.createDataFrame([(1,)], "v long"),
                       str(tdir))


def test_iceberg_expire_snapshots(spark, tmp_path):
    # append, append, hand-committed delete snapshot, then expire: files
    # live only in dropped snapshots are physically removed, the current
    # snapshot still reads exactly, history is truncated
    import json

    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.avro_lite import write_avro

    tdir = str(tmp_path / "exp")
    ddl = "repo string, path string, commit string, lang string, content string"
    rows1 = [("r1", "a.py", "c1", "py", "one")]
    rows2 = [("r2", "b.py", "c2", "py", "two")]
    ic.write_table(spark, spark.createDataFrame(rows1, ddl), tdir)
    info2 = ic.write_table(spark, spark.createDataFrame(rows2, ddl), tdir)
    files1 = set(ic.snapshot_data_files(tdir, 1))
    files2 = set(ic.snapshot_data_files(tdir, 2)) - files1

    # snapshot 3: rewrite-style delete of files2 (files1 stay live)
    meta = os.path.join(tdir, "metadata")

    def entry(status, p):
        return {"status": status, "snapshot_id": 3, "sequence_number": None,
                "file_sequence_number": None,
                "data_file": {"content": 0, "file_path": p,
                              "file_format": "PARQUET", "partition": {},
                              "record_count": 1,
                              "file_size_in_bytes": os.path.getsize(p),
                              "split_offsets": None, "sort_order_id": None}}

    m3 = os.path.join(meta, "m3.avro")
    with open(m3, "wb") as fh:
        fh.write(write_avro(
            ic.MANIFEST_ENTRY_AVRO,
            [entry(0, p) for p in sorted(files1)]
            + [entry(2, p) for p in sorted(files2)]))
    ml3 = os.path.join(meta, "snap-3.avro")
    with open(ml3, "wb") as fh:
        fh.write(write_avro(ic.MANIFEST_FILE_AVRO, [{
            "manifest_path": m3, "manifest_length": os.path.getsize(m3),
            "partition_spec_id": 0, "content": 0, "sequence_number": 3,
            "min_sequence_number": 3, "added_snapshot_id": 3,
            "added_files_count": 0, "existing_files_count": len(files1),
            "deleted_files_count": len(files2),
            "added_rows_count": 0, "existing_rows_count": 1,
            "deleted_rows_count": 1}]))
    with open(os.path.join(meta, f"v{info2['version']}.metadata.json")) as fh:
        md = json.load(fh)
    md["snapshots"].append({"snapshot-id": 3, "sequence-number": 3,
                            "timestamp-ms": 9, "manifest-list": ml3,
                            "summary": {"operation": "delete"}})
    md["current-snapshot-id"] = 3
    md["last-sequence-number"] = 3
    v3 = info2["version"] + 1
    with open(os.path.join(meta, f"v{v3}.metadata.json"), "w") as fh:
        fh.write(json.dumps(md))
    with open(os.path.join(meta, "version-hint.text"), "w") as fh:
        fh.write(str(v3))

    assert {tuple(r) for r in ic.read_data(spark, tdir).collect()} == set(rows1)

    out = ic.expire_snapshots(spark, tdir, keep_last=1)
    assert out["removed_snapshots"] == 2
    # files2 lived only in dropped snapshots -> physically gone
    assert all(not os.path.exists(p) for p in files2)
    assert all(os.path.exists(p) for p in files1)
    # current snapshot unchanged, history truncated
    assert {tuple(r) for r in ic.read_data(spark, tdir).collect()} == set(rows1)
    md2 = ic.read_table_metadata(tdir)
    assert len(md2["snapshots"]) == 1 and md2["current_snapshot_id"] == 3
    with pytest.raises(ValueError, match="not found"):
        ic.snapshot_data_files(tdir, 1)


def test_avro_lite_rejects_malformed():
    from parquet_toolkit_spark.sources.avro_lite import read_avro, write_avro

    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "long"}]}
    good = write_avro(schema, [{"x": 1}, {"x": 2}])

    with pytest.raises(ValueError, match="magic"):
        read_avro(b"NOPE" + good[4:])
    with pytest.raises(EOFError):
        read_avro(good[:len(good) - 17])  # sync gone + torn payload
    # corrupt the trailing sync marker -> mismatch vs header sync
    with pytest.raises(ValueError, match="sync"):
        read_avro(good[:-16] + b"\xff" * 16)
    with pytest.raises(NotImplementedError, match="codec"):
        write_avro(schema, [{"x": 1}], codec="snappy")


def test_decode_pids_pruning_is_exact(spark, tmp_path):
    # decode_pipeline(pids={p}) must schedule/return ONLY that partition
    from parquet_toolkit_spark.operators.encode import (
        decode_pipeline,
        encode_pipeline,
    )

    df = spark.createDataFrame(
        [(f"r{i % 4}", f"f{i}.py", f"c{i}", "py", f"line {i}\n" * 5)
         for i in range(400)],
        "repo string, path string, commit string, lang string, content string")
    enc = str(tmp_path / "enc_pids")
    encode_pipeline(spark, df, enc, target_bytes=4 << 10, run_id="pp")
    all_pids = {r.pid for r in decode_pipeline(spark, enc, keep_pid=True)
                .select("pid").distinct().collect()}
    assert len(all_pids) >= 3
    one = sorted(all_pids)[1]
    got = decode_pipeline(spark, enc, keep_pid=True, pids={one})
    assert {r.pid for r in got.select("pid").distinct().collect()} == {one}


def test_iceberg_delete_where_merge_on_read(spark, tmp_path):
    # merge-on-read DELETE: positional delete snapshot, applied on read,
    # time travel sees pre-delete rows (VERDICT r3 #4)
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "mor")
    rows = [(i, f"name{i}", i % 3) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, name string, grp long")
    c1 = ic.write_table(spark, df, tdir)

    d = ic.delete_where(spark, tdir, "grp = 1")
    assert d["deleted_rows"] == 10
    got = {r.id for r in ic.read_data(spark, tdir).collect()}
    assert got == {i for i in range(30) if i % 3 != 1}
    # file list unchanged (no rewrite happened)
    assert len(ic.snapshot_data_files(tdir)) == len(c1["files"])
    # time travel to the append snapshot: all 30 rows
    pre = {r.id for r in ic.read_data(spark, tdir, c1["snapshot_id"]).collect()}
    assert pre == set(range(30))

    # a second delete composes with the first
    d2 = ic.delete_where(spark, tdir, "id = 0")
    assert d2["deleted_rows"] == 1
    got2 = {r.id for r in ic.read_data(spark, tdir).collect()}
    assert got2 == {i for i in range(1, 30) if i % 3 != 1}

    # deleting nothing commits nothing
    d3 = ic.delete_where(spark, tdir, "id = -5")
    assert d3["deleted_rows"] == 0 and d3["snapshot_id"] is None


def test_iceberg_rewrite_data_files_replace_snapshot(spark, tmp_path):
    # VERDICT r3 #5: compact-with-delete-inputs as a replace snapshot;
    # time travel intact; expire reclaims the replaced files
    import glob as _g

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "rw")
    df1 = spark.createDataFrame([(i, f"a{i}") for i in range(20)],
                                "id long, v string")
    df2 = spark.createDataFrame([(i, f"b{i}") for i in range(20, 40)],
                                "id long, v string")
    c1 = ic.write_table(spark, df1, tdir)
    c2 = ic.write_table(spark, df2, tdir)
    ic.delete_where(spark, tdir, "id = 39")
    n_before = len(_g.glob(str(tmp_path / "rw" / "data" / "*.parquet")))

    rw = ic.rewrite_data_files(spark, tdir, target_file_rows=100)
    # exact rows at the new snapshot (delete absorbed, no delete files)
    got = {r.id for r in ic.read_data(spark, tdir).collect()}
    assert got == set(range(39))
    sf = ic.snapshot_files(tdir)
    assert sf["position_deletes"] == []
    assert set(sf["data"]) == set(rw["files"])
    # time travel still reads the old snapshots exactly
    assert {r.id for r in
            ic.read_data(spark, tdir, c1["snapshot_id"]).collect()} == \
        set(range(20))
    assert {r.id for r in
            ic.read_data(spark, tdir, c2["snapshot_id"]).collect()} == \
        set(range(40))

    # expire everything but the rewrite -> replaced data + delete files go
    out = ic.expire_snapshots(spark, tdir, keep_last=1)
    assert out["removed_snapshots"] == 3
    left = set(_g.glob(str(tmp_path / "rw" / "data" / "*.parquet")))
    assert left == set(rw["files"])
    assert len(left) < n_before
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == \
        set(range(39))


def test_iceberg_relocated_table_append(spark, tmp_path):
    # ADVICE r4 medium: appending to a MOVED table must keep prior
    # snapshots readable (location carried forward, not overwritten)
    import shutil

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    src_dir = str(tmp_path / "orig")
    dst_dir = str(tmp_path / "moved_here")
    df1 = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    c1 = ic.write_table(spark, df1, src_dir)
    shutil.move(src_dir, dst_dir)

    df2 = spark.createDataFrame([(3, "z")], "id long, v string")
    ic.write_table(spark, df2, dst_dir)
    got = {r.id for r in ic.read_data(spark, dst_dir).collect()}
    assert got == {1, 2, 3}
    # the first snapshot still resolves AT THE NEW LOCATION
    pre = {r.id for r in
           ic.read_data(spark, dst_dir, c1["snapshot_id"]).collect()}
    assert pre == {1, 2}


def test_iceberg_expire_crash_window_rerunnable(spark, tmp_path):
    # ADVICE r4 medium: metadata commits BEFORE file deletion, and a
    # rerun after a crash mid-delete (manifests already gone) succeeds
    import glob as _g
    import os

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "exp")
    for k in range(3):
        df = spark.createDataFrame([(k, "v")], "id long, v string")
        ic.write_table(spark, df, tdir)

    # simulate the old-bug crash shape: delete a doomed snapshot's
    # manifest list by hand, then run expire — must not raise
    md = ic.read_table_metadata(tdir)
    oldest = sorted(md["snapshots"], key=lambda s: s["snapshot_id"])[0]
    os.remove(oldest["manifest_list"])
    out = ic.expire_snapshots(spark, tdir, keep_last=1)
    assert out["removed_snapshots"] == 2
    # table still reads exactly, and a re-run is a no-op
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == {0, 1, 2}
    again = ic.expire_snapshots(spark, tdir, keep_last=1)
    assert again["removed_snapshots"] == 0


def test_sessionize_stream_reordered_halves_converge(spark, tmp_path):
    # VERDICT r3 #6: the event halves land in REVERSE event-time order but
    # within the lateness window — totals must converge to the batch
    # sessionizer exactly instead of aborting
    import datetime as dtm

    from parquet_toolkit_spark.streaming.sessionize_stream import (
        final_totals,
        sessionize_stream,
    )

    landing = tmp_path / "landing"
    landing.mkdir()

    def ts(s):
        return dtm.datetime(2026, 1, 1) + dtm.timedelta(seconds=s)

    # user 1 timeline: 0, 100, 200 | (gap) | 5000, 5100 -> 2 sessions.
    # the LATER chunk lands (and drains) FIRST; all disorder within
    # lateness 6000. Sequential drains pin the arrival order.
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    ddl = "user_id LONG, ts TIMESTAMP, event_id LONG"
    pq.write_table(pa.table({
        "user_id": [1, 1], "ts": [ts(5000), ts(5100)], "event_id": [4, 5],
    }), str(landing / "b0.parquet"))
    sessionize_stream(spark, str(landing), out, ckpt, ddl,
                      gap_s=1800, lateness_s=6000)
    pq.write_table(pa.table({
        "user_id": [1, 1, 1], "ts": [ts(0), ts(100), ts(200)],
        "event_id": [1, 2, 3],
    }), str(landing / "b1.parquet"))
    sessionize_stream(spark, str(landing), out, ckpt, ddl,
                      gap_s=1800, lateness_s=6000)
    got = {r.user_id: (r.n_sessions, r.n_events)
           for r in final_totals(spark, out).collect()}
    assert got == {1: (2, 5)}


def test_iceberg_equality_delete_merge_on_read(spark, tmp_path):
    # v2 equality deletes: key-based merge-on-read DELETE with sequence
    # scoping — rows appended AFTER the delete with the same key survive
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "eq")
    df1 = spark.createDataFrame(
        [(i, f"u{i % 5}", i * 10) for i in range(20)],
        "id long, user string, amount long")
    c1 = ic.write_table(spark, df1, tdir)

    # delete by key derived from a condition (user u1 -> ids 1,6,11,16)
    d = ic.delete_where_equality(spark, tdir, ["user"], condition="user = 'u1'")
    assert d["key_rows"] == 1
    got = {r.id for r in ic.read_data(spark, tdir).collect()}
    assert got == {i for i in range(20) if i % 5 != 1}
    # data file list unchanged; time travel sees pre-delete rows
    assert len(ic.snapshot_data_files(tdir)) == len(c1["files"])
    pre = {r.id for r in ic.read_data(spark, tdir, c1["snapshot_id"]).collect()}
    assert pre == set(range(20))

    # sequence scoping: re-append a row with the deleted key AFTER the
    # delete commit — it must survive (data seq > delete seq)
    df2 = spark.createDataFrame([(100, "u1", 999)],
                                "id long, user string, amount long")
    ic.write_table(spark, df2, tdir)
    got2 = {r.id for r in ic.read_data(spark, tdir).collect()}
    assert 100 in got2
    assert got2 == {i for i in range(20) if i % 5 != 1} | {100}

    # explicit multi-column keys DataFrame; composes with prior delete
    keys = spark.createDataFrame([(0, "u0"), (5, "u0")], "id long, user string")
    d2 = ic.delete_where_equality(spark, tdir, ["id", "user"], keys=keys)
    assert d2["key_rows"] == 2
    got3 = {r.id for r in ic.read_data(spark, tdir).collect()}
    assert got3 == ({i for i in range(20) if i % 5 != 1} | {100}) - {0, 5}

    # empty key set commits nothing
    d3 = ic.delete_where_equality(spark, tdir, ["user"],
                                  condition="user = 'nope'")
    assert d3["key_rows"] == 0 and d3["snapshot_id"] is None


def test_iceberg_equality_delete_rewrite_and_expire(spark, tmp_path):
    # rewrite_data_files absorbs equality-delete debt; expire reclaims
    # the equality delete files with the old snapshots
    import glob as _g

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "eqrw")
    df = spark.createDataFrame([(i, i % 4) for i in range(40)],
                               "id long, bucket long")
    ic.write_table(spark, df, tdir)
    ic.delete_where_equality(spark, tdir, ["bucket"], condition="bucket = 3")

    rw = ic.rewrite_data_files(spark, tdir)
    sf = ic.snapshot_files(tdir)
    assert sf["equality_deletes"] == [] and sf["position_deletes"] == []
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == \
        {i for i in range(40) if i % 4 != 3}

    out = ic.expire_snapshots(spark, tdir, keep_last=1)
    assert out["removed_snapshots"] == 2
    left = set(_g.glob(str(tmp_path / "eqrw" / "data" / "*.parquet")))
    assert left == set(rw["files"])  # eq-delete parquet reclaimed too
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == \
        {i for i in range(40) if i % 4 != 3}


def test_iceberg_equality_delete_null_keys(spark, tmp_path):
    # null-safe equality: a null key tuple deletes rows with null keys
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "eqnull")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id long, tag string")
    ic.write_table(spark, df, tdir)
    keys = spark.createDataFrame([(None,)], "tag string")
    d = ic.delete_where_equality(spark, tdir, ["tag"], keys=keys)
    assert d["key_rows"] == 1
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == {1, 3}


def test_iceberg_partitioned_write_read_prune(spark, tmp_path):
    # identity partition spec: values live in the manifest's typed
    # partition record; reads re-inject them; partition_filter prunes at
    # the metadata layer (non-matching files never opened)
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "pt")
    rows = [(i, ["py", "go", "rs"][i % 3], f"body{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "id long, lang string, content string")
    ic.write_table(spark, df, tdir, partition_by=["lang"])

    # spec recorded in metadata
    md = ic.read_table_metadata(tdir)
    spec = md["partition_specs"][0]["fields"]
    assert [f["name"] for f in spec] == ["lang"]
    assert spec[0]["transform"] == "identity"

    # full read: partition column re-injected exactly
    got = {(r.id, r.lang) for r in ic.read_data(spark, tdir).collect()}
    assert got == {(i, ["py", "go", "rs"][i % 3]) for i in range(30)}

    # manifest-level pruning: only the matching files are listed
    sf_all = ic.snapshot_files(tdir)
    sf_py = ic.snapshot_files(tdir, partition_filter={"lang": "py"})
    assert 0 < len(sf_py["data"]) < len(sf_all["data"])
    assert all(sf_py["partition_values"][p]["lang"] == "py"
               for p in sf_py["data"])
    pruned = {r.id for r in
              ic.read_data(spark, tdir,
                           partition_filter={"lang": "py"}).collect()}
    assert pruned == {i for i in range(30) if i % 3 == 0}

    # appends inherit the spec; mismatched respec refuses
    df2 = spark.createDataFrame([(100, "py", "x")],
                                "id long, lang string, content string")
    ic.write_table(spark, df2, tdir)
    assert 100 in {r.id for r in
                   ic.read_data(spark, tdir,
                                partition_filter={"lang": "py"}).collect()}
    with pytest.raises(ValueError, match="partition spec mismatch"):
        ic.write_table(spark, df2, tdir, partition_by=["id"])

    # unpartitioned table refuses a partitioned append
    tdir2 = str(tmp_path / "flat")
    ic.write_table(spark, df, tdir2)
    with pytest.raises(ValueError, match="partition spec mismatch"):
        ic.write_table(spark, df2, tdir2, partition_by=["lang"])


def test_iceberg_partitioned_deletes_and_rewrite(spark, tmp_path):
    # merge-on-read deletes and compaction preserve the partition spec
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "ptd")
    rows = [(i, "even" if i % 2 == 0 else "odd", i * 2) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, par string, v long")
    ic.write_table(spark, df, tdir, partition_by=["par"])

    # positional delete on a predicate over a NON-partition column
    ic.delete_where(spark, tdir, "id < 4")
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == \
        set(range(4, 20))
    # equality delete on the partition column itself
    ic.delete_where_equality(spark, tdir, ["par"], condition="par = 'odd'")
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == \
        {i for i in range(4, 20) if i % 2 == 0}

    # rewrite keeps the spec: new files carry manifest partition values
    rw = ic.rewrite_data_files(spark, tdir)
    sf = ic.snapshot_files(tdir)
    assert set(sf["data"]) == set(rw["files"])
    assert all(p in sf["partition_values"] for p in sf["data"])
    assert {r.id for r in
            ic.read_data(spark, tdir,
                         partition_filter={"par": "even"}).collect()} == \
        {i for i in range(4, 20) if i % 2 == 0}
    assert ic.read_data(spark, tdir,
                        partition_filter={"par": "odd"}).count() == 0


def test_iceberg_partitioned_null_values(spark, tmp_path):
    # null partition values round-trip through the hive dir encoding and
    # the manifest record
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "ptnull")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id long, k string")
    ic.write_table(spark, df, tdir, partition_by=["k"])
    got = {(r.id, r.k) for r in ic.read_data(spark, tdir).collect()}
    assert got == {(1, "a"), (2, None), (3, "b"), (4, None)}
    # integer partition values parse back typed
    tdir2 = str(tmp_path / "ptint")
    df2 = spark.createDataFrame([(1, 10), (2, 20), (3, 10)],
                                "id long, bucket long")
    ic.write_table(spark, df2, tdir2, partition_by=["bucket"])
    assert {r.id for r in
            ic.read_data(spark, tdir2,
                         partition_filter={"bucket": 10}).collect()} == {1, 3}


def test_iceberg_schema_evolution_add_column(spark, tmp_path):
    # append-only column adds: new schema-id, field ids continue from
    # last-column-id, old snapshots time-travel with their own schema
    import json

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "evo")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    c1 = ic.write_table(spark, df1, tdir)

    df2 = spark.createDataFrame([(3, "c", 30)], "id long, v string, extra long")
    with pytest.raises(ValueError, match="allow_schema_evolution"):
        ic.write_table(spark, df2, tdir)
    c2 = ic.write_table(spark, df2, tdir, allow_schema_evolution=True)

    # current read: old rows null-fill the added column
    got = {(r.id, r.v, r.extra) for r in ic.read_data(spark, tdir).collect()}
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 30)}

    # time travel to the pre-evolution snapshot: ITS schema, no extra col
    pre = ic.read_data(spark, tdir, c1["snapshot_id"])
    assert pre.columns == ["id", "v"]
    assert {(r.id, r.v) for r in pre.collect()} == {(1, "a"), (2, "b")}

    # metadata invariants: schema history retained, ids never reused
    with open(ic.read_table_metadata(tdir)["metadata_file"]) as fh:
        md = json.load(fh)
    assert len(md["schemas"]) == 2
    assert md["current-schema-id"] == 1
    assert md["last-column-id"] == 3
    new_schema = next(s for s in md["schemas"] if s["schema-id"] == 1)
    assert [(f["name"], f["id"]) for f in new_schema["fields"]] == \
        [("id", 1), ("v", 2), ("extra", 3)]

    # plain append of the evolved schema keeps the history intact
    ic.write_table(spark, spark.createDataFrame(
        [(4, "d", 40)], "id long, v string, extra long"), tdir)
    with open(ic.read_table_metadata(tdir)["metadata_file"]) as fh:
        md2 = json.load(fh)
    assert len(md2["schemas"]) == 2 and md2["current-schema-id"] == 1
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == {1, 2, 3, 4}

    # equality delete on the ADDED column uses its evolved field id
    d = ic.delete_where_equality(spark, tdir, ["extra"], condition="extra = 30")
    assert d["key_rows"] == 1
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == {1, 2, 4}

    # type changes refuse even with evolution on
    bad = spark.createDataFrame([(5, 9, 1)], "id long, v long, extra long")
    with pytest.raises(ValueError, match="schema mismatch"):
        ic.write_table(spark, bad, tdir, allow_schema_evolution=True)
    # still-older snapshot readable after all of it (c2 schema has extra)
    assert ic.read_data(spark, tdir, c2["snapshot_id"]).columns == \
        ["id", "v", "extra"]


def test_csv_allow_missing_column_names(spark, tmp_path):
    # reference withAllowMissingColumnNames parity: empty header cells
    # refuse by default, opt in to get Spark's synthesized _cN names
    from parquet_toolkit_spark.sources.csv_ingest import csv_to_df

    p = str(tmp_path / "m.csv")
    with open(p, "w") as fh:
        fh.write("a,,b\n1,2,3\n4,5,6\n")
    with pytest.raises(ValueError, match="allow_missing_column_names"):
        csv_to_df(spark, p)
    df = csv_to_df(spark, p, allow_missing_column_names=True)
    assert df.columns == ["a", "_c1", "b"]
    assert df.count() == 2
    # a clean header is unaffected by the default check
    p2 = str(tmp_path / "ok.csv")
    with open(p2, "w") as fh:
        fh.write("x,y\n7,8\n")
    assert csv_to_df(spark, p2).columns == ["x", "y"]


def test_iceberg_file_bounds_range_pruning(spark, tmp_path):
    # per-file column bounds from parquet footers land in the manifest;
    # range_filter prunes files at the metadata layer
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "zb")
    df = (spark.range(0, 1000)
          .selectExpr("id", "concat('u', lpad(cast(id as string), 4, '0')) AS name")
          .repartitionByRange(4, "id"))
    ic.write_table(spark, df, tdir)
    sf_all = ic.snapshot_files(tdir)
    assert len(sf_all["data"]) == 4

    # manifest entries carry bounds
    man = ic.read_manifest(
        ic._resolve_path(
            ic.read_manifest_list(
                ic._resolve_path(
                    ic.read_table_metadata(tdir)["snapshots"][0]["manifest_list"],
                    tdir, tdir),
            )[0]["manifest_path"], tdir, tdir))
    assert all(e["data_file"]["lower_bounds"] for e in man)

    # long range: only files whose [lo, hi] intersect are listed
    sf = ic.snapshot_files(tdir, range_filter={"id": (0, 10)})
    assert len(sf["data"]) == 1
    got = {r.id for r in
           ic.read_data(spark, tdir, range_filter={"id": (0, 10)})
           .where("id <= 10").collect()}
    assert got == set(range(11))

    # string bounds prune too
    sf_s = ic.snapshot_files(tdir, range_filter={"name": ("u0000", "u0005")})
    assert len(sf_s["data"]) == 1
    # open-ended sides
    assert len(ic.snapshot_files(
        tdir, range_filter={"id": (900, None)})["data"]) == 1
    assert len(ic.snapshot_files(
        tdir, range_filter={"id": (None, None)})["data"]) == 4
    # disjoint range: nothing to read, empty frame with declared schema
    empty = ic.read_data(spark, tdir, range_filter={"id": (5000, 6000)})
    assert empty.count() == 0 and empty.columns == ["id", "name"]

    # unknown column in the filter is ignored (never prunes)
    assert len(ic.snapshot_files(
        tdir, range_filter={"nope": (1, 2)})["data"]) == 4


def test_iceberg_inspection_tables(spark, tmp_path):
    # the files metadata table and the snapshot summaries over a table
    # with appends and a merge-on-read delete
    import json

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "insp")
    c1 = ic.write_table(spark, spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"), tdir)
    ic.write_table(spark, spark.createDataFrame(
        [(3, "c")], "id long, v string"), tdir)
    ic.delete_where(spark, tdir, "id = 2")

    snaps = ic.read_table_metadata(tdir)["snapshots"]
    assert [s["summary"]["operation"] for s in snaps] == \
        ["append", "append", "delete"]
    assert snaps[2]["summary"]["added-position-deletes"] == "1"

    files = ic.table_files(spark, tdir).collect()
    assert {f.content for f in files} == {0, 1}
    datafiles = [f for f in files if f.content == 0]
    assert sum(f.record_count for f in datafiles) == 3
    assert all(f.file_size_in_bytes > 0 for f in files)
    los = [json.loads(f.lower_bounds)["id"] for f in datafiles
           if f.lower_bounds]
    his = [json.loads(f.upper_bounds)["id"] for f in datafiles
           if f.upper_bounds]
    assert min(los) == 1 and max(his) == 3

    # time-traveled files view: the first append only
    f1 = ic.table_files(spark, tdir, c1["snapshot_id"]).collect()
    assert all(f.content == 0 for f in f1)
    assert sum(f.record_count for f in f1) == 2


def test_iceberg_remove_orphan_files(spark, tmp_path):
    # files no snapshot references (crashed pre-commit writes) are
    # reported then deleted; referenced and time-travel files survive,
    # including files only reachable via DELETED entries of a rewrite
    import os

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "orph")
    ic.write_table(spark, spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"), tdir)
    ic.rewrite_data_files(spark, tdir)  # old files now DELETED entries

    stray = os.path.join(tdir, "data", "deadbeef-99999.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"not really parquet")

    rep = ic.remove_orphan_files(spark, tdir)  # dry run
    assert rep["orphans"] == [stray] and rep["deleted"] == 0
    assert os.path.exists(stray)

    # default age guard: the just-written stray is "recent" = possibly a
    # concurrent writer's pre-commit file — reported but NOT deleted
    rep_guard = ic.remove_orphan_files(spark, tdir, dry_run=False)
    assert rep_guard["deleted"] == 0 and rep_guard["skipped_recent"] == 1
    assert os.path.exists(stray)

    rep2 = ic.remove_orphan_files(spark, tdir, dry_run=False,
                                  older_than_s=0)
    assert rep2["deleted"] == 1 and not os.path.exists(stray)

    # nothing else was touched: both snapshots still read exactly
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == {1, 2}
    first = ic.read_table_metadata(tdir)["snapshots"][0]["snapshot_id"]
    assert {r.id for r in
            ic.read_data(spark, tdir, first).collect()} == {1, 2}
    assert ic.remove_orphan_files(spark, tdir)["orphans"] == []


def test_iceberg_sorted_compaction(spark, tmp_path):
    # rewrite_data_files(sort_by=...): range-partitioned sorted files,
    # declared sort order in metadata, sort_order_id per file, and
    # surgical range_filter pruning on the sort key
    import json

    import pyarrow.parquet as pq

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "sortc")
    import random
    rng = random.Random(11)
    ids = list(range(400))
    rng.shuffle(ids)
    df = spark.createDataFrame([(i, f"v{i}") for i in ids],
                               "id long, v string").repartition(5)
    ic.write_table(spark, df, tdir)

    rw = ic.rewrite_data_files(spark, tdir, target_file_rows=100,
                               sort_by=["id"])
    assert len(rw["files"]) >= 3

    # each new file is internally sorted; files hold disjoint id ranges
    ranges = []
    for p in rw["files"]:
        vals = pq.read_table(p, columns=["id"]).column("id").to_pylist()
        assert vals == sorted(vals)
        ranges.append((vals[0], vals[-1]))
    ranges.sort()
    assert all(ranges[i][1] < ranges[i + 1][0]
               for i in range(len(ranges) - 1))

    # metadata: declared sort order + per-file sort_order_id
    with open(ic.read_table_metadata(tdir)["metadata_file"]) as fh:
        md = json.load(fh)
    order = next(o for o in md["sort-orders"] if o["order-id"] == 1)
    assert order["fields"][0]["source-id"] == 1  # id's field id
    files = ic.table_files(spark, tdir).collect()
    # disjoint ranges + bounds -> a point lookup opens exactly one file
    sf = ic.snapshot_files(tdir, range_filter={"id": (250, 250)})
    assert len(sf["data"]) == 1
    # rows still exact
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == set(range(400))
    assert len(files) == len(rw["files"])


def test_iceberg_catalog_style_metadata_read(spark, tmp_path):
    # a table whose metadata files use the catalog writer naming
    # (NNNNN-<uuid>.metadata.json, no version-hint) reads exactly, and
    # write_table still refuses to commit over it
    import glob as _g
    import os
    import uuid

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "cat")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    ic.write_table(spark, df, tdir)
    ic.write_table(spark, spark.createDataFrame([(3, "c")],
                                                "id long, v string"), tdir)

    # rename our vN layout into the catalog layout
    meta = os.path.join(tdir, "metadata")
    os.remove(os.path.join(meta, "version-hint.text"))
    for p in sorted(_g.glob(os.path.join(meta, "v*.metadata.json"))):
        n = int(os.path.basename(p)[1:].split(".")[0])
        os.rename(p, os.path.join(
            meta, f"{n:05d}-{uuid.uuid4().hex[:8]}-aaaa.metadata.json"))

    md = ic.read_table_metadata(tdir)
    assert "00002-" in os.path.basename(md["metadata_file"])
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == {1, 2, 3}
    assert len(md["snapshots"]) == 2

    with pytest.raises(ValueError, match="refusing"):
        ic.write_table(spark, df, tdir)


def test_iceberg_incremental_scan(spark, tmp_path):
    # append-only incremental read: exactly the rows added per range,
    # O(new files); non-append snapshots in range refuse
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "incs")
    ddl = "id long, v string"
    c1 = ic.write_table(spark, spark.createDataFrame(
        [(1, "a"), (2, "b")], ddl), tdir)
    c2 = ic.write_table(spark, spark.createDataFrame([(3, "c")], ddl), tdir)
    c3 = ic.write_table(spark, spark.createDataFrame(
        [(4, "d"), (5, "e")], ddl), tdir)

    got = {r.id for r in
           ic.incremental_scan(spark, tdir, c1["snapshot_id"]).collect()}
    assert got == {3, 4, 5}
    got2 = {r.id for r in
            ic.incremental_scan(spark, tdir, c1["snapshot_id"],
                                c2["snapshot_id"]).collect()}
    assert got2 == {3}
    # from the beginning; and an empty range
    assert {r.id for r in
            ic.incremental_scan(spark, tdir, None).collect()} == \
        {1, 2, 3, 4, 5}
    assert ic.incremental_scan(
        spark, tdir, c3["snapshot_id"]).count() == 0

    # a delete snapshot inside the range refuses
    ic.delete_where(spark, tdir, "id = 1")
    ic.write_table(spark, spark.createDataFrame([(6, "f")], ddl), tdir)
    with pytest.raises(NotImplementedError, match="operation='delete'"):
        ic.incremental_scan(spark, tdir, c2["snapshot_id"])
    # but a pure-append subrange after the delete still works
    del_sid = max(s["snapshot_id"]
                  for s in ic.read_table_metadata(tdir)["snapshots"]) - 1
    assert {r.id for r in
            ic.incremental_scan(spark, tdir, del_sid).collect()} == {6}


def test_encode_iceberg_increment(spark, tmp_path):
    # per-run incremental encode off an Iceberg table: only new rows are
    # encoded, the manifest itself is the watermark, decode is exact
    from parquet_toolkit_spark.operators.encode import (
        decode_pipeline,
        read_manifest,
    )
    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.streaming.incremental import (
        encode_iceberg_increment,
    )

    tdir = str(tmp_path / "icet")
    enc = str(tmp_path / "enc")
    ddl = "id long, v string"
    ic.write_table(spark, spark.createDataFrame(
        [(i, f"a{i}") for i in range(50)], ddl), tdir)

    r1 = encode_iceberg_increment(spark, tdir, enc)
    assert r1["rows"] == 50 and r1["pids"] == [0]
    # idempotent no-op when nothing new
    assert encode_iceberg_increment(spark, tdir, enc)["rows"] == 0

    ic.write_table(spark, spark.createDataFrame(
        [(i, f"b{i}") for i in range(50, 80)], ddl), tdir)
    r2 = encode_iceberg_increment(spark, tdir, enc)
    assert r2["rows"] == 30 and r2["pids"] == [1]

    dec = decode_pipeline(spark, enc)
    got = {(r.id, r.v) for r in dec.collect()}
    want = {(i, f"a{i}") for i in range(50)} | \
        {(i, f"b{i}") for i in range(50, 80)}
    assert got == want
    # watermark derived from run_id tags in the manifest
    man = read_manifest(spark, enc)
    runs = {r.run_id for r in man.select("run_id").distinct().collect()}
    assert all(x.startswith("iceinc-") for x in runs) and len(runs) == 2


def test_iceberg_v1_table_append_preserves_schema(spark, tmp_path):
    # code-review r4: plain append over a v1 single-"schema" metadata
    # table must normalize to a schemas list, not write "schemas": null
    import json
    import os

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "v1t")
    ic.write_table(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string"), tdir)
    # rewrite the metadata into v1 shape: single "schema", no "schemas"
    info = ic.read_table_metadata(tdir)
    with open(info["metadata_file"]) as fh:
        md = json.load(fh)
    md["schema"] = md["schemas"][0]
    del md["schemas"]
    md["format-version"] = 1
    md["partition-spec"] = []
    del md["partition-specs"]
    with open(info["metadata_file"], "w") as fh:
        fh.write(json.dumps(md))

    ic.write_table(spark, spark.createDataFrame(
        [(2, "b")], "id long, v string"), tdir)
    # table still reads (and the new metadata has a real schemas list)
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == {1, 2}
    with open(ic.read_table_metadata(tdir)["metadata_file"]) as fh:
        md2 = json.load(fh)
    assert md2["schemas"] is not None and len(md2["schemas"]) == 1


def test_csv_skip_lines_with_header(spark, tmp_path):
    # code-review r4: skip_lines + header=True = skip first, THEN header
    from parquet_toolkit_spark.sources.csv_ingest import csv_to_df

    p = str(tmp_path / "s.csv")
    with open(p, "w") as fh:
        fh.write("#junk line\n#more junk\nx,y\n1,2\n3,4\n")
    df = csv_to_df(spark, p, header=True, skip_lines=2)
    assert df.columns == ["x", "y"]
    assert df.count() == 2


def test_iceberg_incremental_scan_expired_watermark(spark, tmp_path):
    # code-review r4: the pipeline watermark survives expire_snapshots
    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.streaming.incremental import (
        encode_iceberg_increment,
    )

    tdir = str(tmp_path / "expw")
    enc = str(tmp_path / "encw")
    ddl = "id long, v string"
    ic.write_table(spark, spark.createDataFrame(
        [(i, f"a{i}") for i in range(10)], ddl), tdir)
    assert encode_iceberg_increment(spark, tdir, enc)["rows"] == 10
    ic.write_table(spark, spark.createDataFrame(
        [(10, "b")], ddl), tdir)
    ic.write_table(spark, spark.createDataFrame(
        [(11, "c")], ddl), tdir)
    # expire everything but the newest snapshot: the watermark (snapshot
    # 1) is gone from metadata, yet the next run recovers exactly the
    # rows added after it
    ic.expire_snapshots(spark, tdir, keep_last=1)
    r = encode_iceberg_increment(spark, tdir, enc)
    assert r["rows"] == 2
    from parquet_toolkit_spark.operators.encode import decode_pipeline
    got = {(x.id, x.v) for x in decode_pipeline(spark, enc).collect()}
    assert got == {(i, f"a{i}") for i in range(10)} | {(10, "b"), (11, "c")}


def test_murmur3_spec_vectors():
    """The Iceberg spec's Appendix B bucket-hash test vectors (public):
    ints hash as 8-byte little-endian longs, strings as UTF-8 bytes."""
    import numpy as np

    from parquet_toolkit_spark.sources.iceberg_compat import (
        _murmur3_32_i64_vec,
        murmur3_32,
    )

    assert murmur3_32((34).to_bytes(8, "little", signed=True)) == 2017239379
    assert murmur3_32("iceberg".encode()) == 1210000089
    assert murmur3_32((17486).to_bytes(8, "little", signed=True)) == -653330422
    # vectorized int path agrees with the scalar everywhere
    vals = np.array([34, 17486, 0, -1, -(2**62), 2**62, 123456789],
                    dtype=np.int64)
    vec = _murmur3_32_i64_vec(vals)
    for v, h in zip(vals.tolist(), vec.tolist()):
        expect = murmur3_32(int(v).to_bytes(8, "little", signed=True))
        assert (h - (1 << 32) if h >= (1 << 31) else h) == expect


def test_iceberg_bucket_partition_write_read_prune(spark, tmp_path):
    """bucket[N] spec: spec-compliant bucket ids in the manifest record,
    exact reads, and point-lookup pruning on the SOURCE column."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "bt")
    rows = [(i, f"repo{i % 7}", f"c{i}") for i in range(400)]
    df = spark.createDataFrame(rows, "id long, repo string, content string")
    ic.write_table(spark, df, tdir, partition_by=["bucket(4, id)"])

    md = ic.read_table_metadata(tdir)
    spec = md["partition_specs"][0]["fields"]
    assert spec[0]["transform"] == "bucket[4]"
    assert spec[0]["name"] == "id_bucket"

    # manifest bucket values match the spec hash
    sf = ic.snapshot_files(tdir)
    for p, vals in sf["partition_values"].items():
        assert 0 <= vals["id_bucket"] < 4

    # exact full read (source column intact in data files)
    got = {(r.id, r.repo) for r in ic.read_data(spark, tdir).collect()}
    assert got == {(i, f"repo{i % 7}") for i in range(400)}

    # point-lookup pruning on the source column: the file holding id=123
    # is kept, others with different bucket values pruned
    target_bucket = ic._bucket_of(123, "bigint", 4)
    sf_all = ic.snapshot_files(tdir)
    sf_pt = ic.snapshot_files(tdir, partition_filter={"id": 123})
    assert 0 < len(sf_pt["data"]) < len(sf_all["data"])
    assert all(sf_all["partition_values"][p]["id_bucket"] == target_bucket
               for p in sf_pt["data"])
    assert 123 in {r.id for r in
                   ic.read_data(spark, tdir,
                                partition_filter={"id": 123}).collect()}

    # string bucket too
    tdir2 = str(tmp_path / "bts")
    ic.write_table(spark, df, tdir2, partition_by=["bucket(8, repo)"])
    want = ic._bucket_of("repo3", "string", 8)
    sf3 = ic.snapshot_files(tdir2, partition_filter={"repo": "repo3"})
    assert all(sf3["partition_values"][p]["repo_bucket"] == want
               for p in sf3["data"])
    got3 = {r.id for r in
            ic.read_data(spark, tdir2,
                         partition_filter={"repo": "repo3"}).collect()}
    assert got3 >= {i for i in range(400) if i % 7 == 3}


def test_iceberg_truncate_and_temporal_transforms(spark, tmp_path):
    """truncate[W] on strings/ints and year/month/day/hour on timestamps:
    write, exact read, metadata-layer pruning via source-column filters."""
    import datetime as dt

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    rows = [
        (i, f"src{i % 5}/f{i}",
         dt.datetime(2023, 1 + (i % 12), 3, i % 24, 30, 0))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id long, path string, ts timestamp")

    # truncate(4, path): partition value is the 4-char prefix
    tdir = str(tmp_path / "tr")
    ic.write_table(spark, df, tdir, partition_by=["truncate(4, path)"])
    sf = ic.snapshot_files(tdir, partition_filter={"path": "src2/f12"})
    assert sf["data"]
    assert all(v["path_trunc"] == "src2"
               for p, v in sf["partition_values"].items()
               if p in set(sf["data"]))
    got = {r.id for r in
           ic.read_data(spark, tdir,
                        partition_filter={"path": "src2/f12"}).collect()}
    assert got == {i for i in range(120) if i % 5 == 2}

    # month(ts): months since 1970-01
    tdir2 = str(tmp_path / "mo")
    ic.write_table(spark, df, tdir2, partition_by=["month(ts)"])
    want_month = (2023 - 1970) * 12 + 3 - 1  # March 2023
    sf2 = ic.snapshot_files(
        tdir2, partition_filter={"ts": dt.datetime(2023, 3, 15, 1, 0, 0)})
    assert sf2["data"]
    assert all(sf2["partition_values"][p]["ts_month"] == want_month
               for p in sf2["data"])
    got2 = {r.id for r in ic.read_data(
        spark, tdir2,
        partition_filter={"ts": dt.datetime(2023, 3, 15)}).collect()}
    assert got2 == {i for i in range(120) if i % 12 == 2}

    # day(ts) + hour(ts) + truncate int
    df3 = spark.createDataFrame(
        [(i * 100, dt.datetime(2024, 5, 1 + (i % 4), 6 + (i % 3)))
         for i in range(40)],
        "v long, ts timestamp")
    tdir3 = str(tmp_path / "dy")
    ic.write_table(spark, df3, tdir3,
                   partition_by=["day(ts)", "truncate(1000, v)"])
    probe = dt.datetime(2024, 5, 2, 23)
    want_day = (dt.date(2024, 5, 2) - dt.date(1970, 1, 1)).days
    sf3 = ic.snapshot_files(tdir3, partition_filter={"ts": probe})
    assert sf3["data"]
    assert all(sf3["partition_values"][p]["ts_day"] == want_day
               for p in sf3["data"])
    got3 = {r.v for r in ic.read_data(
        spark, tdir3, partition_filter={"ts": probe}).collect()}
    assert got3 == {i * 100 for i in range(40) if i % 4 == 1}

    tdir4 = str(tmp_path / "hr")
    ic.write_table(spark, df3, tdir4, partition_by=["hour(ts)"])
    want_hour = int(dt.datetime(2024, 5, 3, 7)
                    .replace(tzinfo=dt.timezone.utc).timestamp() // 3600)
    sf4 = ic.snapshot_files(
        tdir4, partition_filter={"ts": dt.datetime(2024, 5, 3, 7, 59)})
    assert sf4["data"]
    assert all(sf4["partition_values"][p]["ts_hour"] == want_hour
               for p in sf4["data"])


def test_iceberg_transform_spec_append_and_rewrite(spark, tmp_path):
    """Appends inherit a transform spec (and refuse a respec); compaction
    recomputes transform values and keeps pruning exact."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "ta")
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(100)], "id long, txt string")
    ic.write_table(spark, df, tdir, partition_by=["bucket(4, id)"])
    df2 = spark.createDataFrame([(1000, "x"), (1001, "y")],
                                "id long, txt string")
    ic.write_table(spark, df2, tdir)  # inherits bucket(4, id)
    with pytest.raises(ValueError, match="partition spec mismatch"):
        ic.write_table(spark, df2, tdir, partition_by=["bucket(8, id)"])
    with pytest.raises(ValueError, match="partition spec mismatch"):
        ic.write_table(spark, df2, tdir, partition_by=["id"])

    all_ids = {r.id for r in ic.read_data(spark, tdir).collect()}
    assert all_ids == set(range(100)) | {1000, 1001}

    # compaction keeps the spec and the pruning
    ic.rewrite_data_files(spark, tdir, target_file_rows=200)
    sf = ic.snapshot_files(tdir, partition_filter={"id": 1000})
    want = ic._bucket_of(1000, "bigint", 4)
    assert sf["data"]
    assert all(sf["partition_values"][p]["id_bucket"] == want
               for p in sf["data"])
    got = {r.id for r in ic.read_data(
        spark, tdir, partition_filter={"id": 1000}).collect()}
    assert 1000 in got
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == all_ids


def test_iceberg_sorted_rewrite_of_partitioned_table_sorts_files(
        spark, tmp_path):
    """rewrite_data_files(sort_by=...) on a bucket-partitioned table
    writes every file sorted by the key, as on an unpartitioned one: the
    partitioned write must not re-sort each task by the bucket alone."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "sorted_bucketed")
    rows = [((i * 7919) % 20000, f"v{i}") for i in range(20000)]
    for k, chunk in enumerate((rows[:10000], rows[10000:])):
        df = spark.createDataFrame(chunk, "doc_id long, v string")
        ic.write_table(spark, df.repartition(3), tdir,
                       partition_by=["bucket(8, doc_id)"] if k == 0 else None)
    rw = ic.rewrite_data_files(spark, tdir, sort_by=["doc_id"])
    files = ic.snapshot_files(tdir)["data"]
    assert sorted(files) == sorted(rw["files"]) and len(files) == 8
    got = []
    for f in files:
        ids = pq.read_table(f).column("doc_id").to_pylist()
        assert ids == sorted(ids), f
        got += ids
    assert sorted(got) == list(range(20000))


def test_iceberg_transform_validation_errors(spark):
    from parquet_toolkit_spark.sources.iceberg_compat import (
        _parse_partition_by,
    )

    ddl = {"id": "bigint", "txt": "string", "ts": "timestamp",
           "d": "date", "x": "double"}
    with pytest.raises(ValueError, match="not in dataframe"):
        _parse_partition_by(["bucket(4, nope)"], ddl)
    with pytest.raises(ValueError, match="bucket source"):
        _parse_partition_by(["bucket(4, x)"], ddl)
    with pytest.raises(ValueError, match="hour"):
        _parse_partition_by(["hour(d)"], ddl)
    with pytest.raises(ValueError, match="unrecognized"):
        _parse_partition_by(["zigzag(3, id)"], ddl)
    # date sources work for day/year/month
    out = _parse_partition_by(["day(d)", "year(ts)"], ddl)
    assert [f["name"] for f in out] == ["d_day", "ts_year"]


def test_ptsc_datasource_read_and_filter_pushdown(spark, tmp_path):
    """The blob store as a Catalyst source: spark.read.format("ptsc")
    reads exactly, and WHERE clauses prune pids at planning time (zone
    maps + blooms) while Spark's residual filters keep results exact."""
    from parquet_toolkit_spark.operators.encode import encode_pipeline
    from parquet_toolkit_spark.sources.ptsc_datasource import (
        PtscDataSource,
        PtscReader,
    )

    df = spark.createDataFrame(
        [(i, f"k{i:05d}", f"c{i:04d}", f"body {i}") for i in range(4000)],
        "seq long, key string, commit string, body string")
    enc = str(tmp_path / "enc_ds")
    encode_pipeline(spark, df, enc, target_bytes=16 << 10, run_id="ds",
                    range_keys=("key",), sort_keys=("key",),
                    n_partitions=12, bloom_columns=("commit",))

    spark.dataSource.register(PtscDataSource)
    src = spark.read.format("ptsc").load(enc)
    assert src.count() == 4000
    got = {(r.seq, r.key) for r in src.collect()}
    assert got == {(i, f"k{i:05d}") for i in range(4000)}

    # exact filtered reads through Catalyst
    assert src.where("seq = 1234").collect()[0].key == "k01234"
    assert (src.where("key >= 'k00100' AND key <= 'k00200'").count()
            == 101)
    assert src.where("commit = 'c0042'").collect()[0].seq == 42
    assert src.where("commit = 'zz-none'").count() == 0

    # pruning actually happens at the planning layer: drive the reader
    # directly with the same filters Catalyst would push
    from pyspark.sql.datasource import EqualTo, StringStartsWith

    r = PtscReader(enc)
    residual = list(r.pushFilters([EqualTo(("commit",), "c0042")]))
    assert len(residual) == 1  # everything residual: pruning is superset
    pruned = r.partitions()
    r_all = PtscReader(enc)
    assert len(pruned) < len(r_all.partitions())

    r2 = PtscReader(enc)
    r2.pushFilters([StringStartsWith(("key",), "k038")])
    assert 0 < len(r2.partitions()) < len(r_all.partitions())


def test_iceberg_fs_datasource_reads_exactly(spark, tmp_path):
    """format("iceberg_fs"): Catalyst reads of a filesystem Iceberg table
    match read_data exactly — including identity-partition re-injection,
    merge-on-read positional AND equality deletes (applied task-local),
    time travel via the snapshot option, and file pruning on pushed
    filters through partition transforms."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.iceberg_datasource import (
        IcebergFsDataSource,
        IcebergFsReader,
    )

    spark.dataSource.register(IcebergFsDataSource)

    # plain table + append + positional delete + equality delete
    tdir = str(tmp_path / "t1")
    df = spark.createDataFrame(
        [(i, ["py", "go", "rs"][i % 3], f"body{i}") for i in range(300)],
        "id long, lang string, content string")
    ic.write_table(spark, df, tdir)
    ic.delete_where(spark, tdir, "id % 7 = 3")
    ic.delete_where_equality(
        spark, tdir, ["lang"],
        keys=spark.createDataFrame([("go",)], "lang string"))
    df2 = spark.createDataFrame([(1000, "go", "late")],
                                "id long, lang string, content string")
    snap_info = ic.write_table(spark, df2, tdir)  # survives the eq delete

    want = {(r.id, r.lang, r.content)
            for r in ic.read_data(spark, tdir).collect()}
    got = {(r.id, r.lang, r.content)
           for r in spark.read.format("iceberg_fs").load(tdir).collect()}
    assert got == want
    assert (1000, "go", "late") in got
    assert not any(lang == "go" and i != 1000 for i, lang, _ in got)
    assert not any(i % 7 == 3 and i != 1000 for i, _l, _c in got)

    # residual filters exact through Catalyst
    src = spark.read.format("iceberg_fs").load(tdir)
    assert src.where("id = 11").count() == 1
    assert src.where("lang = 'go'").collect()[0].id == 1000

    # time travel to the pre-append snapshot
    md = ic.read_table_metadata(tdir)
    snaps = sorted(s["snapshot_id"] for s in md["snapshots"])
    pre_append = snaps[-2]
    tt = spark.read.format("iceberg_fs").option(
        "snapshot", str(pre_append)).load(tdir)
    want_tt = {(r.id, r.lang) for r in
               ic.read_data(spark, tdir, snapshot_id=pre_append).collect()}
    assert {(r.id, r.lang) for r in tt.collect()} == want_tt

    # partitioned table: identity + bucket pruning at the FILE level
    tdir2 = str(tmp_path / "t2")
    ic.write_table(spark, df, tdir2,
                   partition_by=["lang", "bucket(4, id)"])
    src2 = spark.read.format("iceberg_fs").load(tdir2)
    got2 = {(r.id, r.lang) for r in src2.where("lang = 'py'").collect()}
    assert got2 == {(i, "py") for i in range(0, 300, 3)}

    from pyspark.sql.datasource import EqualTo

    r_all = IcebergFsReader(tdir2, None)
    n_all = len([f for p in r_all.partitions()
                 for f in p.value["files"]])
    r_f = IcebergFsReader(tdir2, None)
    r_f.pushFilters([EqualTo(("lang",), "py"), EqualTo(("id",), 42)])
    n_pruned = len([f for p in r_f.partitions()
                    for f in p.value["files"]])
    assert 0 < n_pruned < n_all
    # and the pruned read is still exact after Spark's residual
    assert (src2.where("lang = 'py' AND id = 42").collect()[0].id == 42)


def test_iceberg_stream_sink_exactly_once(spark, tmp_path):
    """Streaming append sink: one snapshot per micro-batch, snapshot
    summaries carry the (sink id, epoch id) watermark, a restarted
    stream redelivering the same epochs commits NOTHING twice, and the
    sink chains into encode_iceberg_increment for the full landing ->
    Iceberg -> blob-store path."""
    from parquet_toolkit_spark.operators.encode import decode_pipeline
    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.streaming.iceberg_sink import (
        committed_epochs,
        iceberg_stream_sink,
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    tdir = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    ddl = "id long, lang string, content string"

    def land(lo, hi, name):
        spark.createDataFrame(
            [(i, ["py", "go"][i % 2], f"body{i}") for i in range(lo, hi)],
            ddl).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / name))
        import glob as _g
        import shutil
        src = _g.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(src, os.path.join(landing, f"{name}.parquet"))

    land(0, 100, "w0")
    stream = spark.readStream.schema(ddl).parquet(landing)
    iceberg_stream_sink(stream, tdir, ckpt, partition_by=["lang"])
    land(100, 160, "w1")
    stream = spark.readStream.schema(ddl).parquet(landing)
    iceberg_stream_sink(stream, tdir, ckpt, partition_by=["lang"])

    got = {(r.id, r.lang) for r in ic.read_data(spark, tdir).collect()}
    assert got == {(i, ["py", "go"][i % 2]) for i in range(160)}
    epochs = committed_epochs(spark, tdir, ckpt)
    assert len(epochs) == 2  # one snapshot per non-empty batch

    # restart with a WIPED checkpoint: epochs restart at 0 and redeliver
    # the same landing files — the summary watermark must skip them all
    import shutil
    shutil.rmtree(ckpt)
    stream = spark.readStream.schema(ddl).parquet(landing)
    iceberg_stream_sink(stream, tdir, ckpt, partition_by=["lang"])
    got2 = {(r.id, r.lang) for r in ic.read_data(spark, tdir).collect()}
    assert got2 == got  # nothing committed twice
    md = ic.read_table_metadata(tdir)
    assert len(md["snapshots"]) == 2

    # partition pruning works on the streamed table
    sf = ic.snapshot_files(tdir, partition_filter={"lang": "py"})
    assert 0 < len(sf["data"]) < len(ic.snapshot_files(tdir)["data"])

    # chain: drain the streamed table into the blob store incrementally
    from parquet_toolkit_spark.streaming.incremental import (
        encode_iceberg_increment,
    )

    enc = str(tmp_path / "enc")
    res = encode_iceberg_increment(spark, tdir, enc)
    assert res["rows"] == 160
    dec = {(r.id, r.lang) for r in
           decode_pipeline(spark, enc).select("id", "lang").collect()}
    assert dec == got
    # second drain: nothing new
    assert encode_iceberg_increment(spark, tdir, enc)["rows"] == 0


def test_iceberg_hour_transform_exact_at_far_future_boundary(spark, tmp_path):
    """hour() is integer calendar math end-to-end: a microsecond below
    an hour boundary at a far-future epoch (where float64 seconds lose
    microsecond resolution) must partition as the PREVIOUS hour and be
    found by a filter in that hour (code-review r4: the old double
    division rounded it into the wrong partition, making source-column
    pruning silently drop the row)."""
    import datetime as dt

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    boundary = dt.datetime(2250, 6, 1, 12, 0, 0)
    just_before = boundary - dt.timedelta(microseconds=1)
    df = spark.createDataFrame(
        [(1, just_before), (2, boundary)], "id long, ts timestamp")
    tdir = str(tmp_path / "hrx")
    ic.write_table(spark, df, tdir, partition_by=["hour(ts)"])

    prev_hour = (boundary.date() - dt.date(1970, 1, 1)).days * 24 + 11
    sf = ic.snapshot_files(tdir, partition_filter={"ts": just_before})
    vals = [sf["partition_values"][p]["ts_hour"] for p in sf["data"]]
    assert vals == [prev_hour]
    got = {r.id for r in ic.read_data(
        spark, tdir, partition_filter={"ts": just_before}).collect()}
    assert got == {1}


def test_transform_scalar_matches_spark_column(spark):
    """Pruning soundness invariant: _transform_scalar (read-side filter
    transform) must agree EXACTLY with _spec_partition_col (write-side
    partition value) — property-tested over adversarial values incl.
    negatives, pre-1970 timestamps, hour/day/month boundaries, unicode
    truncation and bucket on full-range ints."""
    import datetime as dt

    from parquet_toolkit_spark.sources.iceberg_compat import (
        _parse_partition_by,
        _spec_partition_col,
        _transform_scalar,
    )

    ts_vals = [
        dt.datetime(1970, 1, 1, 0, 0, 0),
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
        dt.datetime(1969, 7, 20, 20, 17, 40),
        dt.datetime(2024, 2, 29, 23, 59, 59, 999999),
        dt.datetime(2250, 6, 1, 11, 59, 59, 999999),
        dt.datetime(2250, 6, 1, 12, 0, 0),
        dt.datetime(2000, 1, 1, 0, 0, 0, 1),
    ]
    int_vals = [0, 1, -1, 7, -7, 999, -1000, 2**40, -(2**40), 123456789]
    str_vals = ["", "a", "abcd", "abcdef", "héllo🎉wörld", "小文字テスト", "x" * 50]

    ddl = {"ts": "timestamp", "i": "bigint", "s": "string"}
    specs = _parse_partition_by(
        ["year(ts)", "month(ts)", "day(ts)", "hour(ts)",
         "bucket(7, i)", "truncate(10, i)", "bucket(5, s)",
         "truncate(4, s)", "i", "s"], ddl)

    rows = [(t, i, s) for t, i, s in
            zip(ts_vals + ts_vals[:3],
                (int_vals * 2)[:10],
                (str_vals * 2)[:10])]
    df = spark.createDataFrame(rows, "ts timestamp, i long, s string")
    out = df.select(
        "ts", "i", "s",
        *[_spec_partition_col(f, ddl).alias(f"f{k}")
          for k, f in enumerate(specs)])
    for r in out.collect():
        vals = {"ts": r.ts, "i": r.i, "s": r.s}
        for k, f in enumerate(specs):
            want = _transform_scalar(f, vals[f["source"]], ddl)
            got = getattr(r, f"f{k}")
            assert got == want, (f["transform"], f["source"],
                                 vals[f["source"]], got, want)


def test_iceberg_zorder_compaction(spark, tmp_path):
    # rewrite_data_files(zorder_by=...): files cluster on the Morton
    # interleave of both columns' quantile ranks, so manifest range_filter
    # prunes files on EITHER column (a single-key sort prunes only its
    # leading key) and every pruned read stays exact
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    rows = [(i, (i * 7919) % 3000, f"v{i}") for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, uid long, v string") \
        .repartition(5)

    zdir, sdir = str(tmp_path / "zo"), str(tmp_path / "so")
    ic.write_table(spark, df, zdir)
    ic.write_table(spark, df, sdir)
    rw = ic.rewrite_data_files(spark, zdir, target_file_rows=250,
                               zorder_by=["id", "uid"])
    ic.rewrite_data_files(spark, sdir, target_file_rows=250,
                          sort_by=["id"])
    n_files = len(rw["files"])
    assert n_files >= 8

    # the NON-leading dimension prunes under z-order, and strictly more
    # than under the id-sorted layout (which can't prune on uid at all)
    zo_uid = ic.snapshot_files(zdir, range_filter={"uid": (100, 400)})
    so_uid = ic.snapshot_files(sdir, range_filter={"uid": (100, 400)})
    assert 0 < len(zo_uid["data"]) < n_files
    assert len(zo_uid["data"]) < len(so_uid["data"])
    # the other dimension prunes too
    zo_id = ic.snapshot_files(zdir, range_filter={"id": (0, 500)})
    assert 0 < len(zo_id["data"]) < n_files

    # pruned read + residual == plain filter (exactness)
    got = {r.id for r in
           ic.read_data(spark, zdir, range_filter={"uid": (100, 400)})
           .where("uid >= 100 and uid <= 400").collect()}
    want = {i for i, u, _v in rows if 100 <= u <= 400}
    assert got == want and got

    # no sort order declared (the spec has no z-order transform); the
    # replace snapshot still reads exactly in full
    import json

    with open(ic.read_table_metadata(zdir)["metadata_file"]) as fh:
        md = json.load(fh)
    assert all(o["order-id"] == 0 for o in md.get("sort-orders", []))
    assert ic.read_data(spark, zdir).count() == 4000


def test_iceberg_rewrite_sort_and_zorder_exclusive(spark, tmp_path):
    import pytest as _pytest

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "x")
    ic.write_table(spark, spark.createDataFrame([(1, 2)], "a long, b long"),
                   tdir)
    with _pytest.raises(ValueError, match="mutually exclusive"):
        ic.rewrite_data_files(spark, tdir, sort_by=["a"], zorder_by=["b"])
    with _pytest.raises(ValueError, match="not in table"):
        ic.rewrite_data_files(spark, tdir, zorder_by=["nope"])


def test_iceberg_rewrite_binary_zero_decode(spark, tmp_path):
    # rewrite_data_files(binary=True): zero-decode compaction — merged
    # file carries the inputs' row-group bytes verbatim; REPLACE
    # snapshot + time travel identical to the decode path
    import glob as _g

    import pytest as _pt

    from parquet_toolkit_spark.operators import binary_append as ba
    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources import thrift_lite as tl

    tdir = str(tmp_path / "rwb")
    snap_ids = []
    for k in range(3):
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(k * 100, k * 100 + 100)],
            "id long, v string")
        snap_ids.append(ic.write_table(spark, df, tdir)["snapshot_id"])
    old_files = ic.snapshot_files(tdir)["data"]
    assert len(old_files) >= 3

    rw = ic.rewrite_data_files(spark, tdir, binary=True,
                               binary_target_bytes=1 << 30)
    assert rw["binary"] is True and rw["n_bins"] == 1
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == \
        set(range(300))
    # byte-verbatim row groups: no page was decoded or re-encoded
    raw_out = open(rw["files"][0], "rb").read()
    for p in old_files:
        fields, _, _ = ba.read_footer(p)
        raw_in = open(p, "rb").read()
        for rg in tl.get(fields, 4)[2]:
            s, e = ba._rg_span(rg)
            assert raw_in[s:e] in raw_out
    # manifest bounds came from the merged footer: range_filter prunes
    sf = ic.snapshot_files(tdir)
    assert set(sf["data"]) == set(rw["files"])
    # time travel to every pre-rewrite snapshot still exact
    assert {r.id for r in
            ic.read_data(spark, tdir, snap_ids[0]).collect()} == \
        set(range(100))
    # expire reclaims the replaced files
    ic.expire_snapshots(spark, tdir, keep_last=1)
    left = set(_g.glob(tdir + "/data/*.parquet"))
    assert left == set(rw["files"])

    # live delete debt refuses loudly (a byte copy would resurrect rows)
    ic.delete_where(spark, tdir, "id = 5")
    with _pt.raises(ValueError, match="delete"):
        ic.rewrite_data_files(spark, tdir, binary=True)
    # the decode path absorbs the debt; binary works again after
    ic.rewrite_data_files(spark, tdir)
    rw2 = ic.rewrite_data_files(spark, tdir, binary=True)
    assert {r.id for r in ic.read_data(spark, tdir).collect()} == \
        set(range(300)) - {5}
    assert rw2["binary"] is True

    # sort/zorder with binary refuses
    with _pt.raises(ValueError, match="sort or z-order"):
        ic.rewrite_data_files(spark, tdir, binary=True, sort_by=["id"])


def test_iceberg_rewrite_binary_partitioned_groups(spark, tmp_path):
    # binary compaction on a PARTITIONED table: files merge within
    # partition groups, records carry verbatim, pruning still works
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "rwp")
    for k in range(3):  # 3 appends x 3 partitions = 9 data files
        df = spark.createDataFrame(
            [(i, i % 3, f"v{i}") for i in range(k * 60, k * 60 + 60)],
            "id long, g int, v string")
        ic.write_table(spark, df, tdir, partition_by=["g"])
    assert len(ic.snapshot_files(tdir)["data"]) >= 9

    rw = ic.rewrite_data_files(spark, tdir, binary=True,
                               binary_target_bytes=1 << 30)
    assert rw["binary"] is True and rw["partition_groups"] == 3
    assert rw["n_bins"] == 3 and len(rw["files"]) == 3
    got = {(r.id, r.g) for r in ic.read_data(spark, tdir).collect()}
    assert got == {(i, i % 3) for i in range(180)}
    # manifest partition records survived: metadata-level pruning reads
    # exactly one merged file per partition
    sf1 = ic.snapshot_files(tdir, partition_filter={"g": 1})
    assert len(sf1["data"]) == 1
    assert {r.id % 3 for r in
            ic.read_data(spark, tdir,
                         partition_filter={"g": 1}).collect()} == {1}


def test_iceberg_bucket_exact_above_2_53_with_nulls(spark, tmp_path):
    """ADVICE r4 (medium): an int64 batch containing NULLs used to reach
    the bucket pandas UDF as float64, rounding |v| > 2^53 before hashing
    (2**53+1 -> 2**53) — the manifest recorded a wrong bucket while the
    read-side scalar transform computed the exact one, so a partition
    lookup pruned the file holding the matching row. Nulls now never
    enter the UDF batch (coalesce + JVM-side mask)."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    big = 2**53 + 1
    rows = [(big, "big"), (None, "nul"), (7, "small"), (2**60 + 3, "huge")]
    df = spark.createDataFrame(rows, "id long, v string")
    tdir = str(tmp_path / "bigbucket")
    ic.write_table(spark, df, tdir, partition_by=["bucket(8, id)"])

    # every manifest bucket value matches the exact scalar transform of
    # the rows actually inside that file
    sf = ic.snapshot_files(tdir)
    by_file = {}
    for p in sf["data"]:
        got = spark.read.parquet(p).select("id").collect()
        by_file[p] = [r.id for r in got]
    for p, ids in by_file.items():
        rec = sf["partition_values"][p]["id_bucket"]
        for i in ids:
            want = None if i is None else ic._bucket_of(i, "bigint", 8)
            assert rec == want, (p, i, rec, want)

    # point lookups on the exact big values are NOT pruned away
    for probe in (big, 2**60 + 3, 7):
        got = {r.id for r in ic.read_data(
            spark, tdir, partition_filter={"id": probe}).collect()}
        assert probe in got, probe
    # full read exact, including the null-id row
    allv = {r.v for r in ic.read_data(spark, tdir).collect()}
    assert allv == {"big", "nul", "small", "huge"}


def test_iceberg_append_foreign_nonpositional_field_ids(spark, tmp_path):
    """ADVICE r4 (medium): appending to a vN filesystem table whose
    committed field ids are NOT positional (written by another tool)
    used to key manifest bounds to a fresh positional renumbering —
    colliding ids made range_filter compare one column's filter against
    another's bounds. Bounds must use the table's committed ids."""
    import json

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = tmp_path / "fids"
    meta = tdir / "metadata"
    meta.mkdir(parents=True)
    (tdir / "data").mkdir()
    # committed ids: id -> 3, v -> 1 (positional renumbering would say
    # id -> 1, v -> 2: "id" bounds land on v's real id = collision)
    md = {
        "format-version": 2, "table-uuid": "fid-test",
        "location": str(tdir), "current-schema-id": 0,
        "last-column-id": 3,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 3, "name": "id", "type": "long", "required": False},
            {"id": 1, "name": "v", "type": "string", "required": False},
        ]}],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "snapshots": [],
    }
    (meta / "v1.metadata.json").write_text(json.dumps(md))
    (meta / "version-hint.text").write_text("1")

    df = spark.createDataFrame(
        [(10, "aa"), (20, "bb"), (30, "cc")], "id long, v string")
    ic.write_table(spark, df, str(tdir))

    info = ic.read_table_metadata(str(tdir))
    assert info["schema_name_to_id"] == {"id": 3, "v": 1}
    mlist = ic.read_manifest_list(
        info["snapshots"][-1]["manifest_list"], spark)
    entries = ic.read_manifest(mlist[0]["manifest_path"], spark)
    added = [e for e in entries if e.get("status", 0) == 1
             and e["data_file"].get("lower_bounds")]  # skip empty parts
    assert added
    for e in added:
        keys = {b["key"] for b in e["data_file"]["lower_bounds"]}
        assert keys == {3, 1}, keys  # committed ids, not positional 1/2

    # range pruning on each column stays sound: the files holding the
    # matching rows are admitted, out-of-range files pruned
    sf = ic.snapshot_files(str(tdir), range_filter={"v": ("aa", "ab")})
    assert any("aa" in {r.v for r in spark.read.parquet(p).collect()}
               for p in sf["data"])
    sf2 = ic.snapshot_files(str(tdir), range_filter={"id": (25, 35)})
    assert any(30 in {r.id for r in spark.read.parquet(p).collect()}
               for p in sf2["data"])
    # out-of-range filter: only bound-less (empty) parts may be admitted
    sf3 = ic.snapshot_files(str(tdir), range_filter={"id": (99, 100)})
    assert all(spark.read.parquet(p).count() == 0 for p in sf3["data"])
    got = {tuple(r) for r in ic.read_data(spark, str(tdir)).collect()}
    assert got == {(10, "aa"), (20, "bb"), (30, "cc")}


def test_collect_file_stats_distributed_matches_local(spark, tmp_path):
    """VERDICT r4 #3: commit-path footer stats run task-side above the
    threshold; the distributed result must be byte-identical to the
    driver-local loop (rows, sizes, encoded bounds)."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    d = tmp_path / "many"
    d.mkdir()
    paths = []
    for i in range(40):  # > the 32-file threshold -> Spark job path
        p = str(d / f"f{i:03d}.parquet")
        spark.createDataFrame([(i, f"s{i}"), (i + 100, f"t{i}")],
                              "id long, v string").coalesce(1) \
            .write.mode("overwrite").parquet(p + ".dir")
        import glob as _g
        import os as _os

        _os.replace(_g.glob(p + ".dir/part-*.parquet")[0], p)
        paths.append(p)
    fid = {"id": 3, "v": 1}
    ddl = {"id": "bigint", "v": "string"}
    dist = ic._collect_file_stats(spark, paths, fid, ddl)
    local = ic._collect_file_stats(None, paths, fid, ddl)
    assert dist == local
    assert len(dist) == 40
    rows, size, bounds = dist[paths[5]]
    assert rows == 2 and size > 0
    assert {b["key"] for b in bounds[0]} == {3, 1}


def test_iceberg_type_promotion_evolution(spark, tmp_path):
    """VERDICT r4 #7: spec-safe promotions (int->long, float->double)
    commit under allow_schema_evolution; field ids survive, old and new
    snapshots read exactly, unsafe changes still refuse."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "promo")
    ic.write_table(spark, spark.createDataFrame(
        [(1, 1.5, "a"), (2, 2.5, "b")], "id int, x float, v string"), tdir)

    # promotion without the flag refuses with the hint
    df2 = spark.createDataFrame([(3, 3.5, "c")],
                                "id long, x double, v string")
    with pytest.raises(ValueError, match="allow_schema_evolution"):
        ic.write_table(spark, df2, tdir)

    ic.write_table(spark, df2, tdir, allow_schema_evolution=True)
    md = ic.read_table_metadata(tdir)
    assert dict((n, t) for n, t, _r in md["schema_fields"]) == {
        "id": "bigint", "x": "double", "v": "string"}
    # committed field ids survive the promotion
    assert md["schema_name_to_id"] == {"id": 1, "x": 2, "v": 3}

    got = {(r.id, r.x, r.v) for r in ic.read_data(spark, tdir).collect()}
    assert got == {(1, 1.5, "a"), (2, 2.5, "b"), (3, 3.5, "c")}
    # time travel to snapshot 1 still reads (old schema files)
    first = md["snapshots"][0]["snapshot_id"]
    got1 = {(r.id, r.v) for r in
            ic.read_data(spark, tdir, first).collect()}
    assert got1 == {(1, "a"), (2, "b")}

    # promotion + column add in one commit
    df3 = spark.createDataFrame([(4, 4.5, "d", 9)],
                                "id long, x double, v string, n int")
    ic.write_table(spark, df3, tdir, allow_schema_evolution=True)
    md3 = ic.read_table_metadata(tdir)
    assert md3["schema_name_to_id"]["n"] == 4
    got3 = {(r.id, r.n) for r in ic.read_data(spark, tdir).collect()}
    assert got3 == {(1, None), (2, None), (3, None), (4, 9)}

    # narrowing still refuses even with the flag
    bad = spark.createDataFrame([(5, 5.5, "e", 1)],
                                "id int, x double, v string, n int")
    with pytest.raises(ValueError, match="schema mismatch"):
        ic.write_table(spark, bad, tdir, allow_schema_evolution=True)


def test_iceberg_decimal_bounds_and_range_pruning(spark, tmp_path):
    """r5: decimal columns get spec-encoded manifest bounds (unscaled
    two's-complement big-endian) and Decimal range_filter pruning."""
    import decimal as dcm

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    D = dcm.Decimal
    tdir = str(tmp_path / "decb")
    rows = [(i, D(i * 7 % 1000).scaleb(-2)) for i in range(200)]
    df = (spark.createDataFrame(rows, "id long, amt decimal(12,2)")
          .repartitionByRange(4, "amt").sortWithinPartitions("amt"))
    ic.write_table(spark, df, tdir)

    # encode/decode of the bound bytes is spec round-trip exact
    b = ic._bound_bytes(D("-123.45"), "decimal(12,2)")
    assert ic._bound_value(b, "decimal(12,2)") == D("-123.45")
    assert ic._bound_bytes(D("1.27"), "decimal(12,2)") == b"\x7f"

    # the written manifest carries decimal bounds for amt
    info = ic.read_table_metadata(tdir)
    fid = info["schema_name_to_id"]["amt"]
    mlist = ic.read_manifest_list(
        info["snapshots"][-1]["manifest_list"], spark)
    entries = ic.read_manifest(mlist[0]["manifest_path"], spark)
    with_bounds = [e for e in entries
                   if any(bb["key"] == fid
                          for bb in (e["data_file"].get("lower_bounds")
                                     or []))]
    assert with_bounds

    # Decimal range_filter prunes files yet keeps every matching row
    lo, hi = D("1.00"), D("2.00")
    sf_all = ic.snapshot_files(tdir)
    sf = ic.snapshot_files(tdir, range_filter={"amt": (lo, hi)})
    assert len(sf["data"]) < len(sf_all["data"])
    got = {(r.id, r.amt) for r in
           ic.read_data(spark, tdir, range_filter={"amt": (lo, hi)})
           .where(F.col("amt").between(F.lit(lo), F.lit(hi))).collect()}
    want = {(i, a) for i, a in rows if lo <= a <= hi}
    assert got == want and got


def test_iceberg_struct_column_write_read(spark, tmp_path):
    """Nested (struct/array) columns through the Iceberg layer: spec
    depth-first field ids, exact read-back, bounds simply absent for
    nested fields (always-admit, sound)."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "nested_ice")
    df = spark.createDataFrame(
        [(1, ("a", 10), ["x", "y"]), (2, ("b", 20), [])],
        "id long, info struct<tag:string,n:long>, tags array<string>")
    ic.write_table(spark, df, tdir)
    md = ic.read_table_metadata(tdir)
    types = dict((n, t) for n, t, _r in md["schema_fields"])
    assert types["info"] == "struct<tag:string,n:bigint>"
    assert types["tags"] == "array<string>"
    got = {(r.id, tuple(r.info), tuple(r.tags))
           for r in ic.read_data(spark, tdir).collect()}
    assert got == {(1, ("a", 10), ("x", "y")), (2, ("b", 20), ())}

    # append still works and ids stay stable
    ic.write_table(spark, spark.createDataFrame(
        [(3, ("c", 30), ["z"])],
        "id long, info struct<tag:string,n:long>, tags array<string>"), tdir)
    assert ic.read_data(spark, tdir).count() == 3


def test_jsonl_ingest_quarantine_and_oracle(spark, tmp_path):
    """r5: JSONL ingest (LLM-corpus interchange format) — typed read with
    explicit schema, corrupt lines quarantined verbatim, values checked
    against DuckDB's JSON reader on the clean rows."""
    import gzip
    import json

    import duckdb

    from parquet_toolkit_spark.sources.jsonl_ingest import (
        convert_jsonl,
        jsonl_to_df,
    )

    src = tmp_path / "shard.jsonl.gz"
    lines = [json.dumps({"doc_id": i, "text": f"t{i}", "lang": "en"})
             for i in range(50)]
    lines.insert(10, "{broken json")
    lines.insert(30, '{"doc_id": "also broken"')
    with gzip.open(src, "wt") as fh:
        fh.write("\n".join(lines))

    out = str(tmp_path / "out.parquet")
    rep = convert_jsonl(spark, str(src), out,
                        schema="doc_id long, text string, lang string")
    assert rep["rows"] == 50 and rep["bad"] == 2
    qlines = {r.value for r in spark.read.text(rep["quarantine"]).collect()}
    assert qlines == {"{broken json", '{"doc_id": "also broken"'}

    # clean rows match DuckDB's JSON reader exactly
    got = {(r.doc_id, r.text, r.lang)
           for r in spark.read.parquet(out).collect()}
    plain = tmp_path / "clean.jsonl"
    plain.write_text("\n".join(l for l in lines if l.startswith('{"doc_id": ') and "broken" not in l))
    want = set(duckdb.connect().execute(
        f"SELECT doc_id, text, lang FROM read_json('{plain}', "
        "columns={'doc_id':'BIGINT','text':'VARCHAR','lang':'VARCHAR'})"
    ).fetchall())
    assert got == want and len(got) == 50

    # schema-less read refuses (full inference = hidden second scan);
    # sampled inference is the explicit opt-in
    with pytest.raises(ValueError, match="schema"):
        jsonl_to_df(spark, str(src))
    inf = jsonl_to_df(spark, str(src), infer=True, sampling_ratio=1.0)
    assert inf.where(F.col("doc_id") == 7).count() == 1


def test_iceberg_rename_evolution(spark, tmp_path):
    """r6: field-id-preserving column renames (Iceberg spec §Schema
    Evolution) — metadata-only commit; current reads resolve pre-rename
    data files through the alias chain, time travel keeps old names,
    appends with the new names work (the foreign-renamed-table case),
    and ambiguous/unsafe renames refuse."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.iceberg_datasource import (
        IcebergFsDataSource,
    )

    tdir = str(tmp_path / "ren_tbl")
    r1 = ic.write_table(spark, spark.createDataFrame(
        [(i, f"x{i}") for i in range(5)], "a long, txt string"), tdir)
    ic.write_table(spark, spark.createDataFrame(
        [(i, f"x{i}") for i in range(5, 10)], "a long, txt string"), tdir)

    res = ic.rename_columns(tdir, {"a": "b"})
    assert res["schema_id"] == 1

    # append under the NEW name — exactly what a table renamed by a
    # foreign engine requires of our writer
    ic.write_table(spark, spark.createDataFrame(
        [(i, f"x{i}") for i in range(10, 15)], "b long, txt string"), tdir)

    cur = ic.read_data(spark, tdir)
    assert cur.columns == ["b", "txt"]
    assert sorted(r.b for r in cur.collect()) == list(range(15))

    # time travel to the pre-rename snapshot reads the OLD name
    old = ic.read_data(spark, tdir, snapshot_id=r1["snapshot_id"])
    assert old.columns == ["a", "txt"] and old.count() == 5

    # the Catalyst source sees the same, current and pinned
    spark.dataSource.register(IcebergFsDataSource)
    d = spark.read.format("iceberg_fs").load(tdir)
    assert sorted(r.b for r in d.collect()) == list(range(15))
    assert (spark.read.format("iceberg_fs")
            .option("snapshot", str(r1["snapshot_id"])).load(tdir)
            .columns == ["a", "txt"])
    # filters on the renamed column prune by field-id-keyed bounds
    assert sorted(r.b for r in d.where("b >= 12").collect()) == [12, 13, 14]

    # refusals: unknown column, collision, reuse of a former name (both
    # via rename and via evolution column-add)
    with pytest.raises(ValueError, match="unknown"):
        ic.rename_columns(tdir, {"zz": "q"})
    with pytest.raises(ValueError, match="swap/chain"):
        ic.rename_columns(tdir, {"b": "txt"})  # onto a live name
    with pytest.raises(ValueError, match="former"):
        ic.rename_columns(tdir, {"txt": "a"})
    with pytest.raises(ValueError, match="former"):
        ic.write_table(spark, spark.createDataFrame(
            [(99, "t", 1.0)], "b long, txt string, a double"),
            tdir, allow_schema_evolution=True)

    # renaming a partition-spec source column refuses (manifest partition
    # records key by spec-field name)
    pdir = str(tmp_path / "ren_part")
    ic.write_table(spark, spark.createDataFrame(
        [(1, "en"), (2, "de")], "id long, lang string"),
        pdir, partition_by=["lang"])
    with pytest.raises(ValueError, match="partition-spec"):
        ic.rename_columns(pdir, {"lang": "language"})


def test_iceberg_nested_and_decimal38_through_datasources(spark, tmp_path):
    """r6: map/array/struct and decimal(38,10) columns flow through the
    Iceberg layer AND both Catalyst read paths (planning no longer
    refuses nested; two-word mantissas decode bit-exact)."""
    from pyspark.sql import functions as F

    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.iceberg_datasource import (
        IcebergFsDataSource,
    )

    tdir = str(tmp_path / "nested38")
    df = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.create_map(
            F.lit("lang"),
            F.concat(F.lit("l"), (F.col("id") % 3).cast("string")),
        ).alias("meta"),
        F.array(F.col("id").cast("string"), F.lit("c")).alias("tags"),
        F.struct(F.col("id").alias("x"), F.lit("s").alias("y")).alias("info"),
        (F.col("id").cast("decimal(20,0)")
         * F.lit(10 ** 12).cast("decimal(20,0)"))
        .cast("decimal(38,10)").alias("big"),
    )
    ic.write_table(spark, df, tdir)
    want = df.orderBy("doc_id").collect()
    assert ic.read_data(spark, tdir).orderBy("doc_id").collect() == want

    spark.dataSource.register(IcebergFsDataSource)
    got = (spark.read.format("iceberg_fs").load(tdir)
           .orderBy("doc_id").collect())
    assert got == want


def test_ptsc_nested_and_decimal38(spark, tmp_path):
    """r6: the same shapes through the blob store and the ptsc source,
    including a decimal(38,10) point filter (zone-map admission must not
    mis-prune two-word mantissas)."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from parquet_toolkit_spark.operators.encode import encode_pipeline
    from parquet_toolkit_spark.sources.ptsc_datasource import PtscDataSource

    enc = str(tmp_path / "nested38_enc")
    df = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("source"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("meta"),
        (F.col("id").cast("decimal(20,0)")
         * F.lit(10 ** 12).cast("decimal(20,0)"))
        .cast("decimal(38,10)").alias("big"),
    )
    encode_pipeline(spark, df, enc, target_bytes=1 << 20, run_id="t",
                    range_keys=("source", "doc_id"),
                    sort_keys=("source", "doc_id"))
    spark.dataSource.register(PtscDataSource)
    p = spark.read.format("ptsc").load(enc)
    assert p.orderBy("doc_id").collect() == df.orderBy("doc_id").collect()
    hit = p.where(
        F.col("big") == F.lit(Decimal("7000000000000.0000000000"))).collect()
    assert len(hit) == 1 and hit[0].doc_id == 7
    assert p.where(
        F.col("big") == F.lit(Decimal("7000000000000.0000000001"))
    ).count() == 0


def test_decimal38_range_pruning(spark, tmp_path):
    """r6: pids_matching_range with Decimal bounds whose mantissas exceed
    int64 — driver-side exact big-int admission, sound and tight."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from parquet_toolkit_spark.operators.encode import (
        decode_pipeline,
        encode_pipeline,
        pids_matching_range,
    )

    enc = str(tmp_path / "dec38_enc")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id").cast("decimal(20,0)")
         * F.lit(10 ** 15).cast("decimal(20,0)"))
        .cast("decimal(38,6)").alias("v"),
    )
    encode_pipeline(spark, df, enc, target_bytes=4 << 10, run_id="t",
                    range_keys=("k",), sort_keys=("k",))
    lo = Decimal(100) * 10 ** 15
    hi = Decimal(120) * 10 ** 15
    pids = pids_matching_range(spark, enc, "v", lo=lo, hi=hi)
    from parquet_toolkit_spark.operators.encode import read_manifest

    all_pids = {r.pid for r in read_manifest(spark, enc)
                .select("pid").distinct().collect()}
    assert pids and pids < all_pids  # pruned something, kept the hits
    got = (decode_pipeline(spark, enc, pids=sorted(pids))
           .where((F.col("v") >= lo) & (F.col("v") <= hi)))
    assert got.count() == 21


def test_jsonl_linesep_and_gz_matrix(spark, tmp_path):
    """r6 (VERDICT r5 #7): JSONL variants — custom record separator
    (RFC7464-style \\x1e), plain and gzipped shards — through both
    jsonl_to_df and convert_jsonl, values checked against a python JSON
    oracle (DuckDB can't do custom lineSep)."""
    import gzip
    import json

    from parquet_toolkit_spark.sources.jsonl_ingest import (
        convert_jsonl,
        jsonl_to_df,
    )

    recs = [{"doc_id": i, "text": f"line one {i}\nline two"}
            for i in range(30)]
    sep = "\x1e"
    body = sep.join(
        [json.dumps(r) for r in recs[:11]]
        + ['{"doc_id": 999, "text": "broken']
        + [json.dumps(r) for r in recs[11:]]
    )
    plain = tmp_path / "rs.jsonl"
    plain.write_text(body, encoding="utf-8")
    gz = tmp_path / "rs.jsonl.gz"
    with gzip.open(gz, "wt", encoding="utf-8") as fh:
        fh.write(body)

    for src in (str(plain), str(gz)):
        df = jsonl_to_df(spark, src, schema="doc_id long, text string",
                         line_sep=sep, keep_corrupt=True)
        rows = df.collect()  # corrupt-only queries on raw JSON reads are
        # disallowed by Spark — count from the materialized rows
        clean = {(r.doc_id, r.text) for r in rows
                 if r._corrupt_record is None}
        assert clean == {(r["doc_id"], r["text"]) for r in recs}
        assert sum(r._corrupt_record is not None for r in rows) == 1

        out = str(tmp_path / f"out_{os.path.basename(src)}.parquet")
        res = convert_jsonl(spark, src, out,
                            schema="doc_id long, text string",
                            line_sep=sep)
        assert res["rows"] == 30 and res["bad"] == 1
        qdir = res["quarantine"]
        bad_lines = [r.value for r in spark.read.text(qdir).collect()]
        assert bad_lines == ['{"doc_id": 999, "text": "broken']


def test_iceberg_rename_after_deletes(spark, tmp_path):
    """r6: equality-delete files written BEFORE a rename store key
    columns under the old names — both read paths resolve them through
    the alias chain (positional deletes are path-keyed, unaffected)."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.iceberg_datasource import (
        IcebergFsDataSource,
    )

    tdir = str(tmp_path / "ren_del")
    ic.write_table(spark, spark.createDataFrame(
        [(i, f"x{i}") for i in range(10)], "a long, txt string"), tdir)
    ic.delete_where(spark, tdir, "a % 2 = 1")          # positional
    ic.delete_where_equality(spark, tdir, ["a"],       # equality, keyed
                             condition="a IN (2, 4)")  # by OLD name
    ic.rename_columns(tdir, {"a": "b"})
    # re-append a deleted key AFTER the delete commit: seq scoping keeps it
    ic.write_table(spark, spark.createDataFrame(
        [(2, "again")], "b long, txt string"), tdir)

    want = {0, 6, 8, 2}  # evens minus eq-deleted {2,4}, plus re-appended 2
    got = {r.b for r in ic.read_data(spark, tdir).collect()}
    assert got == want, got

    spark.dataSource.register(IcebergFsDataSource)
    got2 = {r.b for r in
            spark.read.format("iceberg_fs").load(tdir).collect()}
    assert got2 == want, got2


def test_ptsc_in_isnull_pushdown_pruning(spark, tmp_path):
    """r6: In / IsNull / IsNotNull / EqualNullSafe prune pids at the
    manifest layer (zone maps + null counts) and the residual keeps
    answers exact. Pruning asserted reader-level (pure driver code)."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (
        EqualNullSafe,
        In,
        IsNotNull,
        IsNull,
    )

    from parquet_toolkit_spark.operators.encode import encode_pipeline
    from parquet_toolkit_spark.sources.ptsc_datasource import (
        PtscDataSource,
        PtscReader,
    )

    enc = str(tmp_path / "in_enc")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        # v is null on the whole low half, valued on the high half
        F.when(F.col("id") >= 200, F.col("id")).alias("v"),
    )
    encode_pipeline(spark, df, enc, target_bytes=2 << 10, run_id="t",
                    range_keys=("k",), sort_keys=("k",))

    def pruned(flt):
        r = PtscReader(enc)
        r.pushFilters([flt])
        return len(r.partitions())

    r0 = PtscReader(enc)
    total = len(r0.partitions())
    assert pruned(In(("k",), (5, 7))) < total
    assert pruned(IsNull(("v",))) < total          # high-half pids drop
    assert pruned(EqualNullSafe(("k",), 5)) < total
    # IsNotNull on a never-null column prunes nothing but stays sound
    assert pruned(IsNotNull(("k",))) == total

    spark.dataSource.register(PtscDataSource)
    p = spark.read.format("ptsc").load(enc)
    assert {r.k for r in p.where(F.col("k").isin(5, 7)).collect()} == {5, 7}
    assert p.where(F.col("v").isNull()).count() == 200
    assert p.where(F.col("v").isNotNull()).count() == 200
    assert p.where(F.col("k").eqNullSafe(F.lit(5))).count() == 1


def test_iceberg_fs_in_filter_and_as_of_timestamp(spark, tmp_path):
    """r6: IN prunes data files through the manifest-bounds bracket;
    as-of-timestamp time travel resolves the latest snapshot at or
    before the given epoch-ms (read_data kwarg + datasource option)."""
    import json as _json

    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.iceberg_datasource import (
        IcebergFsDataSource,
        IcebergFsReader,
    )

    tdir = str(tmp_path / "ts_tbl")
    r1 = ic.write_table(spark, spark.createDataFrame(
        [(i, "a") for i in range(100)], "k long, s string"), tdir)
    r2 = ic.write_table(spark, spark.createDataFrame(
        [(i, "b") for i in range(100, 200)], "k long, s string"), tdir)

    md = ic.read_table_metadata(tdir)
    ts1 = next(s["timestamp_ms"] for s in md["snapshots"]
               if s["snapshot_id"] == r1["snapshot_id"])
    ts2 = next(s["timestamp_ms"] for s in md["snapshots"]
               if s["snapshot_id"] == r2["snapshot_id"])

    assert ic.read_data(spark, tdir, as_of_ms=ts1).count() == 100
    assert ic.read_data(spark, tdir, as_of_ms=ts2).count() == 200
    with pytest.raises(ValueError, match="at or before"):
        ic.read_data(spark, tdir, as_of_ms=ts1 - 10_000)
    with pytest.raises(ValueError, match="not both"):
        ic.read_data(spark, tdir, snapshot_id=1, as_of_ms=ts1)

    spark.dataSource.register(IcebergFsDataSource)
    assert (spark.read.format("iceberg_fs")
            .option("as-of-timestamp", str(ts1)).load(tdir).count()) == 100

    # IN over the bounds bracket: both members in the first file's range
    from pyspark.sql.datasource import In
    rd = IcebergFsReader(tdir, None)
    rd.pushFilters([In(("k",), (5, 9))])
    files_pruned = sum(len(p.value["files"]) for p in rd.partitions())
    rd2 = IcebergFsReader(tdir, None)
    files_all = sum(len(p.value["files"]) for p in rd2.partitions())
    assert files_pruned < files_all
    got = {r.k for r in spark.read.format("iceberg_fs").load(tdir)
           .where("k IN (5, 9)").collect()}
    assert got == {5, 9}


def test_iceberg_mixed_format_data_files(spark, tmp_path):
    """r6 interop: a hand-built v2 table whose snapshot holds PARQUET,
    AVRO, and ORC data files (all spec-sanctioned) reads exactly through
    BOTH paths, with a positional delete applied to the AVRO file
    (record-ordinal axis) and Iceberg-Avro typed values (epoch-micros
    timestamp, day-int date, big-endian decimal bytes) decoded to the
    declared schema."""
    import datetime as dt
    import decimal as dcm
    import json

    from pyarrow import orc as pa_orc

    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.avro_lite import write_avro
    from parquet_toolkit_spark.sources.iceberg_datasource import (
        IcebergFsDataSource,
    )

    tdir = tmp_path / "mixed"
    meta = tdir / "metadata"
    meta.mkdir(parents=True)
    (tdir / "data").mkdir()
    ddl = "k bigint, s string, ts timestamp, d date, v decimal(12,2)"

    ts0 = dt.datetime(2024, 5, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    d0 = dt.date(2024, 5, 1)

    def py_rows(lo, hi):
        return [(i, f"s{i}", ts0 + dt.timedelta(seconds=i),
                 d0 + dt.timedelta(days=i),
                 dcm.Decimal(i * 100 + 5).scaleb(-2, dcm.Context(prec=40)))
                for i in range(lo, hi)]

    # PARQUET file via Spark
    fpq = str(tdir / "data" / "f.parquet")
    spark.createDataFrame(py_rows(0, 5), ddl).coalesce(1).write.mode(
        "overwrite").parquet(fpq + ".dir")
    import glob as _g
    import os as _os

    _os.replace(_g.glob(fpq + ".dir/part-*.parquet")[0], fpq)

    # ORC file via pyarrow (from the same Spark rows for type parity)
    forc = str(tdir / "data" / "f.orc")
    spark.createDataFrame(py_rows(5, 10), ddl).coalesce(1).write.mode(
        "overwrite").orc(forc + ".dir")
    _os.replace(_g.glob(forc + ".dir/*.orc")[0], forc)

    # AVRO file with Iceberg-Avro physical values (spec Appendix A)
    favro = str(tdir / "data" / "f.avro")
    avro_schema = {
        "type": "record", "name": "row", "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "ts", "type": "long"},   # epoch micros
            {"name": "d", "type": "int"},     # days since epoch
            {"name": "v", "type": "bytes"},   # unscaled big-endian
        ],
    }

    def us(t):
        return int((t - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc))
                   .total_seconds()) * 1_000_000 + t.microsecond

    avro_recs = [
        {"k": i, "s": f"s{i}", "ts": us(ts0 + dt.timedelta(seconds=i)),
         "d": (d0 - dt.date(1970, 1, 1)).days + i,
         "v": int(i * 100 + 5).to_bytes(8, "big", signed=True)}
        for i in range(10, 15)
    ]
    with open(favro, "wb") as fh:
        fh.write(write_avro(avro_schema, avro_recs))

    # positional delete on the AVRO file: drop its record ordinals 1, 3
    fdel = str(tdir / "data" / "del.parquet")
    spark.createDataFrame([(favro, 1), (favro, 3)],
                          "file_path string, pos long") \
        .coalesce(1).write.mode("overwrite").parquet(fdel + ".dir")
    _os.replace(_g.glob(fdel + ".dir/part-*.parquet")[0], fdel)

    mlist_schema, mentry_schema = _ice_manifest_schemas()
    (meta / "m1.avro").write_bytes(write_avro(mentry_schema, [
        _ice_entry(1, fpq, 5),
        _ice_entry(1, forc, 5, fmt="ORC"),
        _ice_entry(1, favro, 5, fmt="AVRO"),
        _ice_entry(1, fdel, 2, content=1),
    ]))
    (meta / "snap-9.avro").write_bytes(write_avro(mlist_schema, [
        {"manifest_path": str(meta / "m1.avro"), "manifest_length": 1,
         "partition_spec_id": 0, "content": 0, "added_snapshot_id": 9}]))
    md = {
        "format-version": 2, "table-uuid": "mx", "location": str(tdir),
        "current-schema-id": 0,
        "schemas": [{"schema-id": 0, "type": "struct", "fields": [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "s", "type": "string", "required": False},
            {"id": 3, "name": "ts", "type": "timestamptz",
             "required": False},
            {"id": 4, "name": "d", "type": "date", "required": False},
            {"id": 5, "name": "v", "type": "decimal(12, 2)",
             "required": False},
        ]}],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "current-snapshot-id": 9,
        "snapshots": [{"snapshot-id": 9, "timestamp-ms": 1,
                       "manifest-list": str(meta / "snap-9.avro"),
                       "summary": {"operation": "append"}}],
    }
    (meta / "v1.metadata.json").write_text(json.dumps(md))
    (meta / "version-hint.text").write_text("1")

    # expected: parquet 0-4, orc 5-9, avro 10-14 minus ordinals 1,3
    want = {r[0]: r for r in py_rows(0, 15) if r[0] not in (11, 13)}

    got = {r.k: (r.k, r.s,
                 r.ts.replace(tzinfo=dt.timezone.utc), r.d, r.v)
           for r in ic.read_data(spark, str(tdir)).collect()}
    assert got == want, (sorted(got)[:3], sorted(want)[:3])

    spark.dataSource.register(IcebergFsDataSource)
    got2 = {r.k: (r.k, r.s, r.ts.replace(tzinfo=dt.timezone.utc),
                  r.d, r.v)
            for r in spark.read.format("iceberg_fs")
            .load(str(tdir)).collect()}
    assert got2 == want


def test_iceberg_rename_swap_refused_and_revert_allowed(spark, tmp_path):
    """r6 code-review: same-commit swap/chain renames would commit a
    table the alias chain cannot disambiguate — refuse at commit time;
    a field reverting to its OWN former name stays legal and readable."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "swap")
    ic.write_table(spark, spark.createDataFrame(
        [(1, "t")], "x long, y string"), tdir)
    with pytest.raises(ValueError, match="swap/chain"):
        ic.rename_columns(tdir, {"x": "y", "y": "x"})
    with pytest.raises(ValueError, match="swap/chain"):
        ic.rename_columns(tdir, {"x": "y"})  # chain onto a live name

    # revert: x -> z, append under z, z -> x again; every era reads
    ic.rename_columns(tdir, {"x": "z"})
    ic.write_table(spark, spark.createDataFrame(
        [(2, "u")], "z long, y string"), tdir)
    ic.rename_columns(tdir, {"z": "x"})
    got = {(r.x, r.y) for r in ic.read_data(spark, tdir).collect()}
    assert got == {(1, "t"), (2, "u")}


def test_iceberg_timetravel_eq_delete_across_rename(spark, tmp_path):
    """r6 code-review: a pre-rename snapshot with equality deletes on a
    later-renamed column must resolve the delete keys under the PINNED
    names in both read paths."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.iceberg_datasource import (
        IcebergFsDataSource,
    )

    tdir = str(tmp_path / "ttren")
    ic.write_table(spark, spark.createDataFrame(
        [(i, f"x{i}") for i in range(6)], "a long, txt string"), tdir)
    rdel = ic.delete_where_equality(spark, tdir, ["a"],
                                    condition="a IN (1, 4)")
    ic.rename_columns(tdir, {"a": "b"})

    # pinned at the delete snapshot: old name, deletes applied
    old = ic.read_data(spark, tdir, snapshot_id=rdel["snapshot_id"])
    assert old.columns == ["a", "txt"]
    assert {r.a for r in old.collect()} == {0, 2, 3, 5}

    spark.dataSource.register(IcebergFsDataSource)
    got = (spark.read.format("iceberg_fs")
           .option("snapshot", str(rdel["snapshot_id"])).load(tdir))
    assert got.columns == ["a", "txt"]
    assert {r.a for r in got.collect()} == {0, 2, 3, 5}

    # current read: new name, same surviving rows
    assert {r.b for r in ic.read_data(spark, tdir).collect()} \
        == {0, 2, 3, 5}


def test_iceberg_fs_startswith_prunes_files(spark, tmp_path):
    """r6: StringStartsWith prunes data files through the manifest's
    string bounds as [prefix, prefix-upper-bound]."""
    from pyspark.sql.datasource import StringStartsWith

    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.iceberg_datasource import (
        IcebergFsDataSource,
        IcebergFsReader,
    )

    tdir = str(tmp_path / "sw_tbl")
    ic.write_table(spark, spark.createDataFrame(
        [(f"alpha{i}", i) for i in range(20)], "name string, n long"), tdir)
    ic.write_table(spark, spark.createDataFrame(
        [(f"mike{i}", i) for i in range(20)], "name string, n long"), tdir)

    rd = IcebergFsReader(tdir, None)
    rd.pushFilters([StringStartsWith(("name",), "alpha")])
    pruned = sum(len(p.value["files"]) for p in rd.partitions())
    rd2 = IcebergFsReader(tdir, None)
    total = sum(len(p.value["files"]) for p in rd2.partitions())
    assert pruned < total

    spark.dataSource.register(IcebergFsDataSource)
    got = (spark.read.format("iceberg_fs").load(tdir)
           .where("name LIKE 'alpha%'"))
    assert got.count() == 20


def test_ptsc_write_path(spark, tmp_path):
    """r6: df.write.format("ptsc") — per-task codec encode into the same
    store layout encode_pipeline produces; append assigns fresh pids,
    overwrite swaps the manifest and deletes old pid dirs, schema
    mismatch on append refuses, and both read paths see the rows."""
    from pyspark.sql import functions as F

    from parquet_toolkit_spark.operators.encode import decode_pipeline
    from parquet_toolkit_spark.sources.ptsc_datasource import PtscDataSource

    spark.dataSource.register(PtscDataSource)
    enc = str(tmp_path / "w_enc")
    df = spark.range(0, 300).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        F.create_map(F.lit("a"), F.col("id").cast("string")).alias("m"),
    ).repartition(4)
    df.write.format("ptsc").mode("append").save(enc)

    p = spark.read.format("ptsc").load(enc)
    assert p.orderBy("k").collect() == df.orderBy("k").collect()
    # the store is a REAL store: decode_pipeline reads it too
    assert decode_pipeline(spark, enc).count() == 300

    # append: fresh pids, rows accumulate
    df2 = spark.range(300, 400).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        F.create_map(F.lit("a"), F.col("id").cast("string")).alias("m"),
    ).repartition(2)
    df2.write.format("ptsc").mode("append").save(enc)
    assert spark.read.format("ptsc").load(enc).count() == 400

    # schema mismatch on append refuses loudly
    with pytest.raises(Exception, match="schema mismatch"):
        spark.range(3).select(F.col("id").alias("other")) \
            .write.format("ptsc").mode("append").save(enc)

    # overwrite replaces everything and reclaims old pid dirs
    df3 = spark.range(0, 50).select(
        F.col("id").alias("k"),
        F.lit("z").alias("s"),
        F.create_map(F.lit("a"), F.lit("1")).alias("m"),
    ).repartition(2)
    df3.write.format("ptsc").mode("overwrite").save(enc)
    got = spark.read.format("ptsc").load(enc)
    assert got.count() == 50
    assert {r.s for r in got.collect()} == {"z"}
    import glob as _g
    assert len(_g.glob(str(tmp_path / "w_enc" / "blobs" / "pid=*"))) == 2


def test_ptsc_writer_swap_window_append_and_remote_refusal(spark, tmp_path):
    """ADVICE r6: (1) an append planned while a prior commit sits inside
    the manifest swap window (manifest_old present, manifest missing)
    must keep every committed row and continue pids after them; (2) a
    non-local write path refuses loudly at PLAN time; (3) the schema is
    committed atomically with the manifest swap (copy inside manifest/)."""
    import glob as _g
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from parquet_toolkit_spark.sources.ptsc_datasource import PtscDataSource

    spark.dataSource.register(PtscDataSource)
    enc = str(tmp_path / "crash_enc")

    def mk(a, b):
        return spark.range(a, b).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("s"))

    mk(0, 100).repartition(2).write.format("ptsc").mode("append").save(enc)
    # schema rides the swap: the manifest-dir copy exists and matches root
    with open(_os.path.join(enc, "manifest", "_schema.json")) as fh:
        man_schema = _json.load(fh)
    with open(_os.path.join(enc, "_schema.json")) as fh:
        assert man_schema == _json.load(fh)

    # simulate a crash between the two swap renames
    _os.rename(_os.path.join(enc, "manifest"),
               _os.path.join(enc, "manifest_old"))
    mk(100, 150).repartition(1).write.format("ptsc").mode("append").save(enc)
    got = spark.read.format("ptsc").load(enc)
    assert got.count() == 150
    row = got.agg(F.min("k"), F.max("k")).first()
    assert (row[0], row[1]) == (0, 149)
    # pids continued after the committed ones: 2 original + 1 appended
    assert len(_g.glob(_os.path.join(enc, "blobs", "pid=*"))) == 3

    # non-local scheme refuses at plan time, before any task runs
    with pytest.raises(Exception, match="non-local scheme"):
        mk(0, 3).write.format("ptsc").mode("append").save("s3a://bkt/store")


def test_field_aliases_pinned_ignores_newer_schemas():
    """ADVICE r6: alias chains for a PINNED schema must not include names
    from schemas newer than it — files of that snapshot can never carry
    them, and a later schema reusing a vacated name spuriously tripped
    the ambiguity refusal."""
    from parquet_toolkit_spark.sources.iceberg_compat import _field_aliases

    s0 = {"schema-id": 0, "fields": [
        {"id": 1, "name": "a", "type": "long"},
        {"id": 2, "name": "x", "type": "long"}]}
    s1 = {"schema-id": 1, "fields": [           # rename a -> b
        {"id": 1, "name": "b", "type": "long"},
        {"id": 2, "name": "x", "type": "long"}]}
    s2 = {"schema-id": 2, "fields": [           # rename x -> a (reuse!)
        {"id": 1, "name": "b", "type": "long"},
        {"id": 2, "name": "a", "type": "long"}]}
    schemas = [s0, s1, s2]
    # pinned at schema 0: nothing newer contributes — no spurious alias
    assert _field_aliases(schemas, s0) == {}
    # pinned at schema 1: only the rename at/below it
    assert _field_aliases(schemas, s1) == {"b": ["a"]}
    # current schema: both chains
    assert _field_aliases(schemas, s2) == {"b": ["a"], "a": ["x"]}


def test_decimal_range_pruning_plain_numeric_bounds(spark, tmp_path):
    """ADVICE r6: plain int/float bounds on a decimal column must scale
    to the mantissa axis — lo=200, hi=300 on decimal(10,2) previously
    compared against the UNSCALED mantissa (25000 for 250.00) and
    silently dropped matching pids."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from parquet_toolkit_spark.operators.encode import (
        decode_pipeline,
        encode_pipeline,
        pids_matching_range,
        read_manifest,
    )

    enc = str(tmp_path / "dec_plain_enc")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id").cast("decimal(10,2)")
         + F.lit(Decimal("0.25")).cast("decimal(10,2)")).alias("v"),
    )
    encode_pipeline(spark, df, enc, target_bytes=4 << 10, run_id="t",
                    range_keys=("k",), sort_keys=("k",))
    all_pids = {r.pid for r in read_manifest(spark, enc)
                .select("pid").distinct().collect()}
    for lo, hi in ((200, 300), (200.0, 300.0)):
        pids = pids_matching_range(spark, enc, "v", lo=lo, hi=hi)
        assert pids and pids < all_pids  # pruned some, kept the hits
        got = (decode_pipeline(spark, enc, pids=sorted(pids))
               .where((F.col("v") >= lo) & (F.col("v") <= hi)))
        # v = id + 0.25, so 200 <= v <= 300 keeps ids 200..299 (100 rows)
        assert got.count() == 100


def _iceberg_read_shapes(spark, root) -> dict:
    """Eight small Iceberg tables (<= 40 rows each) covering every
    merge-on-read, partition and schema-evolution shape the two read
    paths share: {shape name: table dir}."""
    import datetime as dtm
    from decimal import Decimal

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    out = {}

    def table(name):
        out[name] = str(root / name)
        return out[name]

    t = table("pos_rewrite")
    ddl = "id long, s string"
    ic.write_table(spark, spark.createDataFrame(
        [(i, f"s{i}") for i in range(20)], ddl), t)
    ic.write_table(spark, spark.createDataFrame(
        [(i, f"s{i}") for i in range(20, 30)], ddl), t)
    ic.delete_where(spark, t, "id % 4 = 1")
    ic.rewrite_data_files(spark, t)
    ic.delete_where(spark, t, "id % 5 = 2")

    t = table("eq_null_keys")
    ic.write_table(spark, spark.createDataFrame(
        [(i, None if i % 3 == 0 else f"t{i % 4}") for i in range(24)],
        "id long, tag string"), t)
    ic.delete_where_equality(spark, t, ["tag"], keys=spark.createDataFrame(
        [(None,), ("t1",)], "tag string"))

    t = table("eq_multi_seq")
    ddl = "id long, user string, amount long"
    ic.write_table(spark, spark.createDataFrame(
        [(i, f"u{i % 5}", i * 10) for i in range(30)], ddl), t)
    ic.delete_where_equality(spark, t, ["user"], condition="user = 'u1'")
    ic.write_table(spark, spark.createDataFrame(
        [(100, "u1", 999), (101, "u0", 1)], ddl), t)
    ic.delete_where_equality(spark, t, ["id", "user"],
                             keys=spark.createDataFrame(
                                 [(0, "u0"), (5, "u0"), (101, "u0")],
                                 "id long, user string"))
    ic.write_table(spark, spark.createDataFrame([(0, "u0", 7)], ddl), t)

    t = table("identity_nulls")
    ic.write_table(spark, spark.createDataFrame(
        [(i, [None, "a", "b"][i % 3]) for i in range(18)],
        "id long, k string"), t, partition_by=["k"])
    ic.delete_where(spark, t, "id < 4")
    ic.delete_where_equality(spark, t, ["k"], keys=spark.createDataFrame(
        [("b",)], "k string"))

    t = table("bucket_day")
    base = dtm.datetime(2024, 3, 1, 6, 0, 0)
    ic.write_table(spark, spark.createDataFrame(
        [(i, base + dtm.timedelta(hours=7 * i), f"v{i}") for i in range(32)],
        "id long, ts timestamp, v string"), t,
        partition_by=["bucket(4, id)", "day(ts)"])
    ic.delete_where(spark, t, "id % 6 = 0")
    ic.delete_where_equality(spark, t, ["v"], keys=spark.createDataFrame(
        [("v7",), ("v9",)], "v string"))

    t = table("int_identity_decimal")
    ddl = "id long, g int, amt decimal(10,2)"
    ic.write_table(spark, spark.createDataFrame(
        [(i, i % 3, Decimal(i) / 4) for i in range(24)], ddl), t,
        partition_by=["g"])
    ic.delete_where(spark, t, "amt > 4.5")
    ic.delete_where_equality(spark, t, ["g"], keys=spark.createDataFrame(
        [(2,)], "g int"))

    t = table("rename_add")
    ic.write_table(spark, spark.createDataFrame(
        [(i, f"x{i}") for i in range(12)], "a long, txt string"), t)
    ic.delete_where(spark, t, "a % 5 = 1")
    ic.delete_where_equality(spark, t, ["a"], condition="a IN (2, 3)")
    ic.rename_columns(t, {"a": "b"})
    ic.write_table(spark, spark.createDataFrame(
        [(i, f"y{i}", i / 2) for i in range(2, 8)],
        "b long, txt string, c double"), t, allow_schema_evolution=True)
    ic.delete_where_equality(spark, t, ["b"], condition="b = 4")
    ic.delete_where(spark, t, "b = 7")

    t = table("struct_col")
    ic.write_table(spark, spark.createDataFrame(
        [(i, (f"t{i % 3}", i * 2)) for i in range(10)],
        "id long, info struct<tag:string,n:long>"), t)
    ic.delete_where(spark, t, "id = 2")
    ic.delete_where_equality(spark, t, ["id"], condition="id = 5")
    return out


def test_iceberg_read_paths_agree(spark, tmp_path):
    """read_data and format("iceberg_fs") run one scan plan on two
    physical paths (JVM scan + anti-joins vs per-task pyarrow): they must
    return the same rows and schema for every shape at every snapshot."""
    from collections import Counter

    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.iceberg_datasource import (
        IcebergFsDataSource,
    )

    spark.dataSource.register(IcebergFsDataSource)
    for name, t in _iceberg_read_shapes(spark, tmp_path).items():
        sids = [s["snapshot_id"] for s in ic.read_table_metadata(t)["snapshots"]]
        for sid in [None, *sids]:
            a = ic.read_data(spark, t, sid)
            r = spark.read.format("iceberg_fs")
            b = (r if sid is None else r.option("snapshot", str(sid))).load(t)
            assert a.schema.simpleString() == b.schema.simpleString(), \
                (name, sid)
            assert Counter(map(tuple, a.collect())) == \
                Counter(map(tuple, b.collect())), (name, sid)


def test_iceberg_snapshot_selection_same_on_both_paths(spark, tmp_path):
    """Both read paths select the snapshot through one resolver: a
    snapshot id together with an as-of timestamp refuses, and an unknown
    snapshot id raises the same error, at schema time for iceberg_fs."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.iceberg_datasource import (
        IcebergFsDataSource,
    )

    tdir = str(tmp_path / "sel")
    ddl = "k long, s string"
    r1 = ic.write_table(spark, spark.createDataFrame([(1, "a")], ddl), tdir)
    ic.write_table(spark, spark.createDataFrame([(2, "b")], ddl), tdir)
    ts1 = next(s["timestamp_ms"] for s in ic.read_table_metadata(tdir)
               ["snapshots"] if s["snapshot_id"] == r1["snapshot_id"])
    spark.dataSource.register(IcebergFsDataSource)

    with pytest.raises(ValueError, match="not both"):
        ic.read_data(spark, tdir, snapshot_id=r1["snapshot_id"],
                     as_of_ms=ts1)
    with pytest.raises(Exception, match="ValueError: .*not both"):
        (spark.read.format("iceberg_fs")
         .option("snapshot", str(r1["snapshot_id"]))
         .option("as-of-timestamp", str(ts1)).load(tdir))

    missing = f"snapshot 999 not found in {tdir}"
    with pytest.raises(ValueError, match=missing):
        ic.read_data(spark, tdir, snapshot_id=999)
    with pytest.raises(Exception, match=f"ValueError: {missing}"):
        spark.read.format("iceberg_fs").option("snapshot", "999").load(tdir)

    # each option alone still selects its snapshot on both paths
    assert ic.read_data(spark, tdir, as_of_ms=ts1).count() == 1
    assert (spark.read.format("iceberg_fs").option(
        "snapshot", str(r1["snapshot_id"])).load(tdir).count()) == 1


def test_iceberg_reads_pin_spark_job_counts(spark, tmp_path):
    """One collect of each Iceberg read path, on a bucket-partitioned
    table with live positional and equality deletes, runs a pinned
    number of Spark jobs (planning is driver-side metadata IO)."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic
    from parquet_toolkit_spark.sources.iceberg_datasource import (
        IcebergFsDataSource,
    )

    tdir = str(tmp_path / "pin")
    ic.write_table(spark, spark.createDataFrame(
        [(i, f"u{i % 4}") for i in range(40)], "id long, u string"), tdir,
        partition_by=["bucket(4, id)"])
    ic.delete_where(spark, tdir, "id % 7 = 3")
    ic.delete_where_equality(spark, tdir, ["u"], keys=spark.createDataFrame(
        [("u1",)], "u string"))
    spark.dataSource.register(IcebergFsDataSource)
    want = {i for i in range(40) if i % 7 != 3 and i % 4 != 1}

    sc = spark.sparkContext
    calls = {
        "read_data": lambda: ic.read_data(spark, tdir).collect(),
        "iceberg_fs": lambda: spark.read.format("iceberg_fs")
        .load(tdir).collect(),
    }
    out = {}
    try:
        for name, call in calls.items():
            sc.setJobGroup(f"iceberg-pin-{name}", name)
            out[name] = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert all({r.id for r in rows} == want for rows in out.values())
    tracker = sc.statusTracker()
    jobs = {name: len(tracker.getJobIdsForGroup(f"iceberg-pin-{name}"))
            for name in calls}
    assert jobs == {"read_data": 9, "iceberg_fs": 1}


def test_iceberg_empty_scan_has_no_python_stage(spark, tmp_path):
    """read_data of a scan that admits no data file (a range filter
    outside every file's bounds) is an empty frame in the declared
    schema, built from a local relation: its count runs one Spark job
    and its plan scans no Python RDD."""
    import contextlib
    import io

    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "t")
    ic.write_table(spark, spark.createDataFrame(
        [(i, f"u{i}") for i in range(20)], "id long, u string"), tdir)
    miss = {"id": (5000, 6000)}
    assert not ic.scan_plan(tdir, None, spark, range_filter=miss)["data"]

    df = ic.read_data(spark, tdir, range_filter=miss)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("iceberg-empty", "iceberg-empty")
        n = df.count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n == 0
    assert df.schema.simpleString() == "struct<id:bigint,u:string>"
    assert len(sc.statusTracker().getJobIdsForGroup("iceberg-empty")) == 1
    with contextlib.redirect_stdout(io.StringIO()) as plan:
        df.explain()
    assert "LocalTableScan" in plan.getvalue()
    assert "ExistingRDD" not in plan.getvalue()


def test_iceberg_rewrites_pin_spark_job_counts(spark, tmp_path):
    """A sorted rewrite picks its range bounds from the live files'
    footers and runs the shuffle's map stage and the write; a Z-order
    rewrite adds one sample of the Morton key. Neither counts the table
    (the manifests give the rows) nor runs Spark's RangePartitioner."""
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    rows = [(i, (i * 7919) % 3000, f"v{i}") for i in range(4000)]
    sc = spark.sparkContext
    jobs = {}
    for name, kw in (("sort_by", {"sort_by": ["id"]}),
                     ("zorder_by", {"zorder_by": ["id", "uid"]})):
        tdir = str(tmp_path / name)
        ic.write_table(spark, spark.createDataFrame(
            rows, "id long, uid long, v string").repartition(5), tdir)
        try:
            sc.setJobGroup(f"iceberg-rw-{name}", name)
            rw = ic.rewrite_data_files(spark, tdir, target_file_rows=250,
                                       **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(rw["files"]) >= 16
        jobs[name] = len(
            sc.statusTracker().getJobIdsForGroup(f"iceberg-rw-{name}"))
        assert ic.read_data(spark, tdir).count() == 4000
    assert jobs == {"sort_by": 2, "zorder_by": 3}


def _ice_writers():
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    one_row = "id long, v string"
    # name -> (commit on the fixture table, whether it adds a snapshot)
    return {
        "write_table": (lambda spark, t: ic.write_table(
            spark, spark.createDataFrame([(4, "d")], one_row), t), True),
        "delete_where": (lambda spark, t: ic.delete_where(
            spark, t, "id = 1"), True),
        "delete_where_equality": (lambda spark, t: ic.delete_where_equality(
            spark, t, ["v"], condition="v = 'b'"), True),
        "rewrite_sort_by": (lambda spark, t: ic.rewrite_data_files(
            spark, t, sort_by=["id"]), True),
        "rewrite_binary": (lambda spark, t: ic.rewrite_data_files(
            spark, t, binary=True), True),
        "rename_columns": (lambda spark, t: ic.rename_columns(
            t, {"v": "w"}, spark), False),
        "expire_snapshots": (lambda spark, t: ic.expire_snapshots(
            spark, t, keep_last=1), False),
    }


@pytest.mark.parametrize("writer", list(_ice_writers()))
def test_iceberg_commit_protocol(spark, tmp_path, writer):
    # every writer publishes through one commit: a snapshot commit adds
    # one version and one snapshot, a metadata-only commit one version
    # and no snapshot. A failure after the manifest list and the vN file
    # are written, before the hint swap, leaves the prior snapshot read,
    # and the next commit succeeds.
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "t")
    ic.write_table(spark, spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"), tdir)
    ic.write_table(spark, spark.createDataFrame(
        [(3, "c")], "id long, v string"), tdir)
    commit, adds_snapshot = _ice_writers()[writer]

    def version(md):
        return int(os.path.basename(md["metadata_file"])[1:].split(".")[0])

    def seen():
        md = ic.read_table_metadata(tdir)
        return (version(md), md["current_snapshot_id"],
                [s["snapshot_id"] for s in md["snapshots"]],
                sorted(tuple(r) for r in ic.read_data(spark, tdir).collect()),
                ic.snapshot_files(tdir)["data"])

    before = seen()
    meta = os.path.join(tdir, "metadata")
    # the temp hint's path is a directory: the commit fails at the swap
    os.mkdir(os.path.join(meta, ".version-hint.text.tmp"))
    with pytest.raises(OSError):
        commit(spark, tdir)
    assert os.path.exists(os.path.join(meta,
                                       f"v{before[0] + 1}.metadata.json"))
    assert seen() == before
    os.rmdir(os.path.join(meta, ".version-hint.text.tmp"))

    out = commit(spark, tdir)
    md = ic.read_table_metadata(tdir)
    assert version(md) == out["version"] == before[0] + 1
    ids = [s["snapshot_id"] for s in md["snapshots"]]
    if adds_snapshot:
        assert ids == before[2] + [out["snapshot_id"]]
        assert md["current_snapshot_id"] == out["snapshot_id"]
    else:
        assert set(ids) <= set(before[2])
        assert md["current_snapshot_id"] == before[1]
