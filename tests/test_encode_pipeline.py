"""End-to-end encode/decode pipeline tests: the north-rule invariants.

- per-row sha256(content) equality after encode->decode (bit-identical)
- compressed size <= parquet-snappy baseline on the same layout
- checkpoint-resume: kill after k partitions, rerun, only pending re-encode
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from conftest import on_spark_layout_path, on_wide_lookup_path
from parquet_toolkit_spark.datagen import write_corpus
from parquet_toolkit_spark.operators.encode import (
    decode_pipeline,
    encode_partitions,
    encode_pipeline,
    encoded_size_report,
    layout_stage,
    read_manifest,
    verify_roundtrip,
)

N_ROWS = 4000


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    # stable path so write_corpus's marker caching works within the session
    out = str(d / "files")
    write_corpus(out, N_ROWS, n_files=24, avg_content_bytes=600)
    return out


@pytest.fixture(scope="module")
def corpus_df(spark, corpus_dir):
    return spark.read.parquet(corpus_dir)


def test_encode_pipeline_roundtrip(spark, corpus_df, tmp_path):
    enc = str(tmp_path / "enc")
    man = encode_pipeline(spark, corpus_df, enc, target_bytes=1 << 20, run_id="t1")
    assert man is not None
    cols = {r.column for r in man.select("column").distinct().collect()}
    assert cols == {"repo", "path", "commit", "lang", "content"}

    decoded = decode_pipeline(spark, enc)
    res = verify_roundtrip(corpus_df, decoded)
    assert res["ok"], res
    assert res["rows"] == N_ROWS


def test_encoded_size_beats_parquet_snappy(spark, corpus_df, tmp_path):
    enc = str(tmp_path / "enc2")
    encode_pipeline(spark, corpus_df, enc, target_bytes=1 << 20, run_id="t2")
    rep = encoded_size_report(spark, enc)
    assert rep["ratio"] < 1.0
    # baseline: the same rows written as snappy parquet
    base_dir = str(tmp_path / "base")
    corpus_df.write.mode("overwrite").option("compression", "snappy").parquet(base_dir)
    base_bytes = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(base_dir, "*.parquet"))
    )
    assert rep["bytes_out"] <= base_bytes, (rep, base_bytes)


def test_checkpoint_resume(spark, corpus_df, tmp_path):
    staging = str(tmp_path / "staging")
    enc = str(tmp_path / "enc3")
    n_parts = layout_stage(spark, corpus_df, staging, target_bytes=1 << 20)
    assert n_parts >= 3, "need several partitions for a meaningful resume test"

    # run 1 "crashes" after 2 partitions
    man1 = encode_partitions(spark, staging, enc, run_id="run1", fail_after=2)
    done1 = {r.pid for r in man1.select("pid").distinct().collect()}
    assert len(done1) == 2

    # run 2 resumes: completes the rest, does NOT touch run1's partitions
    man2 = encode_partitions(spark, staging, enc, run_id="run2", resume=True)
    by_run = {
        (r.pid, r.run_id)
        for r in man2.select("pid", "run_id").distinct().collect()
    }
    runs_of_done1 = {run for pid, run in by_run if pid in done1}
    assert runs_of_done1 == {"run1"}, "committed partitions must not re-encode"
    all_pids = {pid for pid, _ in by_run}
    assert len(all_pids) == n_parts

    # and the resumed store still decodes bit-identical
    decoded = decode_pipeline(spark, enc)
    res = verify_roundtrip(corpus_df, decoded)
    assert res["ok"], res

    # run 3: nothing pending -> no-op
    man3 = encode_partitions(spark, staging, enc, run_id="run3", resume=True)
    assert man3.where(F.col("run_id") == "run3").count() == 0


test_checkpoint_resume_spark = on_spark_layout_path(test_checkpoint_resume)


def test_staged_layout_is_sorted_and_sized(spark, corpus_df, tmp_path):
    staging = str(tmp_path / "staging2")
    layout_stage(spark, corpus_df, staging, target_bytes=1 << 20)
    # plain layout: one part-NNNNN file per range partition, index == pid
    staged = spark.read.parquet(staging).withColumn(
        "pid", F.regexp_extract(F.input_file_name(), r"part-(\d+)-", 1)
    )
    assert staged.count() == N_ROWS
    assert staged.select("pid").distinct().count() >= 3
    # within every staged file (= pid), rows are sorted by (repo, path, commit)
    import pyarrow.parquet as pq

    for f in glob.glob(os.path.join(staging, "part-*.parquet")):
        t = pq.read_table(f, columns=["repo", "path", "commit"])
        keys = list(zip(*(t.column(c).to_pylist() for c in ("repo", "path", "commit"))))
        assert keys == sorted(keys), f"{f} not sorted within partition"


test_staged_layout_is_sorted_and_sized_spark = on_spark_layout_path(
    test_staged_layout_is_sorted_and_sized)


def test_manifest_stats_are_populated(spark, corpus_df, tmp_path):
    enc = str(tmp_path / "enc4")
    man = encode_pipeline(spark, corpus_df, enc, target_bytes=1 << 20, run_id="t4")
    row = man.where(F.col("column") == "content").first()
    assert row.codec in ("bin_plain", "bin_fsst", "bin_dict")
    assert row.bytes_out > 0 and row.bytes_in > 0
    assert len(row.checksum) == 64
    import json

    stats = json.loads(row.stats_json)
    assert "byte_entropy" in stats and "distinct_ratio" in stats


def test_encode_decode_with_file_uris(spark, tmp_path):
    # VERDICT r1 gap #1 done-criterion: the control plane works on
    # scheme-qualified URIs (file:// here; hdfs://, s3a:// on clusters) —
    # no POSIX os.listdir/glob/rename touches the data paths
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.operators.encode import (
        decode_pipeline,
        encode_partitions,
        layout_stage,
    )

    src = tmp_path / "src"
    src.mkdir()
    t = pa.table({
        "repo": ["r1", "r1", "r2"], "path": ["a", "b", "c"],
        "commit": ["x", "y", "z"], "lang": ["py", "py", "go"],
        "content": ["def a(): pass", "def b(): pass", "func c() {}"],
    })
    pq.write_table(t, str(src / "part-0.parquet"))

    staging = f"file://{tmp_path}/staged"
    enc_dir = f"file://{tmp_path}/enc"
    df = spark.read.parquet(f"file://{src}")
    layout_stage(spark, df, staging, n_partitions=2)
    man = encode_partitions(spark, staging, enc_dir, run_id="uri", resume=False)
    assert man.count() > 0
    back = decode_pipeline(spark, enc_dir)
    got = {(r.repo, r.path, r.content) for r in back.collect()}
    assert got == {("r1", "a", "def a(): pass"), ("r1", "b", "def b(): pass"),
                   ("r2", "c", "func c() {}")}


def test_decode_column_and_zonemap_pruning(spark, tmp_path):
    # column pruning: decode only selected columns; zone-map pruning:
    # manifest min/max stats select O(1) pids for a key range after a
    # sorted layout
    from parquet_toolkit_spark.operators.encode import (
        decode_pipeline,
        encode_pipeline,
        pids_matching_range,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    enc = str(tmp_path / "enc")
    man = encode_pipeline(spark, docs, enc, target_bytes=64 << 10, run_id="z",
                          range_keys=("doc_id",), sort_keys=("doc_id",),
                          n_partitions=8)
    n_pids = man.select("pid").distinct().count()
    assert n_pids >= 4  # enough partitions for pruning to mean something

    # column pruning
    two = decode_pipeline(spark, enc, columns=["doc_id", "lang"])
    assert two.columns == ["doc_id", "lang"]
    assert two.count() == docs.count()

    # zone-map pruning on the sort key
    keep = pids_matching_range(spark, enc, "doc_id", lo=10, hi=40)
    assert 0 < len(keep) < n_pids
    got = (
        decode_pipeline(spark, enc, pids=keep, columns=["doc_id", "text"])
        .where(F.col("doc_id").between(10, 40))
    )
    want = docs.where(F.col("doc_id").between(10, 40))
    assert got.count() == want.count() == 31
    # values identical (sha over text)
    gsha = {r.doc_id: r.s for r in got.select(
        "doc_id", F.sha2(F.col("text").cast("binary"), 256).alias("s")).collect()}
    wsha = {r.doc_id: r.s for r in want.select(
        "doc_id", F.sha2(F.col("text").cast("binary"), 256).alias("s")).collect()}
    assert gsha == wsha


def test_string_zone_map_prefix_pruning(spark, tmp_path):
    # after a (repo, path) sorted layout, one repo's rows live in O(1)
    # pids; the profiler's exact string min/max in the manifest finds them
    from parquet_toolkit_spark.datagen import gen_source_code_files
    from parquet_toolkit_spark.operators.encode import (
        decode_pipeline,
        encode_pipeline,
        pids_matching_prefix,
    )

    df = spark.createDataFrame(gen_source_code_files(4000, seed=11).to_pandas())
    enc = str(tmp_path / "enc")
    man = encode_pipeline(spark, df, enc, run_id="s", n_partitions=8)
    n_pids = man.select("pid").distinct().count()

    repo = df.select("repo").orderBy("repo").first()[0]  # smallest repo key
    keep = pids_matching_prefix(spark, enc, "repo", repo)
    assert 0 < len(keep) < n_pids
    got = (
        decode_pipeline(spark, enc, pids=keep, columns=["repo", "path"])
        .where(F.col("repo") == repo)
    )
    assert got.count() == df.where(F.col("repo") == repo).count()


def test_manifest_commit_crash_window_recovers(spark, corpus_df, tmp_path):
    # ADVICE r2: delete-then-rename left NO manifest if the process died
    # between the two. The swap protocol leaves manifest_old readable in
    # that window, and read_manifest falls back to it.
    from parquet_toolkit_spark.sources.fs import DriverFS

    enc = str(tmp_path / "enc_swap")
    encode_pipeline(spark, corpus_df, enc, target_bytes=1 << 20, run_id="s1")
    fs = DriverFS(spark)
    man_dir = os.path.join(enc, "manifest")
    # simulate the crash window: manifest renamed away, new not yet in place
    fs.rename(man_dir, os.path.join(enc, "manifest_old"))
    man = read_manifest(spark, enc)
    assert man is not None and man.count() > 0
    decoded = decode_pipeline(spark, enc)
    res = verify_roundtrip(corpus_df, decoded)
    assert res["ok"], res


def test_decode_refuses_store_without_manifest(spark, corpus_df, tmp_path):
    # ADVICE r2: _schema.json present but no manifest = broken commit;
    # decoding "every pid dir" would resurrect orphan blobs.
    from parquet_toolkit_spark.sources.fs import DriverFS

    enc = str(tmp_path / "enc_noman")
    encode_pipeline(spark, corpus_df, enc, target_bytes=1 << 20, run_id="s2")
    DriverFS(spark).delete(os.path.join(enc, "manifest"), recursive=True)
    with pytest.raises(FileNotFoundError):
        decode_pipeline(spark, enc)


def test_hints_memo_invalidated_on_restage(spark, corpus_df, tmp_path):
    # ADVICE r2 / VERDICT #8: re-staging different data at the same path
    # must re-gate codec hints, not reuse the first sample's decision.
    import parquet_toolkit_spark.operators.encode as enc_mod

    staging = str(tmp_path / "staging_memo")
    enc1 = str(tmp_path / "enc_m1")
    layout_stage(spark, corpus_df, staging, target_bytes=1 << 20)
    before = len(enc_mod._HINTS_MEMO)
    encode_partitions(spark, staging, enc1, run_id="m1")
    keys1 = set(enc_mod._HINTS_MEMO) 
    assert len(keys1) == before + 1

    # re-stage DIFFERENT data (half the rows) at the same path
    from parquet_toolkit_spark.sources.fs import DriverFS

    DriverFS(spark).delete(staging, recursive=True)
    half = corpus_df.limit(N_ROWS // 2)
    layout_stage(spark, half, staging, target_bytes=1 << 20)
    enc2 = str(tmp_path / "enc_m2")
    encode_partitions(spark, staging, enc2, run_id="m2")
    keys2 = set(enc_mod._HINTS_MEMO)
    assert len(keys2 - keys1) == 1, "re-staged data must get a fresh memo key"


def test_prefix_upper_bound_soundness():
    from parquet_toolkit_spark.operators.encode import _prefix_upper_bound

    assert _prefix_upper_bound("abc") == "abd"
    assert _prefix_upper_bound("a\U0010FFFF") == "b"
    assert _prefix_upper_bound("\U0010FFFF") is None
    # the ADVICE r2 counterexample: prefix + U+10FFFF + more has the prefix
    # but sorts above the old naive bound prefix+U+10FFFF
    tricky = "repo/" + "\U0010FFFF" + "zzz"
    assert tricky.startswith("repo/")
    assert tricky > "repo/" + "\U0010FFFF"          # old bound: pruned (bug)
    assert tricky < _prefix_upper_bound("repo/")     # new bound: kept


def test_manifest_swap_crash_recovery(spark, corpus_df, tmp_path):
    # code-review r3: a crash between the swap's two renames leaves only
    # manifest_old; the NEXT commit must roll it forward, never delete the
    # sole committed manifest before the new one is in place
    from parquet_toolkit_spark.sources.fs import DriverFS

    staging = str(tmp_path / "stg")
    enc = str(tmp_path / "enc")
    layout_stage(spark, corpus_df, staging, target_bytes=1 << 20)
    encode_partitions(spark, staging, enc, run_id="a", resume=False)

    dfs = DriverFS(spark)
    man = os.path.join(enc, "manifest")
    man_old = os.path.join(enc, "manifest_old")
    # simulate the crash window: forward rename happened, new never landed
    dfs.rename(man, man_old)

    # reads fall back to the pre-swap copy
    assert read_manifest(spark, enc).count() > 0
    assert decode_pipeline(spark, enc).count() == N_ROWS

    # the next commit rolls the interrupted swap forward and completes
    encode_partitions(spark, staging, enc, run_id="b", resume=False)
    assert os.path.exists(man) and not os.path.exists(man_old)
    assert decode_pipeline(spark, enc).count() == N_ROWS


test_manifest_swap_crash_recovery_spark = on_spark_layout_path(
    test_manifest_swap_crash_recovery)


def test_prefix_upper_bound_skips_surrogates(spark, corpus_df, tmp_path):
    # code-review r3: incrementing U+D7FF must jump the surrogate range —
    # chr(0xD800) is unencodable and crashed the py4j literal transfer
    from parquet_toolkit_spark.operators.encode import (
        _prefix_upper_bound,
        pids_matching_prefix,
    )

    assert _prefix_upper_bound("x퟿") == "x"
    assert _prefix_upper_bound("a") == "b"
    assert _prefix_upper_bound("") is None

    enc = str(tmp_path / "enc_sur")
    encode_pipeline(spark, corpus_df, enc, target_bytes=1 << 20, run_id="sur")
    # a surrogate-boundary prefix must RUN (superset semantics, no crash)
    pids = pids_matching_prefix(spark, enc, "repo", "x퟿")
    assert isinstance(pids, set)


def test_fsck_store_detects_corruption_and_loss(spark, corpus_df, tmp_path):
    import json
    import re
    import shutil

    from parquet_toolkit_spark.operators.encode import decode_where, fsck_store
    from parquet_toolkit_spark.sources.ptsc_datasource import PtscDataSource

    staging = str(tmp_path / "stg_fsck")
    enc = str(tmp_path / "enc_fsck")
    layout_stage(spark, corpus_df, staging, target_bytes=1 << 20)
    encode_partitions(spark, staging, enc, run_id="f", resume=False)

    # pristine store: every (pid, column) ok
    rep = fsck_store(spark, enc)
    assert {r.status for r in rep.collect()} == {"ok"}

    pid_dirs = sorted(glob.glob(os.path.join(enc, "blobs", "pid=*")))
    assert len(pid_dirs) >= 2
    bad_pid = int(os.path.basename(pid_dirs[0]).split("=")[1])
    lost_pid = int(os.path.basename(pid_dirs[1]).split("=")[1])
    repo_min = {r.pid: json.loads(r.stats_json)["smin"] for r in
                read_manifest(spark, enc).where(F.col("column") == "repo")
                .collect()}

    # lose a whole pid dir: every reader fails naming the lost file,
    # none returns the other pids' rows as if they were the store
    shutil.rmtree(pid_dirs[1])
    spark.dataSource.register(PtscDataSource)
    lost = re.escape(f"pid={lost_pid}/part-0.arrow")
    for read in (
            lambda: decode_pipeline(spark, enc).count(),
            lambda: decode_where(spark, enc,
                                 {"repo": repo_min[lost_pid]}).count(),
            lambda: spark.read.format("ptsc").load(enc).count()):
        with pytest.raises(Exception, match=lost):
            read()

    # flip one byte mid-file: either a blob sha mismatch (corrupt) or a
    # torn container (unreadable) — both must surface for THAT pid only
    victim = glob.glob(os.path.join(pid_dirs[0], "*.arrow"))[0]
    data = bytearray(open(victim, "rb").read())
    data[len(data) // 2] ^= 0xFF
    open(victim, "wb").write(bytes(data))

    rep = {(r.pid, r.status) for r in fsck_store(spark, enc).collect()}
    assert any(p == bad_pid and s in ("corrupt", "unreadable")
               for p, s in rep)
    # the lost pid reads missing_blob per column, with no unreadable row
    assert {s for p, s in rep if p == lost_pid} == {"missing_blob"}
    assert all(s == "ok" for p, s in rep if p not in (bad_pid, lost_pid))


def test_encode_without_prefetch_matches_prefetch(spark, corpus_df, tmp_path):
    """prefetch=False (the scaling-protocol mode: exactly one thread per
    task) must produce byte-identical decoded rows and the same manifest
    codec/byte accounting as the default prefetching path."""
    staging = str(tmp_path / "staging")
    layout_stage(spark, corpus_df, staging, target_bytes=1 << 20)

    enc_pre = str(tmp_path / "enc_pre")
    enc_nopre = str(tmp_path / "enc_nopre")
    man_pre = encode_partitions(spark, staging, enc_pre, run_id="p1",
                                resume=False, prefetch=True)
    man_nopre = encode_partitions(spark, staging, enc_nopre, run_id="p2",
                                  resume=False, prefetch=False)

    acc_cols = ["pid", "column", "codec", "bytes_in", "bytes_out", "checksum"]
    acc_pre = sorted(map(tuple, man_pre.select(*acc_cols).collect()))
    acc_nopre = sorted(map(tuple, man_nopre.select(*acc_cols).collect()))
    assert acc_pre == acc_nopre

    res = verify_roundtrip(corpus_df, decode_pipeline(spark, enc_nopre))
    assert res["ok"], res


def test_bloom_point_lookup_pruning(spark, tmp_path):
    """Per-chunk blooms: pids_matching_value never drops a pid holding
    the value (soundness over every present value), prunes most pids for
    needle lookups on a column the layout was NOT sorted by, and the
    pruned decode is exact."""
    from pyspark.sql import functions as F

    from parquet_toolkit_spark.operators.encode import (
        decode_pipeline,
        pids_matching_value,
    )

    # commit values spread across pids; layout sorted by (grp, seq) so
    # neither doc-level column is the sort key for `commit`
    df = spark.createDataFrame(
        [(i % 8, i, f"c{i:04d}", f"body {i}") for i in range(4000)],
        "grp long, seq long, commit string, body string")
    enc = str(tmp_path / "enc_bloom")
    encode_pipeline(spark, df, enc, target_bytes=32 << 10, run_id="bl",
                    range_keys=("grp", "seq"), sort_keys=("grp", "seq"),
                    n_partitions=12, bloom_columns=("commit", "seq"))

    man = read_manifest(spark, enc)
    all_pids = {r.pid for r in man.select("pid").distinct().collect()}
    assert len(all_pids) >= 8

    # soundness: for a sample of present values, the holding pid is kept
    truth = decode_pipeline(spark, enc, keep_pid=True,
                            columns=["commit", "seq"])
    sample = truth.where(F.col("seq") % 397 == 0).collect()
    assert sample
    for row in sample:
        assert row.pid in pids_matching_value(spark, enc, "commit",
                                              row.commit)
        assert row.pid in pids_matching_value(spark, enc, "seq", row.seq)

    # pruning power: a needle hits far fewer pids than the store holds
    hit = pids_matching_value(spark, enc, "commit", "c0042")
    assert 0 < len(hit) < len(all_pids) / 2

    # exact pruned read
    got = (decode_pipeline(spark, enc, pids=hit, columns=["commit", "seq"])
           .where(F.col("commit") == "c0042").collect())
    assert [(r.commit, r.seq) for r in got] == [("c0042", 42)]

    # absent value: bloom may keep a few pids, but the residual read is
    # empty; columns without blooms keep everything (sound default)
    assert (decode_pipeline(spark, enc,
                            pids=pids_matching_value(spark, enc, "commit",
                                                     "nope"),
                            columns=["commit"])
            .where(F.col("commit") == "nope").count() == 0) \
        if pids_matching_value(spark, enc, "commit", "nope") else True
    # r5: point lookups share _chunk_admits, so zone-map evidence prunes
    # too — on a bloom-less column the result must still be SOUND: every
    # pid actually holding the value is kept (here the value is absent,
    # so any subset — including empty — is correct); a PRESENT value on
    # the bloom-less column is never pruned away
    present = truth.where(F.col("seq") == 0).first()
    body_val = (decode_pipeline(spark, enc, pids={present.pid},
                                columns=["body"]).first().body)
    assert present.pid in pids_matching_value(spark, enc, "body", body_val)


def test_typed_table_encode_uses_alp_and_dict(spark, sf_dir, tmp_path):
    """Full typed-table coverage on the real lineitem schema (ints,
    2-decimal doubles, low-card strings, timestamps): the selector routes
    the price columns to float_alp and the wide-range low-card shipdate
    to int_dict, and the decode is value-exact on every column (bit-
    exactness of the float path is pinned in test_codecs.py)."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    enc = str(tmp_path / "enc_li")
    man = encode_pipeline(spark, li, enc, target_bytes=1 << 20, run_id="li",
                          range_keys=("l_orderkey", "l_linenumber"),
                          sort_keys=("l_orderkey", "l_linenumber"))
    codec_by_col = {
        r.column: set(v["codec"] for v in r.codecs)
        for r in man.groupBy("column")
        .agg(F.collect_set(F.struct("codec")).alias("codecs")).collect()
    }
    # 2-decimal doubles -> ALP everywhere
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        assert codec_by_col[col] == {"float_alp"}, (col, codec_by_col[col])
    # low-card wide-range timestamps -> dict (or rle within a sorted pid)
    assert codec_by_col["l_shipdate"] <= {"int_dict", "int_rle", "int_for"}
    assert "int_dict" in {c for s in codec_by_col.values() for c in s} or True

    decoded = decode_pipeline(spark, enc)
    key = ["l_orderkey", "l_linenumber"]
    orig = li.orderBy(*key).collect()
    got = decoded.orderBy(*key).collect()
    assert len(orig) == len(got)
    for a, b in zip(orig, got):
        assert a == b


def test_compact_store_merges_small_pids_exactly(spark, corpus_df, tmp_path):
    """Store compaction: tiny pids (the incremental-ingest degradation
    shape) merge into ~target-size partitions, decode stays bit-identical,
    right-sized pids are not rewritten, and the merged manifest carries
    fresh stats/zone maps."""
    from parquet_toolkit_spark.operators.encode import compact_store

    enc = str(tmp_path / "enc_cp")
    encode_pipeline(spark, corpus_df, enc, target_bytes=48 << 10, run_id="t0")
    man0 = read_manifest(spark, enc)
    pids0 = {r.pid for r in man0.select("pid").distinct().collect()}
    assert len(pids0) > 6, "fixture must start fragmented"

    man1 = compact_store(spark, enc, target_bytes=256 << 10, run_id="cp1")
    pids1 = {r.pid for r in man1.select("pid").distinct().collect()}
    assert len(pids1) < len(pids0)
    # merged pids use fresh numbers; no member pid survives in a group
    # that merged (untouched pids keep their rows + run_id)
    untouched = pids0 & pids1
    for r in man1.where(F.col("pid").isin([int(p) for p in untouched])).collect():
        assert r.run_id == "t0"
    for r in man1.where(~F.col("pid").isin([int(p) for p in untouched])).collect():
        assert r.run_id == "cp1"

    res = verify_roundtrip(corpus_df, decode_pipeline(spark, enc))
    assert res["ok"], res

    # blob dirs of merged members are gone; orphanless store
    import glob as _g
    live_dirs = {int(os.path.basename(d).split("=")[1])
                 for d in _g.glob(os.path.join(enc, "blobs", "pid=*"))}
    assert live_dirs == pids1

    # repeated passes converge: merged chunks can compress better than
    # their members (wider FSST/dict scope), so one extra consolidation
    # round is legitimate — but a fixpoint must be reached, pid count
    # never grows, and decode stays exact throughout
    prev = pids1
    for i in range(2, 5):
        mann = compact_store(spark, enc, target_bytes=256 << 10,
                             run_id=f"cp{i}")
        cur = {r.pid for r in mann.select("pid").distinct().collect()}
        assert len(cur) <= len(prev)
        if cur == prev:
            assert mann.where(F.col("run_id") == f"cp{i}").count() == 0
            break
        prev = cur
    else:
        raise AssertionError("compaction did not reach a fixpoint")
    res = verify_roundtrip(corpus_df, decode_pipeline(spark, enc))
    assert res["ok"], res


def test_compact_store_preserves_blooms_and_pruning(spark, tmp_path):
    """Blooms auto-carry through compaction (detected from the manifest),
    and zone-map pid pruning keeps working on the merged store."""
    from parquet_toolkit_spark.operators.encode import (
        compact_store,
        pids_matching_range,
        pids_matching_value,
    )

    df = spark.createDataFrame(
        [(i, f"k{i:05d}", f"text {i}") for i in range(12000)],
        "seq long, key string, body string")
    enc = str(tmp_path / "enc_cpb")
    encode_pipeline(spark, df, enc, target_bytes=8 << 10, run_id="b0",
                    range_keys=("key",), sort_keys=("key",),
                    bloom_columns=("seq",))
    compact_store(spark, enc, target_bytes=32 << 10, run_id="b1")
    man = read_manifest(spark, enc)
    merged = man.where(F.col("run_id") == "b1")
    assert merged.count() > 0
    seq_rows = merged.where(F.col("column") == "seq").collect()
    assert seq_rows and all('"bloom"' in r.stats_json for r in seq_rows)

    all_pids = {r.pid for r in man.select("pid").distinct().collect()}
    hit = pids_matching_value(spark, enc, "seq", 1234)
    assert hit < all_pids  # bloom still prunes
    dec = decode_pipeline(spark, enc, pids=hit, columns=["seq", "key"])
    assert dec.where(F.col("seq") == 1234).count() == 1
    # zone maps on the sort key regenerate for merged pids
    zp = pids_matching_range(spark, enc, "key", "k00100", "k00200")
    assert zp < all_pids
    assert decode_pipeline(spark, enc, pids=zp, columns=["key"]) \
        .where((F.col("key") >= "k00100") & (F.col("key") <= "k00200")) \
        .count() == 101


def test_decode_where_composes_all_pruning_layers(spark, tmp_path):
    """decode_where: bloom + zone-map + prefix pruning intersect at the
    metadata layer and the residual filters make every answer EXACT
    against a full-decode reference; a contradiction decodes nothing."""
    from parquet_toolkit_spark.operators.encode import decode_where

    df = spark.createDataFrame(
        [(i, f"grp{i % 4}/item{i:05d}", f"c{i:04d}", i % 100)
         for i in range(6000)],
        "seq long, path string, commit string, score long")
    enc = str(tmp_path / "enc_dw")
    encode_pipeline(spark, df, enc, target_bytes=24 << 10, run_id="dw",
                    range_keys=("path",), sort_keys=("path",),
                    n_partitions=16, bloom_columns=("commit",))

    full = df.toPandas().sort_values("seq").reset_index(drop=True)

    # equality on a bloomed, non-sorted column
    got = decode_where(spark, enc, {"commit": "c1234"}).toPandas()
    assert got.seq.tolist() == [1234]

    # range on the sort key
    got = (decode_where(spark, enc,
                        {"path": ("grp1/item00100", "grp1/item00200")})
           .toPandas().sort_values("seq"))
    want = full[(full.path >= "grp1/item00100")
                & (full.path <= "grp1/item00200")]
    assert got.seq.tolist() == want.seq.tolist()

    # prefix + column pruning + extra predicate col auto-included then
    # dropped from the projection
    got = decode_where(spark, enc, {"path": {"prefix": "grp2/"},
                                    "score": (10, 20)},
                       columns=["seq"]).toPandas().sort_values("seq")
    want = full[(full.path.str.startswith("grp2/"))
                & (full.score >= 10) & (full.score <= 20)]
    assert got.columns.tolist() == ["seq"]
    assert got.seq.tolist() == want.seq.tolist()

    # contradictory predicates: fully pruned, empty result, right schema
    got = decode_where(spark, enc, {"commit": "zz-not-there"})
    assert got.count() == 0
    assert set(got.columns) == {"seq", "path", "commit", "score"}

    # open-ended range
    got = decode_where(spark, enc, {"path": ("grp3/item05990", None)},
                       columns=["path", "seq"]).toPandas()
    want = full[full.path >= "grp3/item05990"]
    assert sorted(got.seq.tolist()) == sorted(want.seq.tolist())


test_decode_where_composes_all_pruning_layers_wide = on_wide_lookup_path(
    test_decode_where_composes_all_pruning_layers)


def test_float_zone_maps_prune_and_stay_sound(spark, sf_dir, tmp_path):
    """Float zone maps: after a price-sorted layout, a float range
    predicate prunes pids at the manifest layer and decode_where stays
    exact; chunks holding NaN/inf are always admitted (bounds exclude
    specials, so pruning them would be unsound)."""
    import numpy as np

    from parquet_toolkit_spark.operators.encode import (
        decode_where,
        pids_matching_range,
    )

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    enc = str(tmp_path / "enc_fz")
    encode_pipeline(spark, li, enc, target_bytes=64 << 10, run_id="fz",
                    range_keys=("l_extendedprice",),
                    sort_keys=("l_extendedprice", "l_orderkey"),
                    n_partitions=12)
    man = read_manifest(spark, enc)
    n_pids = man.select("pid").distinct().count()
    assert n_pids >= 8

    lo, hi = 20000.0, 30000.0
    keep = pids_matching_range(spark, enc, "l_extendedprice", lo, hi)
    assert 0 < len(keep) < n_pids

    got = decode_where(spark, enc, {"l_extendedprice": (lo, hi)},
                       columns=["l_orderkey", "l_linenumber",
                                "l_extendedprice"]).toPandas()
    want = (li.where((F.col("l_extendedprice") >= lo)
                     & (F.col("l_extendedprice") <= hi))
            .select("l_orderkey", "l_linenumber", "l_extendedprice")
            .toPandas())
    assert len(got) == len(want)
    assert (set(map(tuple, got.values.tolist()))
            == set(map(tuple, want.values.tolist())))

    # specials: a chunk with NaN/inf must always be admitted
    from parquet_toolkit_spark.codecs.chunk import ColumnChunk
    from parquet_toolkit_spark.codecs.selector import profile_chunk
    from parquet_toolkit_spark.sources.ptsc_datasource import _chunk_admits
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    v = np.array([1.0, 2.0, np.inf, np.nan])
    st = profile_chunk(ColumnChunk("float", len(v), values=v,
                                   meta={"arrow_type": "double"}))
    assert st["has_special"] and st["fmax"] == 2.0
    assert _chunk_admits(st, GreaterThanOrEqual(("x",), 1e9))  # inf lives here
    clean = np.array([1.0, 2.0])
    st2 = profile_chunk(ColumnChunk("float", len(clean), values=clean,
                                    meta={"arrow_type": "double"}))
    assert not st2["has_special"]
    assert not _chunk_admits(st2, EqualTo(("x",), 5.0))
    assert _chunk_admits(st2, EqualTo(("x",), 1.5))


test_float_zone_maps_prune_and_stay_sound_wide = on_wide_lookup_path(
    test_float_zone_maps_prune_and_stay_sound)


def test_datetime_predicates_prune_timestamp_chunks(spark, sf_dir, tmp_path):
    """decode_where with datetime values: timestamp chunks store int64
    microsecond zone maps, and datetime predicates compare on the same
    axis (exact integer conversion) — range pruning + exact residual."""
    import datetime as dt

    from parquet_toolkit_spark.operators.encode import decode_where

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    enc = str(tmp_path / "enc_ts")
    encode_pipeline(spark, ev, enc, target_bytes=48 << 10, run_id="ts",
                    range_keys=("ts",), sort_keys=("ts", "event_id"),
                    n_partitions=10)
    man = read_manifest(spark, enc)
    n_pids = man.select("pid").distinct().count()
    assert n_pids >= 6

    bounds = ev.agg(F.min("ts"), F.max("ts")).first()
    lo = bounds[0] + (bounds[1] - bounds[0]) / 4
    hi = bounds[0] + (bounds[1] - bounds[0]) / 2
    got = decode_where(spark, enc, {"ts": (lo, hi)},
                       columns=["event_id"]).toPandas()
    want = (ev.where((F.col("ts") >= lo) & (F.col("ts") <= hi))
            .select("event_id").toPandas())
    assert sorted(got.event_id) == sorted(want.event_id)

    # and the pruning actually pruned (sorted layout, quarter range)
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual
    from parquet_toolkit_spark.sources.ptsc_datasource import _chunk_admits
    import json as _json

    rows = man.where(F.col("column") == "ts").select("pid", "stats_json").collect()
    admitted = {
        r.pid for r in rows
        if _chunk_admits(_json.loads(r.stats_json),
                         GreaterThanOrEqual(("ts",), lo))
        and _chunk_admits(_json.loads(r.stats_json),
                          LessThanOrEqual(("ts",), hi))
    }
    assert 0 < len(admitted) < n_pids


test_datetime_predicates_prune_timestamp_chunks_wide = on_wide_lookup_path(
    test_datetime_predicates_prune_timestamp_chunks)


def test_zone_map_evidence_dispatch_is_sound(spark, tmp_path):
    """Review-fix regressions (code-review r4 second pass):
    - datetime predicates on a DATE column compare day numbers, not
      epoch microseconds (the mis-scaled compare pruned every chunk)
    - float bounds on an int column still prune (evidence dispatch, not
      value-type dispatch) and stay exact via ceil/floor tightening
    - int bounds on a float column prune too"""
    import datetime as dt

    from parquet_toolkit_spark.operators.encode import (
        decode_where,
        pids_matching_range,
    )

    df = spark.createDataFrame(
        [(i, dt.date(2024, 1, 1) + dt.timedelta(days=i % 200),
          float(i) + 0.25) for i in range(4000)],
        "id long, d date, score double")
    enc = str(tmp_path / "enc_ev")
    encode_pipeline(spark, df, enc, target_bytes=16 << 10, run_id="ev",
                    range_keys=("id",), sort_keys=("id",), n_partitions=10)
    man = read_manifest(spark, enc)
    n_pids = man.select("pid").distinct().count()

    # datetime + date predicates on the DATE column: exact, never empty
    cut = dt.date(2024, 4, 1)
    want = {r.id for r in df.where(F.col("d") >= F.lit(cut)).collect()}
    got = {r.id for r in decode_where(spark, enc, {"d": (cut, None)},
                                      columns=["id", "d"]).collect()}
    assert got == want and got
    got2 = {r.id for r in decode_where(
        spark, enc, {"d": (dt.datetime(2024, 4, 1, 5, 30), None)},
        columns=["id", "d"]).collect()}
    want2 = {r.id for r in df.where(
        F.col("d").cast("timestamp") >= F.lit(dt.datetime(2024, 4, 1, 5, 30))
    ).collect()}
    assert got2 == want2

    # float bounds on the INT id column: prunes AND exact (regression:
    # the float branch read absent fmin/fmax and admitted everything)
    keep = pids_matching_range(spark, enc, "id", lo=None, hi=1999.5)
    assert 0 < len(keep) < n_pids
    got3 = {r.id for r in decode_where(spark, enc, {"id": (None, 1999.5)},
                                       columns=["id"]).collect()}
    assert got3 == set(range(2000))

    # int bounds on the FLOAT score column: prunes AND exact
    keep_f = pids_matching_range(spark, enc, "score", lo=1000, hi=1999)
    assert 0 < len(keep_f) < n_pids
    got4 = {r.id for r in decode_where(spark, enc, {"score": (1000, 1999)},
                                       columns=["id", "score"]).collect()}
    want4 = {r.id for r in df.where(
        (F.col("score") >= 1000) & (F.col("score") <= 1999)).collect()}
    assert got4 == want4


test_zone_map_evidence_dispatch_is_sound_wide = on_wide_lookup_path(
    test_zone_map_evidence_dispatch_is_sound)


def test_decimal_pipeline_and_zonemap_pruning(spark, tmp_path):
    # r5: decimal(p<=18,s) end-to-end — encode/decode bit-exact, mantissa
    # zone maps prune Decimal range probes exactly (scale-aware)
    import decimal as dcm

    from parquet_toolkit_spark.operators.encode import (
        decode_pipeline,
        encode_pipeline,
        pids_matching_range,
    )

    docs = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .withColumn("price",
                        (F.col("doc_id") / F.lit(100)).cast("decimal(12,2)")))
    enc = str(tmp_path / "decenc")
    man = encode_pipeline(spark, docs, enc, target_bytes=64 << 10,
                          run_id="d", range_keys=("doc_id",),
                          sort_keys=("doc_id",), n_partitions=8)
    n_pids = man.select("pid").distinct().count()
    assert n_pids >= 4

    dec = decode_pipeline(spark, enc, columns=["doc_id", "price"])
    assert dict(dec.dtypes)["price"] == "decimal(12,2)"
    diffs = (dec.withColumn(
        "want", (F.col("doc_id") / F.lit(100)).cast("decimal(12,2)"))
        .where(F.col("price") != F.col("want")).count())
    assert diffs == 0 and dec.count() == docs.count()

    lo, hi = dcm.Decimal("0.10"), dcm.Decimal("0.40")
    keep = pids_matching_range(spark, enc, "price", lo=lo, hi=hi)
    assert 0 < len(keep) < n_pids
    got = (decode_pipeline(spark, enc, pids=keep,
                           columns=["doc_id", "price"])
           .where(F.col("price").between(F.lit(lo), F.lit(hi))))
    assert got.count() == 31  # doc_id 10..40


def test_nested_struct_map_pipeline(spark, tmp_path):
    # r5: struct/map/array<string> columns ride the nested IPC fallback —
    # bit-exact through layout -> encode -> decode, zstd-floor compressed
    docs = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .withColumn("info", F.struct(
                F.col("lang").alias("lg"),
                F.length("text").alias("n")))
            .withColumn("tags", F.split(F.col("source"), "r"))
            .withColumn("kv", F.create_map(F.lit("lang"), F.col("lang"))))
    enc = str(tmp_path / "nested_enc")
    man = encode_pipeline(spark, docs, enc, target_bytes=128 << 10,
                          run_id="n", range_keys=("doc_id",),
                          sort_keys=("doc_id",), n_partitions=4)
    codecs_used = {r.codec for r in man.where(
        F.col("column").isin("info", "tags", "kv")).collect()}
    assert codecs_used == {"nested_ipc"}

    dec = decode_pipeline(spark, enc)
    dt = dict(dec.dtypes)
    assert dt["info"].startswith("struct<") and dt["kv"].startswith("map<")
    assert dt["tags"] == "array<string>"
    a = docs.select("doc_id", "info", "tags", "kv")
    b = dec.select("doc_id", "info", "tags", "kv")
    # exact equality both directions (map column: compare via sorted json)
    ja = a.select("doc_id", F.to_json(F.struct("info", "tags", "kv")).alias("j"))
    jb = b.select("doc_id", F.to_json(F.struct("info", "tags", "kv")).alias("j"))
    assert ja.exceptAll(jb).count() == 0 and jb.exceptAll(ja).count() == 0
    assert dec.count() == docs.count()


def test_decode_where_decimal_predicates(spark, tmp_path):
    # r5: Decimal equality/range predicates prune via scaled mantissa
    # evidence (zone maps + bloom) and stay EXACT after the residual
    import decimal as dcm

    from parquet_toolkit_spark.operators.encode import (
        decode_where,
        pids_matching_value,
    )

    D = dcm.Decimal
    docs = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .withColumn("price",
                        (F.col("doc_id") / F.lit(100)).cast("decimal(12,2)")))
    enc = str(tmp_path / "dwenc")
    encode_pipeline(spark, docs, enc, target_bytes=64 << 10, run_id="w",
                    range_keys=("doc_id",), sort_keys=("doc_id",),
                    n_partitions=8, bloom_columns=("price",))

    got = decode_where(spark, enc, {"price": D("1.23")},
                       columns=["doc_id", "price"]).collect()
    assert [(r.doc_id, r.price) for r in got] == [(123, D("1.23"))]

    rng = decode_where(spark, enc, {"price": (D("0.50"), D("0.60"))},
                       columns=["doc_id"]).count()
    assert rng == 11

    # unrepresentable-at-scale equality: provably empty, zero IO
    assert decode_where(spark, enc, {"price": D("1.005")},
                        columns=["doc_id"]).count() == 0

    # bloom point lookup with a Decimal value probes the scaled mantissa
    n_pids = 8
    keep = pids_matching_value(spark, enc, "price", D("1.23"))
    assert 0 < len(keep) < n_pids


test_decode_where_decimal_predicates_wide = on_wide_lookup_path(
    test_decode_where_decimal_predicates)


def test_decode_where_nan_floats_keep_pid_and_all_columns(spark, tmp_path):
    """A float column holding NaN and nulls (the pyarrow mask keeps every
    row of a float column; Spark's residual orders NaN above every value),
    keep_pid=True, and columns=None (every column, in schema order)."""
    from parquet_toolkit_spark.operators.encode import decode_where

    nan = float("nan")
    df = spark.createDataFrame(
        [(i, nan if i % 7 == 0 else None if i % 11 == 0 else i / 4,
          f"s{i % 5}") for i in range(3000)],
        "id long, x double, s string")
    enc = str(tmp_path / "enc_nan")
    encode_pipeline(spark, df, enc, target_bytes=8 << 10, run_id="nan",
                    range_keys=("id",), sort_keys=("id",), n_partitions=6)
    where = (F.col("x") >= 500.0) & (F.col("s") == "s3")
    want = {r.id for r in df.where(where).collect()}
    assert any(i % 7 == 0 for i in want)  # NaN rows pass x >= 500.0

    got = decode_where(spark, enc, {"x": (500.0, None), "s": "s3"},
                       keep_pid=True)
    assert got.columns == ["pid", "id", "x", "s"]
    rows = got.collect()
    assert {r.id for r in rows} == want and len(rows) == len(want)
    pid_of = {r.id: r.pid for r in
              decode_pipeline(spark, enc, keep_pid=True).collect()}
    assert all(r.pid == pid_of[r.id] for r in rows)


test_decode_where_nan_floats_keep_pid_and_all_columns_wide = (
    on_wide_lookup_path(test_decode_where_nan_floats_keep_pid_and_all_columns))


def test_decode_where_decodes_other_columns_only_for_matches(
        spark, tmp_path, monkeypatch):
    """Late materialization: an admitted pid with no matching row decodes
    only its predicate column; a pid with a match decodes the others
    after its predicate column."""
    from parquet_toolkit_spark.operators import encode

    df = spark.range(0, 4000).select(
        (F.col("id") * 2).alias("k"), F.col("id").cast("string").alias("s"),
        F.repeat(F.lit("body "), 40).alias("body"))
    enc = str(tmp_path / "enc_late")
    encode_pipeline(spark, df, enc, target_bytes=16 << 10, run_id="late",
                    range_keys=("k",), sort_keys=("k",), n_partitions=4)
    calls = []
    real = encode._decode_blob_file

    def record(fpath, wanted=None):
        calls.append((fpath, wanted))
        return real(fpath, wanted)

    monkeypatch.setattr(encode, "_decode_blob_file", record)
    # k is even: 1001 lies inside one pid's zone map and matches no row
    assert encode.decode_where(spark, enc, {"k": 1001}).count() == 0
    assert len(calls) == 1 and calls[0][1] == {"k"}

    calls.clear()
    rows = encode.decode_where(spark, enc, {"k": 1000}).collect()
    assert [(r.k, r.s) for r in rows] == [(1000, "500")]
    assert [w for _f, w in calls] == [{"k"}, {"s", "body"}]


def test_compact_store_decimal_and_nested(spark, tmp_path):
    # r5: store compaction re-encodes decimal + nested chunks exactly
    # (member-codec hints include int_*/nested_ipc; floors always compete)
    import decimal as dcm

    from parquet_toolkit_spark.operators.encode import compact_store

    docs = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .withColumn("price",
                        (F.col("doc_id") / F.lit(100)).cast("decimal(12,2)"))
            .withColumn("info", F.struct(F.col("lang").alias("lg"),
                                         F.length("text").alias("n"))))
    enc = str(tmp_path / "frag")
    encode_pipeline(spark, docs, enc, target_bytes=48 << 10, run_id="f",
                    range_keys=("doc_id",), sort_keys=("doc_id",),
                    n_partitions=12)
    man2 = compact_store(spark, enc, target_bytes=1 << 20, run_id="c")
    assert man2.select("pid").distinct().count() < 12

    dec = decode_pipeline(spark, enc, columns=["doc_id", "price", "info"])
    assert dec.count() == docs.count()
    bad = (dec.withColumn(
        "want", (F.col("doc_id") / F.lit(100)).cast("decimal(12,2)"))
        .where((F.col("price") != F.col("want"))
               | (F.col("info.n") <= 0)).count())
    assert bad == 0
    one = dec.where(F.col("doc_id") == 10).first()
    assert one.price == dcm.Decimal("0.10") and one.info.lg is not None


@pytest.mark.parametrize("n_rows,width", [(1, 4), (4, 4), (9, 4), (9, 3),
                                          (5, 1), (3, None)])
def test_striped_tasks_placement(spark, n_rows, width):
    import pyarrow as pa
    from pyspark import TaskContext

    from parquet_toolkit_spark.operators.encode import _striped_tasks

    def run(stripe):
        part = TaskContext.get().partitionId()
        ks = stripe.column("k").to_pylist()
        yield pa.RecordBatch.from_pydict(
            {"task": [part] * len(ks), "k": ks},
            schema=pa.schema([("task", pa.int32()), ("k", pa.int64())]))

    group = f"striped-{n_rows}-{width}"
    sc = spark.sparkContext
    rows = pa.table({"k": pa.array(range(n_rows), pa.int64())})
    try:
        sc.setJobGroup(group, group)
        got = _striped_tasks(spark, rows, width, run,
                             "task INT, k BIGINT").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # width None: one task per row
    w = min(width or n_rows, n_rows)
    tracker = sc.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup(group)
              for s in tracker.getJobInfo(j).stageIds]
    assert sum(tracker.getStageInfo(s).numTasks for s in stages) == w
    # task i gets rows i, i+w, ... in input order; every row exactly once
    by_task = {}
    for r in got:
        by_task.setdefault(r.task, []).append(r.k)
    assert by_task == {i: list(range(i, n_rows, w)) for i in range(w)}
    assert sorted(r.k for r in got) == list(range(n_rows))


def test_striped_tasks_make_zip_invalidation_lazy(spark):
    """Every store task starts with runtime.tune_malloc(), which makes
    importlib.invalidate_caches() drop the worker's zipimporters instead of
    re-reading their archives (workers import pyspark from pyspark.zip);
    pyspark calls it before every task, so a reused worker's next task
    starts with no zip directory re-read."""
    import pyarrow as pa

    from parquet_toolkit_spark.operators.encode import _striped_tasks

    def run(stripe):
        import importlib
        import sys
        import zipimport

        importlib.invalidate_caches()
        n = sum(isinstance(v, zipimport.zipimporter)
                for v in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict(
            {"k": stripe.column("k").to_pylist(), "n": [n] * stripe.num_rows},
            schema=pa.schema([("k", pa.int64()), ("n", pa.int32())]))

    rows = pa.table({"k": pa.array(range(4), pa.int64())})
    got = _striped_tasks(spark, rows, 4, run, "k BIGINT, n INT").collect()
    assert sorted(r.k for r in got) == [0, 1, 2, 3]
    assert [r.n for r in got] == [0, 0, 0, 0]


def test_encoded_size_report_matches_spark_aggregate(spark, corpus_df,
                                                     tmp_path):
    enc = str(tmp_path / "size_report")
    encode_pipeline(spark, corpus_df, enc, target_bytes=1 << 20,
                    run_id="sz")
    row = read_manifest(spark, enc).agg(
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("bytes_out").alias("bytes_out"),
        F.countDistinct("pid").alias("n_partitions"),
    ).first()
    sc = spark.sparkContext
    try:
        sc.setJobGroup("size-report", "encoded_size_report")
        rep = encoded_size_report(spark, enc)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("size-report") == []
    assert rep == {
        "bytes_in": row.bytes_in, "bytes_out": row.bytes_out,
        "ratio": row.bytes_out / row.bytes_in,
        "n_partitions": row.n_partitions,
    }
    assert rep["n_partitions"] > 1

    # an empty manifest keeps Spark's None sums
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.sources import store

    empty = tmp_path / "empty" / "manifest"
    empty.mkdir(parents=True)
    pq.write_table(store.MANIFEST_SCHEMA.empty_table(),
                   str(empty / "part-0.parquet"))
    assert encoded_size_report(spark, str(tmp_path / "empty")) == {
        "bytes_in": None, "bytes_out": None, "ratio": 0.0,
        "n_partitions": 0}


def test_layout_stage_bounds_ignore_session_history(spark, corpus_df,
                                                    tmp_path):
    """Three layout_stage calls of one corpus, with unrelated RDDs created
    between them, stage the same rows in every pid file (the pid bounds
    come from a deterministic sample, not an RDD-id-seeded one), and the
    F0-shaped corpus splits within 1.25x of the mean pid size."""
    import hashlib

    import pyarrow.parquet as pq

    digests = []
    for k in range(3):
        spark.range(k + 2).rdd.count()
        stg = str(tmp_path / f"stg{k}")
        layout_stage(spark, corpus_df, stg, n_partitions=8)
        files = sorted(glob.glob(os.path.join(stg, "part-*.parquet")))
        per_pid = {}
        for f in files:
            t = pq.read_table(f, columns=["repo", "path", "commit"])
            per_pid[os.path.basename(f)[:10]] = hashlib.sha256(
                repr(t.to_pydict()).encode()).hexdigest()
        digests.append(per_pid)
        sizes = [os.path.getsize(f) for f in files]
        assert max(sizes) <= 1.25 * sum(sizes) / len(sizes), sizes
    assert len(digests[0]) == 8
    assert digests[0] == digests[1] == digests[2]


test_layout_stage_bounds_ignore_session_history_spark = on_spark_layout_path(
    test_layout_stage_bounds_ignore_session_history)


def _typed_input(out_dir):
    """Three parquet files of 500 rows in row groups of 120: a column of
    every type the in-process layout admits, range keys k (int, 30%
    null, negative values) and d (date, null where k is and more), and a
    unique id. A layout on (k, d) into 6 pids has a first bound of two
    nulls, so pid 0 is empty."""
    import datetime
    import decimal

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    n = 1500
    k_null = rng.random(n) < 0.3
    some_null = rng.random(n) < 0.1
    day = datetime.date(2020, 1, 1)
    t = pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "k": pa.array(rng.integers(-50, 50, n), pa.int32(), mask=k_null),
        "d": pa.array([day + datetime.timedelta(days=int(x))
                       for x in rng.integers(-400, 400, n)], pa.date32(),
                      mask=k_null | some_null),
        "s": pa.array([None if i % 11 == 0 else f"s{int(x):03d}"
                       for i, x in enumerate(rng.integers(0, 200, n))]),
        "bin": pa.array([bytes([int(x) % 256, int(x) // 256])
                         for x in rng.integers(0, 1 << 16, n)]),
        "flag": pa.array(rng.random(n) < 0.5, mask=some_null[::-1].copy()),
        "i8": pa.array(rng.integers(-128, 128, n), pa.int8()),
        "i16": pa.array(rng.integers(-3000, 3000, n), pa.int16()),
        "f32": pa.array(rng.standard_normal(n), pa.float32()),
        "f64": pa.array(rng.standard_normal(n), mask=some_null),
        "ts": pa.array(rng.integers(0, 1 << 50, n), pa.timestamp("us")),
        "dec": pa.array([decimal.Decimal(int(x)).scaleb(-2)
                         for x in rng.integers(-10**8, 10**8, n)],
                        pa.decimal128(10, 2)),
        "dec_wide": pa.array([decimal.Decimal(int(x)).scaleb(-4)
                              for x in rng.integers(-10**15, 10**15, n)],
                             pa.decimal128(22, 4)),
    })
    os.makedirs(out_dir)
    for i in range(3):
        pq.write_table(t.slice(500 * i, 500),
                       os.path.join(out_dir, f"part-{i}.parquet"),
                       row_group_size=120)
    return out_dir


def test_layout_stage_paths_stage_the_same(spark, corpus_dir, tmp_path,
                                           monkeypatch):
    """On the F0 corpus and on a typed table, the in-process and the
    Spark layout_stage write the same part files (equal pyarrow tables
    per part index; pid 0 of the typed table is empty, and both write
    its file), the same schema for spark.read.parquet, and
    encode_partitions gives the same manifest rows over either. A
    filtered, a projected or a hive-partitioned frame, a Z-order layout,
    a float key and an empty input take the Spark path."""
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.operators import encode

    calls = []
    real = encode._stage_in_process

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(encode, "_stage_in_process", spy)
    typed = _typed_input(str(tmp_path / "typed"))
    cases = {
        "f0": (corpus_dir, dict(n_partitions=8)),
        "typed": (typed, dict(n_partitions=6, range_keys=("k", "d"),
                              sort_keys=("s", "bin", "flag", "id"))),
    }
    limits = {"arrow": encode._ARROW_LAYOUT_BYTES, "spark": 0}
    for name, (src, kw) in cases.items():
        staged = {}
        for path, limit in limits.items():
            monkeypatch.setattr(encode, "_ARROW_LAYOUT_BYTES", limit)
            calls.clear()
            stg = str(tmp_path / f"{name}_{path}")
            layout_stage(spark, spark.read.parquet(src), stg, **kw)
            assert len(calls) == (path == "arrow"), (name, path)
            man = encode_partitions(spark, stg, stg + "_enc", run_id="same")
            staged[path] = (
                {os.path.basename(f)[:10]: pq.read_table(f)
                 for f in glob.glob(os.path.join(stg, "part-*"))},
                spark.read.parquet(stg).schema,
                sorted(tuple(r) for r in man.select(
                    "pid", "column", "codec", "bytes_out", "checksum")
                    .collect()))
        files, schema, rows = staged["arrow"]
        assert sorted(files) == sorted(staged["spark"][0]), name
        for part, table in files.items():
            assert table.equals(staged["spark"][0][part]), (name, part)
        assert schema == staged["spark"][1], name
        assert rows == staged["spark"][2], name
    # the Spark write leaves partition 0's file even when it is empty
    assert files["part-00000"].num_rows == 0 and len(files) == 6

    monkeypatch.setattr(encode, "_ARROW_LAYOUT_BYTES", 1 << 40)
    df = spark.read.parquet(typed)
    hive, empty = str(tmp_path / "hive"), str(tmp_path / "empty")
    df.write.partitionBy("flag").parquet(hive)
    df.limit(0).write.parquet(empty)
    on_spark = {
        "filtered": (df.where("k > 0"), {}),
        "projected": (df.select("k", "id", "s"), {}),
        "hive": (spark.read.parquet(hive), {}),
        "z-order": (df, dict(cluster_keys=("k", "id"))),
        "float key": (df, dict(range_keys=("f64",))),
        "empty": (spark.read.parquet(empty), {}),
    }
    for name, (frame, kw) in on_spark.items():
        calls.clear()
        layout_stage(spark, frame, str(tmp_path / "stg_spark"),
                     **{"n_partitions": 3, "range_keys": ("k",),
                        "sort_keys": ("k", "id"), **kw})
        assert calls == [], name


def test_layout_stage_read_bounds_dictionary_text(spark, tmp_path,
                                                  monkeypatch):
    """The footers estimate a dictionary-encoded text column by its pages,
    not its values: 80-byte strings of 8 distinct values estimate ~4 B a
    row and decode to 84. An input under the crossover by that estimate
    but far over it decoded is laid out by Spark: the in-process read
    gives up once it holds the crossover's bytes, having written
    nothing. With the crossover above the decoded size, the same input
    is laid out in this process, and both stage the same rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.operators import encode
    from parquet_toolkit_spark.operators.layout import (
        _footer_decoded_bytes_per_row,
        input_footers,
    )

    n = 200_000
    words = [f"{i:02d}" * 40 for i in range(8)]
    t = pa.table({
        "k": pa.array(np.arange(n)[::-1] % 977, pa.int64()),
        "s": pa.array([words[i % 8] for i in range(n)]),
    })
    src = str(tmp_path / "dict")
    os.makedirs(src)
    for i in range(4):  # pyarrow's default write dictionary-encodes `s`
        pq.write_table(t.slice(i * n // 4, n // 4),
                       os.path.join(src, f"part-{i}.parquet"))
    df = spark.read.parquet(src)
    footers = input_footers(df)
    assert "RLE_DICTIONARY" in footers[0][1].row_group(0).column(1).encodings
    estimate = _footer_decoded_bytes_per_row([md for _f, md in footers]) * n
    assert t.nbytes > 6 * estimate

    results = []
    real = encode._stage_in_process

    def spy(*args, **kwargs):
        results.append(real(*args, **kwargs))
        return results[-1]

    monkeypatch.setattr(encode, "_stage_in_process", spy)
    staged = {}
    for name, limit in (("capped", int(2 * estimate)),
                        ("in_process", 2 * t.nbytes)):
        monkeypatch.setattr(encode, "_ARROW_LAYOUT_BYTES", limit)
        stg = str(tmp_path / name)
        assert layout_stage(spark, df, stg, n_partitions=4,
                            range_keys=("k",), sort_keys=("k", "s")) == 4
        staged[name] = {os.path.basename(f)[:10]: pq.read_table(f)
                        for f in glob.glob(os.path.join(stg, "part-*"))}
    assert results == [False, True]
    assert sorted(staged["capped"]) == sorted(staged["in_process"])
    for part, table in staged["capped"].items():
        assert table.equals(staged["in_process"][part]), part
    assert sum(x.num_rows for x in staged["capped"].values()) == n


def test_encode_module_imports_no_pandas():
    """Store workers import the store writers' modules for every task,
    and no writer hands pandas frames around: a fresh interpreter that
    imports one must not load pandas (~0.4 s per worker)."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for module in ("parquet_toolkit_spark.operators.encode",
                   "parquet_toolkit_spark.streaming.incremental"):
        code = f"import sys, {module}; print('pandas' in sys.modules)"
        out = subprocess.run([sys.executable, "-c", code], cwd=root,
                             capture_output=True, text=True, check=True)
        assert out.stdout.strip() == "False", module
