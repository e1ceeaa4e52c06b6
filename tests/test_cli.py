"""CLI surface (python -m parquet_toolkit_spark): every verb maps onto
the library operator and the module is deployable as the spark-submit
job the north rule requires (reference parity: the Java toolkit ships
its operations as main() harnesses, kz/hustle/test/Main.java)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from parquet_toolkit_spark.__main__ import _parse_where, _size, main


def test_size_parse():
    assert _size("128MB") == 128 << 20
    assert _size("64kb") == 64 << 10
    assert _size("1.5g") == int(1.5 * (1 << 30))
    assert _size("4096") == 4096


def test_parse_where_types():
    w = _parse_where(["id:10:20", "score:0.5:", "name:a:zz"])
    assert w == {"id": (10, 20), "score": (0.5, None), "name": ("a", "zz")}


def test_cli_compact_encode_decode_fsck(spark, tmp_path):
    # an active session exists (conftest) — the CLI must reuse it, which
    # is exactly the spark-submit path
    src = str(tmp_path / "src")
    spark.range(5000).select(
        F.col("id"), (F.col("id") % 97).alias("k"),
        F.sha1(F.col("id").cast("string")).alias("v"),
    ).repartition(24).write.parquet(src)

    merged = str(tmp_path / "merged")
    main(["compact", "--input", src, "--output", merged,
          "--target-size", "4MB"])
    got = spark.read.parquet(merged)
    assert got.count() == 5000
    assert len(got.inputFiles()) < 24

    enc = str(tmp_path / "enc")
    res = main(["encode", "--input", merged, "--output", enc,
                "--target-size", "64kb", "--range-keys", "id",
                "--sort-keys", "id", "--run-id", "t"])
    assert res["pids"] >= 1 and res["bytes_out"] < res["bytes_in"]

    out = str(tmp_path / "dec")
    res2 = main(["decode", "--store", enc, "--output", out,
                 "--columns", "id,v", "--where", "id:100:199"])
    assert res2["rows"] == 100
    dec = spark.read.parquet(out)
    assert set(dec.columns) == {"id", "v"}

    res3 = main(["fsck", "--store", enc])
    assert set(res3) == {"ok"}


def test_cli_encode_reads_footer_schema(spark, tmp_path, monkeypatch):
    """The encode verb reads its input with the footers' schema: on a
    flat parquet directory the frame it hands to encode_pipeline has the
    schema Spark infers, and building it runs no Spark job."""
    import parquet_toolkit_spark.operators.encode as encode_mod

    src = str(tmp_path / "src")
    spark.range(300).select(
        F.col("id"), (F.col("id") % 7).cast("int").alias("k"),
        F.col("id").cast("string").alias("v"),
    ).repartition(3).write.parquet(src)

    class Built(Exception):
        pass

    sc = spark.sparkContext
    seen = {}

    def capture(_spark, df, *_a, **_kw):
        seen["df"] = df
        seen["jobs"] = len(sc.statusTracker().getJobIdsForGroup("cli-encode"))
        raise Built

    monkeypatch.setattr(encode_mod, "encode_pipeline", capture)
    try:
        sc.setJobGroup("cli-encode", "cli-encode")
        with pytest.raises(Built):
            main(["encode", "--input", src, "--output",
                  str(tmp_path / "enc")])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen["jobs"] == 0
    assert seen["df"].schema == spark.read.parquet(src).schema


def test_cli_sort_split_csv(spark, tmp_path):
    src = str(tmp_path / "s")
    spark.range(2000).select(
        (2000 - F.col("id")).alias("a"), F.col("id").alias("b")
    ).repartition(4).write.parquet(src)
    dst = str(tmp_path / "sorted")
    main(["sort", "--input", src, "--output", dst, "--keys", "a"])
    rows = [r.a for r in spark.read.parquet(dst).collect()]
    # global sort: each file internally sorted and files disjoint
    import pyarrow.parquet as pq
    files = sorted(f for f in os.listdir(dst) if f.endswith(".parquet"))
    prev_max = None
    for f in files:
        vals = pq.read_table(os.path.join(dst, f)).column("a").to_pylist()
        assert vals == sorted(vals)
    assert sorted(rows) == list(range(1, 2001))

    csv = str(tmp_path / "x.csv")
    with open(csv, "w") as fh:
        fh.write("a,b\n1,x\n2,y\n")
    pdir = str(tmp_path / "csvout")
    main(["csv2parquet", "--input", csv, "--output", pdir])
    assert spark.read.parquet(pdir).count() == 2


def test_cli_append_and_binary_split(spark, tmp_path):
    src = str(tmp_path / "many")
    spark.range(3000).select(
        F.col("id"), F.sha1(F.col("id").cast("string")).alias("v")
    ).repartition(6).write.parquet(src)

    merged = str(tmp_path / "appended")
    res = main(["append", "--input", src, "--output", merged,
                "--target-size", "1GB"])
    assert res["rows"] == 3000
    got = spark.read.parquet(merged)
    assert got.count() == 3000 and got.groupBy().sum("id").first()[0] == \
        sum(range(3000))

    one = str(tmp_path / "one.parquet")
    res2 = main(["append", "--input", src, "--output", one, "--tree",
                 "--fan-in", "3"])
    assert res2["rows"] == 3000
    import pyarrow.parquet as pq
    assert pq.read_table(one).num_rows == 3000

    splits = str(tmp_path / "rg_splits")
    res3 = main(["split", "--input", one, "--output", splits,
                 "--target-size", "1", "--binary"])
    assert res3["rows"] == 3000 and res3["files_out"] >= 2
    assert spark.read.parquet(splits).count() == 3000


def test_cli_iceberg_compact_and_expire(spark, tmp_path):
    from parquet_toolkit_spark.sources import iceberg_compat as ic

    tdir = str(tmp_path / "tbl")
    for k in range(3):
        df = spark.range(k * 100, k * 100 + 100).select(
            F.col("id"), F.sha1(F.col("id").cast("string")).alias("v"))
        ic.write_table(spark, df, tdir)

    res = main(["iceberg-compact", "--table", tdir, "--binary"])
    assert res["binary"] is True and res["files"] == 1
    assert ic.read_data(spark, tdir).count() == 300

    res2 = main(["iceberg-expire", "--table", tdir, "--keep-last", "1"])
    assert res2["removed_snapshots"] == 3
    assert ic.read_data(spark, tdir).count() == 300


def test_cli_decontaminate_and_scrub(spark, tmp_path):
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "totally clean text about spark and parquet stores today"),
         (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (3, "email me at bob@example.com for details")],
        "doc_id long, text string").write.parquet(docs)
    bench = str(tmp_path / "bench")
    spark.createDataFrame(
        [("alpha beta gamma delta epsilon zeta eta theta iota",)],
        "text string").write.parquet(bench)

    out = str(tmp_path / "kept")
    res = main(["decontaminate", "--docs", docs, "--benchmark", bench,
                "--output", out])
    assert res == {"kept": 2, "dropped": 1}
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3}

    scrubbed = str(tmp_path / "scrubbed")
    res2 = main(["scrub-pii", "--input", docs, "--output", scrubbed])
    assert res2 == {"rows": 3}
    t3 = {r.doc_id: r.text for r in spark.read.parquet(scrubbed).collect()}
    assert "[email]" in t3[3] and "bob@example.com" not in t3[3]


def test_cli_iceberg_rename(spark, tmp_path):
    from parquet_toolkit_spark.sources.iceberg_compat import (
        read_data,
        write_table,
    )

    tdir = str(tmp_path / "ren")
    write_table(spark, spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, txt string"), tdir)
    res = main(["iceberg-rename", "--table", tdir,
                "--rename", "id=doc_id", "--rename", "txt=body"])
    assert res["renamed"] == {"id": "doc_id", "txt": "body"}
    got = read_data(spark, tdir)
    assert got.columns == ["doc_id", "body"]
    assert {(r.doc_id, r.body) for r in got.collect()} == {(1, "a"), (2, "b")}

    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["iceberg-rename", "--table", tdir, "--rename", "nonsense"])
