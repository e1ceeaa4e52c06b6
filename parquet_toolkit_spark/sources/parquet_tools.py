"""Parquet folder tooling: listing predicates, footer metadata, schema
grouping, broken-file quarantine — the reference's file-level operators
(S2/S3, M5, F6) on driver-side footers + Spark scans.

Footer reads are metadata-only (pyarrow), never data; the per-group merge
jobs are ordinary compact() calls.
"""

from __future__ import annotations

import os
import posixpath

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from parquet_toolkit_spark.sources.fs import DriverFS, task_fs

PARQUET_SUFFIXES = (".parq", ".parquet")


def list_parquet_files(folder: str, spark: SparkSession | None = None) -> list[str]:
    """Listing predicate parity (ParquetMergerImpl.java:60-88,128-131 +
    SimpleMultithreadedParquetMerger.java:351-378): keep *.parq/*.parquet,
    drop hidden/_temporary/leftover temp files. Scheme-agnostic: routes
    through the Hadoop FileSystem when a session is up (hdfs://, s3a://)."""
    out = []
    for path, _size in DriverFS(spark).list_files(folder):
        name = posixpath.basename(path)
        if name.startswith((".", "_")):
            continue
        if "_merger_" in name or name.endswith("_saving"):
            continue
        if not name.lower().endswith(PARQUET_SUFFIXES):
            continue
        out.append(path)
    return out


def read_footers(files: list[str]) -> list[pq.FileMetaData]:
    """The footer of each file, in order, read driver-side through the
    pyarrow fs shim: metadata only, no data page, no Spark job."""
    out = []
    for f in files:
        fs, p = task_fs(f)
        out.append(pq.ParquetFile(fs.open_input_file(p)).metadata)
    return out


def footer_row_counts(files: list[str]) -> dict[str, tuple[int, int]]:
    """file -> (row_groups, rows) without reading data (ParquetFile.java:
    36-44 parity)."""
    return {f: (md.num_row_groups, md.num_rows)
            for f, md in zip(files, read_footers(files))}


def schema_groups(files: list[str]) -> tuple[dict[str, list[str]], list[str]]:
    """Group files by schema fingerprint; unreadable files are quarantined.

    Reference: merge defers foreign-schema files and recurses per group
    with a -schema-N suffix (SimpleMergeThread.java:167-176,
    SimpleMultithreadedParquetMerger.java:341-348); broken first-record
    files go to `brokenFiles` (SimpleParquetMerger.java:109-117)."""
    groups: dict[str, list[str]] = {}
    broken: list[str] = []
    for f in files:
        try:
            fs, p = task_fs(f)
            fp = str(pq.read_schema(fs.open_input_file(p)))
        except Exception:
            broken.append(f)
            continue
        groups.setdefault(fp, []).append(f)
    return groups, broken


def merge_schema_groups(spark: SparkSession, folder: str, out_dir: str,
                        target_bytes: int = 128 << 20) -> dict:
    """Compact a mixed-schema folder: one output dir per schema group
    (-schema-N suffix parity), one manifest dict back."""
    from parquet_toolkit_spark.operators.layout import compact

    files = list_parquet_files(folder)
    groups, broken = schema_groups(files)
    report: dict = {"n_groups": len(groups), "broken": broken, "outputs": []}
    # deterministic group order: by first file name
    ordered = sorted(groups.values(), key=lambda fs: fs[0])
    for i, fs in enumerate(ordered):
        suffix = "" if i == 0 else f"-schema-{i}"
        dest = os.path.join(out_dir, f"merged{suffix}")
        info = compact(spark, fs, dest, target_bytes=target_bytes)
        report["outputs"].append({"path": dest, "files_in": len(fs), **info})
    return report


def read_with_quarantine(spark: SparkSession, folder: str) -> tuple[DataFrame, list[str]]:
    """Read a folder tolerating corrupt files; returns (df, quarantined).

    Spark-native F6: ignoreCorruptFiles for the scan + footer probe for
    the quarantine list (logged to the manifest by callers)."""
    files = list_parquet_files(folder)
    groups, broken = schema_groups(files)
    good = [f for fs in groups.values() for f in fs]
    df = (
        spark.read.option("ignoreCorruptFiles", "true").parquet(*good)
        if good else spark.createDataFrame([], "x int")
    )
    return df, broken


def detect_int96_fields(files: list[str]) -> dict[str, list[str]]:
    """file -> names of INT96-physical columns, from footers only.

    Per-field parity with the reference's auto-detection, which scans the
    schema for INT96-typed union branches and flags those fields
    (SimpleMultithreadedParquetMerger.java:484-506; named per-field flags
    at :138-156). Spark's INT96 handling is session-scoped, so the
    per-field knob becomes: detect the fields, then assert/alert when a
    merge would mix INT96 and non-INT96 encodings of the same column —
    exactly the hazard the reference's flags guard."""
    out: dict[str, list[str]] = {}
    for f in files:
        fs, p = task_fs(f)
        sch = pq.ParquetFile(fs.open_input_file(p)).schema
        cols = [
            sch.column(i).name
            for i in range(len(sch.names))
            if sch.column(i).physical_type == "INT96"
        ]
        out[f] = cols
    return out


def int96_write_conf(spark: SparkSession, enable: bool = True) -> None:
    """Write timestamps as legacy INT96 (parquet.avro.writeFixedAsInt96
    parity, SimpleMultithreadedParquetMerger.java:138-156): the knob that
    keeps Impala/Hive-era consumers readable after a compact/rewrite."""
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType",
        "INT96" if enable else "TIMESTAMP_MICROS",
    )


def int96_read_conf(spark: SparkSession, mode: str = "LEGACY") -> None:
    """Legacy INT96 timestamp passthrough (F8 parity): the reference flags
    parquet.avro.readInt96AsFixed / writeFixedAsInt96 per field or
    auto-detected (SimpleMultithreadedParquetMerger.java:138-162,484-506);
    Spark's rebase configs are the engine-level equivalent."""
    for key in (
        "spark.sql.parquet.int96RebaseModeInRead",
        "spark.sql.parquet.int96RebaseModeInWrite",
        "spark.sql.parquet.datetimeRebaseModeInRead",
        "spark.sql.parquet.datetimeRebaseModeInWrite",
    ):
        spark.conf.set(key, mode)
