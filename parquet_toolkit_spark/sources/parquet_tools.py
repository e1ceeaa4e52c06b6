"""Parquet folder tooling: listing predicates, footer metadata, schema
grouping, broken-file quarantine — the reference's file-level operators
(S2/S3, M5, F6) on driver-side footers + Spark scans.

Footer reads are metadata-only (pyarrow), never data.
"""

from __future__ import annotations

import posixpath

import pyarrow.parquet as pq

from pyspark.sql import SparkSession

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
