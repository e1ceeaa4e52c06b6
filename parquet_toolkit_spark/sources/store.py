"""The PTSC blob store's on-disk layout and manifest protocol.

Every store reader and writer (encode_pipeline, encode_partitions,
compact_store, incremental encode, decode, fsck, the ptsc data source)
goes through this module; no other module names a manifest directory.

Layout of a store directory::

    blobs/pid=N/part-0.arrow   one Arrow IPC file per pid: one row per
                               column (column, codec, nrows, ..., blob),
                               written by encode._write_pid only
    manifest/                  the committed manifest: parquet parts, one
                               row per (pid, column), see MANIFEST_SCHEMA
    manifest/_schema.json      {column: Spark DDL} committed with it
    manifest_new/              a manifest being staged (crash leftover)
    manifest_old/              the previous manifest during the swap
    _schema.json               compat copy of the schema map, refreshed
                               after each swap (DuckDB-side readers)
    _tmp/                      writers' temp files before the atomic
                               rename into blobs/; commit deletes it

The manifest is the source of truth: a blob directory without committed
manifest rows is an orphan that every reader, fsck_store included,
ignores (next_pid skips its number).
Every writer but encode_partitions takes fresh pids from ``next_pid``
(orphan dirs included); encode_partitions writes staged pid i to pid i,
skipping committed pids on resume and committing an empty manifest
before a re-encode. So a write never touches a committed pid's file;
the pids a commit replaces are deleted only after the swap.
``commit`` moves a store from one manifest to the next with the
reference's temp-then-rename protocol (SimpleMergeThread.java:118-122):
stage manifest_new/ (parts, then _schema.json), rename manifest/ to
manifest_old/, rename manifest_new/ to manifest/, delete manifest_old/,
refresh the root _schema.json. The crash states a reader can meet:

- manifest/ only: the normal state.
- manifest/ and a stale manifest_new/: a crash while staging. Readers
  ignore manifest_new/; the next commit deletes it.
- manifest_old/ and manifest_new/, no manifest/: a crash between the two
  renames. manifest_old/ is the last committed manifest and readers use
  it; the next commit renames it back before staging anything.
- manifest/ and manifest_old/: a crash before the cleanup. manifest/ is
  committed; the next commit deletes manifest_old/.
- a stale root _schema.json: a crash before the root refresh. Readers
  take the schema map committed beside the manifest they read and use
  the root copy only when that one is absent (stores written before
  the schema rode the swap).

Readers: every reader of committed blobs (decode_pipeline, decode_where,
the pids_matching_* lookups, the ptsc reader, compact_store, fsck_store
and encode_partitions' resume check) runs one ``read_plan``: one
manifest read gives the schema map, the admitted pids with their file
``pid_file(store, pid)`` and encoded bytes, the raw bytes (bytes_in) of
the requested columns per pid, and the filter columns' chunk stats. No
reader lists blobs/: a committed pid whose file is lost fails the read
with the file's path (so its pid) in the error, never returns fewer
rows; fsck_store reports it as missing_blob. decode_where executes its
plan on the driver when the admitted bytes_in is under its crossover
(it then reads the pid files while the call runs) and in Spark tasks
otherwise (they read the files when the action runs).
"""

from __future__ import annotations

import json
import posixpath
from typing import NamedTuple

import pyarrow as pa

MANIFEST = "manifest"
MANIFEST_NEW = "manifest_new"
MANIFEST_OLD = "manifest_old"
SCHEMA_FILE = "_schema.json"
BLOBS = "blobs"
PID_FILE = "part-0.arrow"
TMP = "_tmp"

MANIFEST_SCHEMA = pa.schema([
    ("pid", pa.int32()), ("column", pa.string()), ("codec", pa.string()),
    ("nrows", pa.int64()), ("bytes_in", pa.int64()),
    ("bytes_out", pa.int64()), ("checksum", pa.string()),
    ("stats_json", pa.string()), ("run_id", pa.string()),
    ("status", pa.string()),
])
MANIFEST_COLS = MANIFEST_SCHEMA.names
#: the rows a writer hands to commit: every manifest column but status
ROWS_SCHEMA = pa.schema([f for f in MANIFEST_SCHEMA if f.name != "status"])
_SPARK_TYPE = {pa.int32(): "INT", pa.int64(): "BIGINT", pa.string(): "STRING"}
MANIFEST_DDL = ", ".join(f"{f.name} {_SPARK_TYPE[f.type]}"
                         for f in MANIFEST_SCHEMA)


def pid_dir(store: str, pid: int) -> str:
    return posixpath.join(store, BLOBS, f"pid={pid}")


def pid_dirs(dfs, folder: str) -> dict[int, str]:
    """pid -> path of every ``pid=N`` subdirectory of `folder`, in
    listing order; {} when `folder` does not exist."""
    out = {}
    if not dfs.exists(folder):
        return out
    for d in dfs.list_dirs(folder):
        base = posixpath.basename(d.rstrip("/"))
        if base.startswith("pid=") and base[4:].isdigit():
            out[int(base[4:])] = d
    return out


def pid_file(store: str, pid: int) -> str:
    """The one name of a pid's blob file: blobs/pid=N/part-0.arrow."""
    return posixpath.join(pid_dir(store, pid), PID_FILE)


def _committed_parts(dfs, store: str) -> tuple[str, list[str]] | None:
    """(directory, parquet parts) of the committed manifest: manifest/,
    else manifest_old/ inside the swap window; None for neither."""
    for name in (MANIFEST, MANIFEST_OLD):
        d = posixpath.join(store, name)
        if dfs.exists(d):
            parts = [f for f, _sz in dfs.list_files(d)
                     if f.endswith(".parquet")]
            if parts:
                return d, parts
    return None


def manifest_table(dfs, store: str,
                   columns: list[str] | None = None) -> pa.Table | None:
    """Committed manifest rows as a pyarrow Table, read driver-side
    through the pyarrow fs shim (no Spark job); None when the store has
    no manifest. `columns` prunes the read."""
    found = _committed_parts(dfs, store)
    return None if found is None else _read_parts(found[1], columns)


def _read_parts(parts: list[str],
                columns: list[str] | None) -> pa.Table:
    """The committed rows of the manifest parts `parts`."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.sources.fs import task_fs

    fs, _ = task_fs(parts[0])
    read = None if columns is None else list(dict.fromkeys(
        [*columns, "status"]))
    t = pq.read_table([task_fs(f)[1] for f in parts], filesystem=fs,
                      columns=read)
    t = t.filter(pc.equal(t.column("status"), "committed"))
    if columns is not None and "status" not in columns:
        t = t.drop_columns(["status"])
    return t


def read_manifest(spark, store: str):
    """Committed manifest rows as a Spark DataFrame (None when the store
    has none): the same parts manifest_table reads. The explicit schema
    skips Spark's footer-inference job."""
    from pyspark.sql import functions as F

    from parquet_toolkit_spark.sources.fs import DriverFS

    found = _committed_parts(DriverFS(spark), store)
    if found is None:
        return None
    return (spark.read.schema(MANIFEST_DDL).parquet(found[0])
            .where(F.col("status") == "committed"))


def committed_pids(dfs, store: str) -> set[int] | None:
    """Committed pid set; None when the store has no manifest."""
    t = manifest_table(dfs, store, ["pid"])
    return None if t is None else set(t.column("pid").to_pylist())


def next_pid(dfs, store: str) -> int:
    """The one pid allocator: 1 + the largest committed pid or ``pid=N``
    directory, 0 when there are neither. Orphan directories count, so a
    fresh pid never lands in a crashed run's leftovers."""
    used = (committed_pids(dfs, store) or set()) | set(
        pid_dirs(dfs, posixpath.join(store, BLOBS)))
    return max(used) + 1 if used else 0


def read_schema_map(dfs, store: str) -> dict[str, str]:
    """{column: Spark DDL} of the store: the copy committed beside the
    manifest, else the root copy."""
    return _schema_of(dfs, store, _committed_parts(dfs, store))


def _schema_of(dfs, store: str, found) -> dict[str, str]:
    paths = [posixpath.join(found[0], SCHEMA_FILE)] if found else []
    paths.append(posixpath.join(store, SCHEMA_FILE))
    for p in paths:
        if dfs.exists(p):
            return json.loads(dfs.read_text(p))
    raise FileNotFoundError(paths[-1])


def commit(dfs, store: str, rows: pa.Table, replaced,
           schema_map: dict[str, str]) -> None:
    """Swap-commit a new manifest: `rows` (ROWS_SCHEMA columns, as the
    writer's job returned them) plus the committed rows of every pid not
    in `replaced` (None: carry nothing over; []: carry every row). The
    carried-over rows are read after an interrupted swap is rolled
    forward, so they are the committed ones. The staged manifest is one
    parquet part written with pyarrow through the fs shim: no Spark job.
    Never deletes the only committed copy (code-review r3). The writers'
    temp dir goes last: every blob it staged has been renamed away."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.sources.fs import task_fs

    man = posixpath.join(store, MANIFEST)
    new = posixpath.join(store, MANIFEST_NEW)
    old = posixpath.join(store, MANIFEST_OLD)
    if dfs.exists(old):
        if dfs.exists(man):
            dfs.delete(old, recursive=True)  # crash before the cleanup
        else:
            dfs.rename(old, man)  # crash between the two renames
    dfs.delete(new, recursive=True)  # crash while staging
    dfs.mkdirs(new)
    table = rows.select(ROWS_SCHEMA.names).append_column(
        "status", pa.array(["committed"] * rows.num_rows, pa.string())
    ).cast(MANIFEST_SCHEMA)
    kept = manifest_table(dfs, store) if replaced is not None else None
    if kept is not None:
        drop = pc.is_in(kept.column("pid"),
                        value_set=pa.array(list(replaced), pa.int32()))
        kept = kept.filter(pc.invert(drop)).select(MANIFEST_COLS)
        table = pa.concat_tables([kept.cast(MANIFEST_SCHEMA), table])
    fs, part = task_fs(posixpath.join(new, "part-00000.parquet"))
    pq.write_table(table, part, filesystem=fs)
    # the schema rides INSIDE the swap (ADVICE r6): a root _schema.json
    # written before the swap paired a new schema with the old manifest
    # across a crash window. Manifest readers skip underscore files.
    text = json.dumps(schema_map)
    dfs.write_text(posixpath.join(new, SCHEMA_FILE), text)
    if dfs.exists(man):
        dfs.rename(man, old)
    dfs.rename(new, man)
    dfs.delete(old, recursive=True)
    root = posixpath.join(store, SCHEMA_FILE)
    dfs.write_text(root + ".tmp", text)
    if not dfs.rename(root + ".tmp", root):
        # Hadoop rename refuses an existing target
        dfs.delete(root, recursive=False)
        dfs.rename(root + ".tmp", root)
    dfs.delete(posixpath.join(store, TMP), recursive=True)


class ReadPlan(NamedTuple):
    """{column: Spark DDL}; the admitted (pid, pid_file, summed
    bytes_out) in pid order; {(pid, column): stats} of filter columns;
    {pid: summed bytes_in of the schema map's columns}."""
    schema_map: dict[str, str]
    files: list[tuple[int, str, int]]
    stats: dict[tuple[int, str], dict]
    bytes_in: dict[int, int]


def read_plan(dfs, store: str, columns: list[str] | None = None,
              filters=()) -> ReadPlan | None:
    """The one plan of every store reader (None: no manifest), from one
    manifest read and no listing of blobs/. `columns` prunes the schema
    map (KeyError on an unknown one). `filters` (single-column
    pyspark.sql.datasource filters) admit the pids whose chunks could
    hold a match; a pid without stats for the column is kept (sound)."""
    from parquet_toolkit_spark.sources.ptsc_datasource import _chunk_admits

    found = _committed_parts(dfs, store)
    if found is None:
        return None
    schema_map = _schema_of(dfs, store, found)
    if columns is not None:
        unknown = set(columns) - set(schema_map)
        if unknown:
            raise KeyError(f"unknown columns {sorted(unknown)}")
        schema_map = {c: t for c, t in schema_map.items() if c in columns}
    keys = {f.attribute[0] for f in filters}
    read = (["pid", "column", "bytes_in", "bytes_out"]
            + (["stats_json"] if keys else []))
    t = _read_parts(found[1], read)
    sizes: dict[int, int] = {}
    raw: dict[int, int] = {}
    stats: dict[tuple[int, str], dict] = {}
    for p, c, bi, bo, *sj in zip(*(t.column(n).to_pylist() for n in read)):
        sizes[p] = sizes.get(p, 0) + (bo or 0)
        if c in schema_map:
            raw[p] = raw.get(p, 0) + (bi or 0)
        if c in keys:
            stats[(p, c)] = json.loads(sj[0])
    pids = set(sizes)
    for f in filters:
        col = f.attribute[0]
        pids = {p for p in pids if (p, col) not in stats
                or _chunk_admits(stats[(p, col)], f)}
    return ReadPlan(schema_map,
                    [(p, pid_file(store, p), sizes[p]) for p in sorted(pids)],
                    stats, {p: raw.get(p, 0) for p in pids})
