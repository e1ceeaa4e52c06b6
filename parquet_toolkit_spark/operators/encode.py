"""Columnar encode/decode pipeline with manifest + checkpoint-resume.

The north-rule core: layout (a range shuffle on driver-picked bounds +
sortWithinPartitions, reproducing the toolkit's merge/sort/split; see
plan_layout) → per-partition, per-column
codec-encoded blobs via Arrow-vectorized UDFs (never per-row Python; the
store jobs run one Python stage per task over a spark.range frame, see
_striped_tasks) → per-partition lineage/metrics manifest → resumable
re-runs that skip committed partitions (Spark-native analogue of the
reference's `alreadyMerged`/`brokenFiles` bookkeeping, merge/
ParquetMergerImpl.java:28-30, and its temp-suffix atomic commit,
SimpleMergeThread.java:118-122).

One pid-file protocol serves every store writer (encode_pipeline,
encode_partitions, compact_store, the incremental encoders and the ptsc
data source): a task hands its pid's columns to _write_pid, which
encodes them, writes blobs/pid=N/part-0.arrow to a temp name under the
store's _tmp/ and renames it into place, and returns the pid's manifest
rows. The job's rows come back to the driver, and the manifest swap in
sources/store.commit makes the run visible. One reader, _read_pid, turns
a pid file back into the Spark-typed Arrow table.

Two ways to fill a store:
  encode_pipeline()     layout+encode fused in one shuffle (bench path)
  layout_stage() + encode_partitions()   two phases through a staging dir
                        (checkpoint-resume path; staging doubles as the
                        toolkit-parity compacted+sorted table). A plain
                        range layout of a bare parquet scan under a
                        measured size is staged on the driver with
                        pyarrow and no Spark job; every other layout is
                        a Spark shuffle and write. Both write the same
                        files (see layout_stage).
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
import operator
import os
from collections.abc import Callable, Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_toolkit_spark.operators.layout import sampled_width_and_rows
from parquet_toolkit_spark.sources import store
from parquet_toolkit_spark.sources.store import MANIFEST_DDL, read_manifest

# one row per (pid, column) a store writer's job returns: the manifest
# row less its status
_ROWS_DDL = MANIFEST_DDL.replace(", status STRING", "")

# driver-process memo: staging dir -> column codec hints (plan_hints)
_HINTS_MEMO: dict[tuple, dict] = {}

DEFAULT_SORT_KEYS = ("repo", "path", "commit")
DEFAULT_RANGE_KEYS = ("repo", "path")


def _encode_columns(cols: dict[str, pa.Array], pid: int,
                    run_id: str,
                    hints: dict[str, list[str]] | None = None,
                    exclude_codecs: frozenset[str] = frozenset(),
                    bloom_columns: tuple[str, ...] = ()
                    ) -> list[dict]:
    """Arrow columns of one partition -> one encoded row dict per column.

    `hints` (from selector.plan_hints) pins each column's candidate list,
    skipping per-chunk gating/trials on the hot path. `exclude_codecs`
    is the encode-latency dial (see select_codec). `bloom_columns` get a
    4KB per-chunk bloom in stats_json for pids_matching_value point
    lookups (codecs/bloom.py) — opt-in: it grows each manifest row by
    ~5.5KB, which a 10^6-pid store only wants on its needle-query keys."""
    from parquet_toolkit_spark.codecs.bloom import build_bloom
    from parquet_toolkit_spark.codecs.chunk import from_arrow
    from parquet_toolkit_spark.codecs.selector import select_codec
    from parquet_toolkit_spark.runtime import tune_malloc

    tune_malloc()
    rows = []
    for col, arr in cols.items():
        chunk = from_arrow(arr)
        codec, blob, stats = select_codec(
            chunk, candidates=(hints or {}).get(col),
            exclude=exclude_codecs
        )
        if col in bloom_columns:
            b = build_bloom(chunk)
            if b is not None:
                stats["bloom"] = b
                stats["bloom_kind"] = chunk.kind
        rows.append({
            "pid": pid,
            "column": col,
            "codec": codec,
            "nrows": len(arr),
            "bytes_in": chunk.total_bytes(),
            "bytes_out": len(blob),
            "checksum": hashlib.sha256(blob).hexdigest(),
            "stats_json": json.dumps(stats),
            "run_id": run_id,
            "blob": blob,
        })
    return rows


_ENC_ARROW_SCHEMA = pa.schema(
    list(store.ROWS_SCHEMA) + [("blob", pa.large_binary())])


def _rows_to_batch(rows: list[dict]) -> pa.RecordBatch:
    cols = {name: [r[name] for r in rows] for name in _ENC_ARROW_SCHEMA.names}
    return pa.RecordBatch.from_pydict(cols, schema=_ENC_ARROW_SCHEMA)


def _write_pid(out_dir: str, pid: int, table: pa.Table, run_id: str,
               hints: dict[str, list[str]] | None = None,
               exclude_codecs: frozenset[str] = frozenset(),
               bloom_columns: tuple[str, ...] = ()) -> pa.RecordBatch:
    """Task side of every store writer: encode the columns of one pid's
    rows, write them as blobs/pid=N/part-0.arrow with the reference's
    write-temp-then-rename protocol (SimpleMergeThread.java:118-122,
    180-191; the temp file sits under the store's _tmp/) and return the
    pid's manifest rows, blob dropped, for the driver's store.commit.

    Arrow IPC, not parquet: blob sections are already compressed, so the
    store wants a raw-memcpy format — IPC writes ~4x faster here and
    memory-maps on decode."""
    from parquet_toolkit_spark.sources.fs import task_fs, task_write_ipc_atomic

    cols = {name: (col.chunk(0) if col.num_chunks == 1
                   else col.combine_chunks())
            for name, col in zip(table.column_names, table.columns)}
    batch = _rows_to_batch(_encode_columns(
        cols, pid, run_id, hints=hints, exclude_codecs=exclude_codecs,
        bloom_columns=bloom_columns))
    dest_dir = store.pid_dir(out_dir, pid)
    tmp_dir = os.path.join(out_dir, store.TMP)
    for d in (dest_dir, tmp_dir):
        fs, plain = task_fs(d)
        fs.create_dir(plain, recursive=True)
    task_write_ipc_atomic(
        pa.Table.from_batches([batch.drop_columns(["pid"])]),
        os.path.join(tmp_dir, f"pid-{pid}-{run_id}.arrow"),
        store.pid_file(out_dir, pid),
    )
    return batch.drop_columns(["blob"])


_ARROW_DDL = {
    pa.int64(): "bigint", pa.int32(): "int", pa.int16(): "smallint",
    pa.int8(): "tinyint", pa.float64(): "double", pa.float32(): "float",
    pa.bool_(): "boolean", pa.date32(): "date",
    pa.string(): "string", pa.large_string(): "string",
    pa.binary(): "binary", pa.large_binary(): "binary",
}


def _ddl_of_arrow(t: pa.DataType) -> str | None:
    """Arrow type -> the Spark simpleString DDL _schema_map would give.
    None for types the codec layer doesn't carry (caller falls back to a
    Spark schema read)."""
    if t in _ARROW_DDL:
        return _ARROW_DDL[t]
    if pa.types.is_timestamp(t):
        return "timestamp" if t.tz else "timestamp_ntz"
    if pa.types.is_decimal128(t):
        return f"decimal({t.precision},{t.scale})"
    if (pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t)):
        inner = _ddl_of_arrow(t.value_type)
        return f"array<{inner}>" if inner is not None else None
    if pa.types.is_struct(t):
        parts = []
        for i in range(t.num_fields):
            f = t.field(i)
            inner = _ddl_of_arrow(f.type)
            if inner is None:
                return None
            parts.append(f"{f.name}:{inner}")
        return f"struct<{','.join(parts)}>"
    if pa.types.is_map(t):
        k = _ddl_of_arrow(t.key_type)
        v = _ddl_of_arrow(t.item_type)
        return f"map<{k},{v}>" if k is not None and v is not None else None
    return None


def _schema_map_from_footer(path: str,
                            exclude: tuple[str, ...] = ("pid",)
                            ) -> dict[str, str] | None:
    """schema_map from one parquet footer via the pyarrow fs shim —
    no Spark job. None when any column type has no exact DDL mapping."""
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.sources.fs import task_fs

    fs, rel = task_fs(path)
    schema = pq.read_schema(rel, filesystem=fs)
    out: dict[str, str] = {}
    for f in schema:
        if f.name in exclude:
            continue
        ddl = _ddl_of_arrow(f.type)
        if ddl is None:
            return None
        out[f.name] = ddl
    return out


def _schema_map(df: DataFrame, exclude: tuple[str, ...] = ("pid",)) -> dict[str, str]:
    # simpleString keeps element types ("array<float>") and is valid DDL
    return {
        f.name: f.dataType.simpleString()
        for f in df.schema.fields
        if f.name not in exclude
    }


def plan_layout(df: DataFrame, target_bytes: int,
                range_keys: tuple[str, ...] = DEFAULT_RANGE_KEYS,
                sort_keys: tuple[str, ...] = DEFAULT_SORT_KEYS,
                n_partitions: int | None = None,
                cluster_keys: tuple[str, ...] | None = None,
                cluster_bits: int = 8,
                footers: list[tuple[str, object]] | None = None
                ) -> tuple[DataFrame, int]:
    """Range-partition + sort the table into ~target_bytes partitions.

    Range partitioning on (repo, path) splits a skewed mega-repo across
    partitions by path ranges (layout.range_split picks the bounds on the
    driver from a deterministic sample of the key columns), so layout
    skew is handled without salting; salting is for hash-based groupBy
    aggregations (see operators/skew.py). One input always gives the same
    bounds. Partition i is pid i when the pids start at 0: always for
    layout_stage, and for encode_pipeline on a fresh store.

    cluster_keys switches the layout to Z-order clustering (operators/
    zorder.py): partitions range over a Morton key interleaving the
    quantile ranks of every cluster column, so the per-pid zone maps
    prune on EACH of them — a single-key sort prunes on its leading key
    only. range_keys is ignored in this mode; rows sort within each
    partition by the cluster columns themselves (compression locality),
    or by sort_keys when the caller overrides the default.

    footers: the frame's (file, footer) list when the caller has read it
    (read_parquet_footed gives it); None reads it here (input_footers).
    """
    from parquet_toolkit_spark.operators.layout import input_footers

    # one driver-side footer pass (no job): the exact row count of a
    # frame that scans parquet, its width, and the row groups the range
    # bounds are sampled from
    if footers is None:
        footers = input_footers(df)
    n_rows, _bpr, n_parts = _layout_size(df, footers, target_bytes,
                                         n_partitions)
    return (_layout_frame(df, footers, n_rows, n_parts, range_keys,
                          sort_keys, cluster_keys, cluster_bits), n_parts)


def _layout_size(df: DataFrame, footers: list, target_bytes: int,
                 n_partitions: int | None
                 ) -> tuple[int | None, float | None, int]:
    """(rows, decoded bytes/row, partitions) of a layout of `df`: rows
    and bytes/row from its footers (None when they hold none), and
    n_partitions, or else enough ~target_bytes partitions for them."""
    from parquet_toolkit_spark.operators.layout import (
        _footer_decoded_bytes_per_row,
    )

    n_rows = sum(md.num_rows for _f, md in footers) if footers else None
    bpr = (_footer_decoded_bytes_per_row([md for _f, md in footers])
           if footers else None)
    if n_partitions is None:
        # DECODED bytes/row from the footers: a layout partition here is
        # an encode scope whose working set is decoded Arrow columns — the
        # serialized (dictionary-encoded) width under-sizes scopes 4-5x on
        # numeric tables, leaving the encode stage with too few tasks
        # (measured: lineitem@4MB target 4 scopes/1.8s vs 13 scopes/1.55s,
        # and the 4-scope first run pays a 2x straggler). A filtered or
        # derived frame only shifts this sizing heuristic, never results.
        # Fallback: one fused job for small tables (sampled width + exact
        # count), two only past the sample size — see
        # sampled_width_and_rows.
        if bpr is None:
            bpr, n_rows = sampled_width_and_rows(df)
        n_partitions = max(1, math.ceil(bpr * n_rows / target_bytes))
    return n_rows, bpr, n_partitions


def _layout_frame(df: DataFrame, footers: list, n_rows: int | None,
                  n_parts: int, range_keys: tuple[str, ...],
                  sort_keys: tuple[str, ...],
                  cluster_keys: tuple[str, ...] | None,
                  cluster_bits: int) -> DataFrame:
    """plan_layout's frame: `df` in n_parts range (or Z-order) partitions,
    each sorted."""
    from parquet_toolkit_spark.operators.layout import range_split

    if cluster_keys:
        from parquet_toolkit_spark.operators.zorder import (
            ZCLUSTER_COL,
            zorder_split,
        )

        eff_sort = (tuple(cluster_keys) if sort_keys is DEFAULT_SORT_KEYS
                    else tuple(sort_keys))
        return (
            zorder_split(df, tuple(cluster_keys), cluster_bits,
                         n_parts, footers, n_rows)
            .sortWithinPartitions(*[F.col(k) for k in eff_sort])
            .drop(ZCLUSTER_COL)
        )
    return (
        range_split(df, range_keys, n_parts, footers, n_rows)
        .sortWithinPartitions(*[F.col(k) for k in sort_keys])
    )


def encode_pipeline(spark: SparkSession, df: DataFrame, out_dir: str,
                    target_bytes: int = 64 << 20,
                    range_keys: tuple[str, ...] = DEFAULT_RANGE_KEYS,
                    sort_keys: tuple[str, ...] = DEFAULT_SORT_KEYS,
                    run_id: str = "r0",
                    n_partitions: int | None = None,
                    bloom_columns: tuple[str, ...] = (),
                    cluster_keys: tuple[str, ...] | None = None,
                    cluster_bits: int = 8,
                    footers: list[tuple[str, object]] | None = None
                    ) -> DataFrame:
    """Fused layout+encode: the range shuffle, then one task per range
    partition writes its pid file. Returns the manifest DataFrame.

    mapInArrow accumulates the partition's Arrow batches (one partition ==
    one codec scope, per the north rule's per-partition symbol tables).
    Pids start at store.next_pid, so on a fresh store pid i is range
    partition i; re-encoding into an existing store writes fresh pids,
    the old view stays readable until the manifest swap, and the pid dirs
    that existed before the call are deleted after it.
    bloom_columns: per-chunk blooms for pids_matching_value point lookups.
    cluster_keys: Z-order the layout over these columns instead of
    range_keys (see plan_layout) — zone maps then prune on every one.
    footers: the frame's footers when the caller has read them (see
    plan_layout), so no footer is read twice.
    """
    from parquet_toolkit_spark.sources.fs import DriverFS

    dfs = DriverFS(spark)
    laid, _ = plan_layout(df, target_bytes, range_keys, sort_keys,
                          n_partitions, cluster_keys=cluster_keys,
                          cluster_bits=cluster_bits, footers=footers)
    schema_map = _schema_map(laid)
    base_pid = store.next_pid(dfs, out_dir)
    old_dirs = store.pid_dirs(dfs, os.path.join(out_dir, store.BLOBS))

    def encode_iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        parts = list(batches)
        if not parts:
            return
        pid = base_pid + TaskContext.get().partitionId()
        yield _write_pid(out_dir, pid, pa.Table.from_batches(parts), run_id,
                         bloom_columns=bloom_columns)

    rows = laid.mapInArrow(encode_iter, _ROWS_DDL).toArrow()
    store.commit(dfs, out_dir, rows, None, schema_map)
    for d in old_dirs.values():  # delete-inputs, post-commit
        dfs.delete(d, recursive=True)
    return read_manifest(spark, out_dir)


# layout_stage's crossover: a plain range layout of a bare parquet scan
# whose footers estimate under this many decoded bytes is laid out in
# this process with pyarrow, larger ones in Spark. The estimate counts a
# dictionary-encoded text column's pages, not its decoded values, so it
# can be far under them: the in-process read also stops, and the layout
# goes to Spark, once the Arrow bytes it holds reach this many (on the
# F0 corpus the two agree: 466 MB read at 240k rows). Set just above the
# largest measured size where the in-process path was faster and the
# driver's RSS grew by at most 4x the decoded input; it was faster at
# every size measured, so the true crossover lies higher, unmeasured.
# bench/layout_crossover.py: F0 corpus (seed 1) in 64 files, rows/3750
# pids, local[4] on a 4-core VM, one process per size, medians of 5
# interleaved calls after a warm one; RSS growth is the driver's peak
# during a call over its RSS before it, largest over the 6 calls:
#   rows   decoded MB   Spark ms   in-process ms   RSS growth MB (x)
#    30k       58.2       1243          436          221 (3.80)
#    60k      116.8       1647          676          381 (3.26)
#    90k      177.2       2319          947          495 (2.80)
#   120k      238.5       2900         1157          615 (2.58)
#   180k      350.8       3736         1637          849 (2.42)
#   240k      474.1       4651         2132         1080 (2.28)
_ARROW_LAYOUT_BYTES = 475_000_000

# column types a pyarrow write stages as Spark's parquet writer does
# (pyarrow reads back equal tables, Spark infers the same schema, so the
# store encodes the same bytes), and the key types among them whose
# Arrow order is Catalyst's. Spark writes timestamp as INT96 and nested
# types in its own list layout, so those take the Spark path.
_ARROW_KEY_TYPES = frozenset(
    ("tinyint", "smallint", "int", "bigint", "string", "binary", "date",
     "boolean"))
_ARROW_COLUMN_TYPES = _ARROW_KEY_TYPES | {"float", "double", "timestamp_ntz"}


def _is_bare_parquet_scan(df: DataFrame) -> bool:
    """Whether `df`'s analyzed plan is one parquet LogicalRelation (no
    filter, projection or other operator over the file scan). Read over
    the JVM gateway; a frame with no JVM plan (Spark Connect) or a call
    the JVM refuses reads as False."""
    from py4j.protocol import Py4JError

    try:
        plan = df._jdf.queryExecution().analyzed()
        return (plan.getClass().getSimpleName() == "LogicalRelation"
                and plan.relation().fileFormat().getClass().getSimpleName()
                == "ParquetFileFormat")
    except (AttributeError, Py4JError):
        return False


def _arrow_layout_admits(df: DataFrame, footers: list,
                         keys: tuple[str, ...], staging_dir: str) -> bool:
    """Whether pyarrow can stage `df` exactly as the Spark write would:
    a bare parquet scan of exactly the files `footers` names, none of
    them under staging_dir, whose footers give the frame's own schema
    (so no partition column, user schema or INT96 column), every column
    of a _ARROW_COLUMN_TYPES type or a decimal, and every key of a
    _ARROW_KEY_TYPES type; and the session's master is local, so the
    driver is a process on this machine, not one held to a cluster
    container's memory overhead."""
    from parquet_toolkit_spark.operators.layout import _footer_ddl, ddl_text
    from parquet_toolkit_spark.sources.fs import strip_local_scheme

    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    files = {strip_local_scheme(f) for f, _md in footers}
    under = strip_local_scheme(staging_dir).rstrip("/") + "/"
    if (not footers or any(f.startswith(under) for f in files)
            or not df.sparkSession.conf.get("spark.master", "")
            .startswith("local")
            or not _is_bare_parquet_scan(df)
            or any(types.get(k) not in _ARROW_KEY_TYPES for k in keys)
            or any(t not in _ARROW_COLUMN_TYPES
                   and not t.startswith("decimal(") for t in types.values())
            or _footer_ddl([md for _f, md in footers])
            != ddl_text(list(types.items()))):
        return False
    return files == {strip_local_scheme(f) for f in df.inputFiles()}


def _stage_in_process(spark: SparkSession, df: DataFrame, staging_dir: str,
                      footers: list, n_rows: int, n_parts: int,
                      range_keys: tuple[str, ...],
                      sort_keys: tuple[str, ...]) -> bool:
    """layout_stage's in-process path: pyarrow reads the frame's columns
    from its files batch by batch, and gives up with nothing written
    (False) once the batches it holds reach _ARROW_LAYOUT_BYTES. Else
    (True) it takes range_split's bounds (split_bounds), ranks each row
    (range_pid_arrow), sorts by (pid, sort_keys) with nulls first, and
    writes the rows of each non-empty pid, and pid 0's file even when
    empty, as the Spark write names and encodes them:
    part-NNNNN-<job uuid>-c000.zstd.parquet with NNNNN the pid, zstd-1,
    no dictionary, Spark's row metadata and version in the footer, then
    _SUCCESS. The files go under _temporary/
    and are renamed into place; an existing staging_dir is replaced, as
    mode("overwrite") does."""
    import uuid
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.operators.layout import (
        range_pid_arrow,
        split_bounds,
    )
    from parquet_toolkit_spark.sources.fs import DriverFS, task_fs

    fs, _ = task_fs(footers[0][0])
    scan = ds.dataset([task_fs(f)[1] for f, _md in footers],
                      format="parquet", filesystem=fs
                      ).scanner(columns=df.columns)
    batches, held = [], 0
    for b in scan.to_batches():
        held += b.nbytes
        if held >= _ARROW_LAYOUT_BYTES:
            return False
        batches.append(b)
    table = pa.Table.from_batches(batches, scan.projected_schema)
    # one chunk per column, so each pid's take copies only its rows; a
    # column's chunks are freed as soon as it is combined
    names, cols = table.column_names, table.columns
    del batches, table
    for i in range(len(cols)):
        cols[i] = cols[i].combine_chunks()
    # the Arrow types pyarrow reads back from the Spark write's files,
    # and the footer keys that write leaves
    table = pa.Table.from_arrays(cols, names=names).cast(
        _spark_schema(_schema_map(df, exclude=())).with_metadata({
            "org.apache.spark.sql.parquet.row.metadata":
                df._jdf.schema().json(),
            "org.apache.spark.version": spark.version}))
    del cols
    bounds = split_bounds(df, list(range_keys), n_parts, footers, n_rows)
    pid = range_pid_arrow(table.select(list(range_keys)), bounds)
    by = [str(i) for i in range(len(sort_keys) + 1)]  # pid, then sort_keys
    order = pc.sort_indices(
        pa.Table.from_arrays(
            [pa.array(pid), *(table.column(k) for k in sort_keys)], by),
        sort_keys=[(k, "ascending") for k in by], null_placement="at_start")
    counts = np.bincount(pid, minlength=n_parts)
    offsets = np.cumsum(counts) - counts
    del pid

    DriverFS(spark).delete(staging_dir, recursive=True)
    fs, root = task_fs(staging_dir)
    tmp = f"{root}/_temporary"
    fs.create_dir(tmp, recursive=True)
    job = uuid.uuid4()

    def write(p: int) -> str:
        name = f"part-{p:05d}-{job}-c000.zstd.parquet"
        rows = table.take(order.slice(int(offsets[p]), int(counts[p])))
        pq.write_table(rows, f"{tmp}/{name}", filesystem=fs,
                       compression="zstd", compression_level=1,
                       use_dictionary=False)
        return name

    # Spark's writer leaves a file for partition 0 even when it is empty
    parts = sorted({0, *np.flatnonzero(counts).tolist()})
    with ThreadPoolExecutor(min(pa.cpu_count(), len(parts))) as pool:
        for name in pool.map(write, parts):
            fs.move(f"{tmp}/{name}", f"{root}/{name}")
    fs.delete_dir(tmp)
    with fs.open_output_stream(f"{root}/_SUCCESS"):
        pass
    return True


def layout_stage(spark: SparkSession, df: DataFrame, staging_dir: str,
                 target_bytes: int = 64 << 20,
                 range_keys: tuple[str, ...] = DEFAULT_RANGE_KEYS,
                 sort_keys: tuple[str, ...] = DEFAULT_SORT_KEYS,
                 n_partitions: int | None = None,
                 cluster_keys: tuple[str, ...] | None = None,
                 cluster_bits: int = 8) -> int:
    """Phase A: write the laid-out table, one file per deterministic pid.

    The staged table IS the toolkit-parity output (merged + sorted +
    size-targeted); staged files give the resume unit. The write is a
    PLAIN parquet write — each range partition lands in exactly one
    part-NNNNN file whose index IS the pid, so the dynamic-partitionBy
    machinery (a per-task sort by the partition column + committer
    fan-out, ~1s of the r2 layout wall) is skipped entirely. Staging is
    a transient spool the encode phase re-reads once: parquet dictionary
    encoding is wasted work on it (the codec engine re-derives its own
    dictionaries), and zstd-1 halves the spooled bytes vs snappy at equal
    measured write speed on the F0 corpus (VERDICT r2 #1).

    Two paths write the same files (row for row, with the schema
    spark.read.parquet infers), from the same footers, read once:
      in this process   pyarrow reads, ranks, sorts and writes the rows
                        on the driver (_stage_in_process), with no Spark
                        job. Taken only when every one of these holds:
                        the frame is a bare parquet scan whose footers
                        give its schema (no filter, projection, partition
                        column, user schema or INT96 column); the layout
                        is a plain range layout (no cluster_keys); every
                        range and sort key is an integer, string, binary,
                        date or boolean column, and every column stages
                        alike through pyarrow (_ARROW_COLUMN_TYPES or a
                        decimal); the input has a row; the footers
                        estimate under _ARROW_LAYOUT_BYTES of decoded
                        rows, the measured crossover; and the session's
                        master is local. The read then gives up, and the
                        layout goes to Spark, once the rows it holds
                        reach that many bytes, so the driver never holds
                        more whatever the footers under-count. On a
                        cluster (YARN, Kubernetes) this path is never
                        taken: a driver there may be held to its
                        container's memory overhead.
      in Spark          every other frame: plan_layout's range shuffle,
                        sortWithinPartitions and the parquet write."""
    from parquet_toolkit_spark.operators.layout import input_footers

    footers = input_footers(df)
    n_rows, bpr, n_parts = _layout_size(df, footers, target_bytes,
                                        n_partitions)
    if (not cluster_keys and n_rows and bpr is not None
            and bpr * n_rows < _ARROW_LAYOUT_BYTES
            and _arrow_layout_admits(df, footers,
                                     tuple(range_keys) + tuple(sort_keys),
                                     staging_dir)
            and _stage_in_process(spark, df, staging_dir, footers, n_rows,
                                  n_parts, tuple(range_keys),
                                  tuple(sort_keys))):
        return n_parts
    (
        _layout_frame(df, footers, n_rows, n_parts, range_keys, sort_keys,
                      cluster_keys, cluster_bits).write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", "1")
        .option("parquet.enable.dictionary", "false")
        .parquet(staging_dir)
    )
    return n_parts


def _staged_pid_of(filename: str) -> int | None:
    """part-NNNNN-... -> NNNNN (the writing task's partition id)."""
    if not filename.startswith("part-"):
        return None
    digits = filename[5:].split("-", 1)[0]
    return int(digits) if digits.isdigit() else None


def _striped_tasks(spark: SparkSession, rows: pa.Table, width: int | None,
                   run: Callable[[pa.Table], Iterator[pa.RecordBatch]],
                   schema: str) -> DataFrame:
    """Run `run(stripe)` in exactly `width` tasks (capped at the row
    count; None: one task per row), where stripe i holds rows i,
    i+width, ... of `rows`.

    Callers sort `rows` cost-DESC, so round-robin striping balances total
    cost per task. This is the engine's spark.task.cpus analogue:
    memory-bandwidth-bound stages are sized by concurrent tasks, not
    available cores — on a real cluster set executor cores/task.cpus.

    The frame is spark.range(0, width, 1, width), whose partition i holds
    exactly id i, so task i runs stripe i with no shuffle, and each task
    crosses the Python boundary once, in the mapInArrow UDF. Per-task
    cost (4-core Xeon VM, local[4], trivial UDF into a noop sink): a task
    list shipped as a Python RDD paid a second, pickling Python stage,
    ~70 ms per task (674 vs 394 ms at 4 tasks). On the range frame, most
    of what was left was pyspark re-reading pyspark.zip's directory before
    every task; the task starts with runtime.tune_malloc(), which stops
    that in its worker from the next task on (see the runtime module
    docstring): one task 296 -> 115 ms, four tasks 410 -> 144 ms, against
    60-71 ms for four tasks with no Python stage.

    The task list rides in the UDF closure as one Arrow IPC buffer (a
    stripe column plus the row columns, sorted by stripe), so every task
    deserializes the whole list: O(rows) bytes per task, small next to
    the pid of work each row names."""
    n = rows.num_rows
    width = max(1, min(width or n, n))
    order = [k for i in range(width) for k in range(i, n, width)]
    table = rows.take(order).append_column(
        "stripe", pa.array([k % width for k in order], pa.int64()))
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    buf = sink.getvalue().to_pybytes()

    def task(ids: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        from parquet_toolkit_spark.runtime import tune_malloc

        tune_malloc()
        t = pa.ipc.open_stream(buf).read_all()
        for b in ids:
            for i in b.column(0).to_pylist():
                yield from run(t.filter(pc.equal(t.column("stripe"), i))
                               .drop_columns(["stripe"]))

    return spark.range(0, width, 1, width).mapInArrow(task, schema)


def encode_partitions(spark: SparkSession, staging_dir: str, out_dir: str,
                      run_id: str = "r0", resume: bool = True,
                      fail_after: int | None = None,
                      concurrency: int | None = None,
                      prefetch: bool = True) -> DataFrame:
    """Phase B: encode staged pid partitions, skipping committed ones.

    prefetch=False disables the per-task 1-deep read-ahead thread so each
    task uses exactly one thread end-to-end — the mode the scaling
    protocol runs on BOTH parallelism legs, keeping threads-per-task
    identical across cluster sizes (the N-vs-4N comparison must not give
    the small leg a hidden second IO thread).

    Spark schedules; the data plane stays in the python workers: each task
    reads its pid's staged parquet file(s) directly with pyarrow (no
    JVM<->python row transfer), encodes, and commits the blob file with
    the reference's write-temp-then-rename protocol (SimpleMergeThread.
    java:118-122,180-191) — a re-run after a crash is idempotent.

    fail_after=k encodes only k pending partitions then returns — the
    kill-after-k test hook (SURVEY.md §5.2 item 5).

    Staged pid i is store pid i, which is what lets resume=True skip the
    committed ones. resume=False over a store that has a manifest first
    commits an empty one and deletes every pid dir, then encodes: the
    store reads empty until the run commits, never a mix of two runs.

    All control-plane IO (listing, manifest, commit) goes through the
    filesystem shim, so staging/out dirs may live on any Hadoop-readable
    scheme (hdfs://, s3a://), matching the reference's HDFS-native
    control plane (ParquetMergerImpl.java:60-110).
    """
    import posixpath

    from parquet_toolkit_spark.sources.fs import DriverFS

    dfs = DriverFS(spark)
    pid_files: dict[int, list[str]] = {}
    pid_sizes: dict[int, int] = {}
    # plain part-NNNNN files in the staging root: the file index is the
    # writing partition's id, and layout_stage writes one file per range
    # partition
    for f, sz in dfs.list_files(staging_dir):
        pid = _staged_pid_of(posixpath.basename(f))
        if pid is None:
            continue
        pid_files.setdefault(pid, []).append(f)
        pid_sizes[pid] = pid_sizes.get(pid, 0) + sz
    for pid in pid_files:
        pid_files[pid].sort()

    if not pid_files:
        return read_manifest(spark, out_dir)
    # schema from ONE staged file footer — whole-directory partition
    # discovery (spark.read.parquet(staging_dir)) costs seconds of serial
    # driver time and adds nothing: layout_stage wrote a uniform schema.
    # The footer is read DRIVER-SIDE with pyarrow: even a single-file
    # spark.read.parquet launches a schema-inference job (~0.2-0.4 s),
    # pure fixed overhead in every encode run — it is parallelism-
    # independent, so it directly taxes the N-vs-4N scaling ratio.
    any_file = next(iter(pid_files.values()))[0]
    schema_map = _schema_map_from_footer(any_file)
    if schema_map is None:  # exotic arrow type: fall back to Spark
        schema_map = _schema_map(spark.read.parquet(any_file))

    plan = store.read_plan(dfs, out_dir)
    if resume and plan is not None and plan.schema_map != schema_map:
        # resumed pids would sit under a column map that is not theirs
        raise ValueError(
            f"cannot resume into {out_dir}: the store has schema "
            f"{plan.schema_map}, the staged table has {schema_map}; "
            "re-encode with resume=False")
    done = ({p for p, _f, _b in plan.files}
            if resume and plan is not None else set())
    pending = sorted(set(pid_files) - done)
    if fail_after is not None:
        pending = pending[:fail_after]
    if not pending:
        return read_manifest(spark, out_dir)
    if not resume and plan is not None:
        # staged pid i is store pid i, so a re-encode retires the old run
        # first: commit an empty manifest, then delete every pid dir. No
        # committed manifest then names a blob of another run, and no old
        # pid outlives the run. A crash from here on leaves an empty
        # store that resume=True fills.
        store.commit(dfs, out_dir, store.ROWS_SCHEMA.empty_table(), None,
                     schema_map)
        dfs.delete(os.path.join(out_dir, store.BLOBS), recursive=True)

    # codec hints: full gated selection once, on the first pending pid
    # (longest-first task order also keeps the tail short); memoized per
    # staging dir — a resumed/re-run job of the same staged table reuses
    # its sample decision instead of re-reading the sample partition
    # keyed by staging dir PLUS a content fingerprint (file count + total
    # bytes + the sampled pid's first file path/size): re-staging different
    # data at the same path must re-gate instead of reusing stale hints
    # (ADVICE r2). All inputs are already in memory — zero extra IO.
    sample_files = pid_files[pending[0]]
    memo_key = (staging_dir, len(pid_files), sum(pid_sizes.values()),
                sample_files[0], pid_sizes[pending[0]])
    hints = _HINTS_MEMO.get(memo_key)
    if hints is None:
        from parquet_toolkit_spark.codecs.selector import plan_hints
        from parquet_toolkit_spark.sources.fs import task_read_table

        sample_table = task_read_table(pid_files[pending[0]])
        sample_table = sample_table.drop_columns(
            [c for c in sample_table.schema.names if c not in schema_map]
        )
        hints = plan_hints({
            n: sample_table.column(n).combine_chunks()
            for n in sample_table.schema.names
        })
        # evict prior entries for this staging dir (ADVICE r4): a driver
        # re-staging the same path in a loop must not accumulate one stale
        # hint dict per content fingerprint
        for k in [k for k in _HINTS_MEMO if k[0] == staging_dir]:
            del _HINTS_MEMO[k]
        _HINTS_MEMO[memo_key] = hints

    by_size = sorted(pending, key=lambda p: -pid_sizes[p])
    task_rows = pa.table({
        "pid": pa.array(by_size, pa.int32()),
        "files": [pid_files[p] for p in by_size],
    })

    def encode_task(stripe: pa.Table) -> Iterator[pa.RecordBatch]:
        from concurrent.futures import ThreadPoolExecutor

        from parquet_toolkit_spark.sources.fs import task_read_table

        def read_pid(task) -> tuple[int, pa.Table]:
            table = task_read_table(task["files"])
            return task["pid"], table.drop_columns(
                [c for c in table.schema.names if c not in schema_map]
            )

        def encode_one(pid: int, table: pa.Table) -> pa.RecordBatch:
            return _write_pid(out_dir, pid, table, run_id, hints=hints)

        if not prefetch:
            # strictly one thread per task: read pid k, encode pid k.
            # The scaling protocol runs this mode on both legs so
            # threads-per-task is constant across parallelism levels.
            for task in stripe.to_pylist():
                pid, table = read_pid(task)
                yield encode_one(pid, table)
            return

        # 1-deep read prefetch: the parquet read+decompress of pid k+1 runs
        # (GIL-released, in Arrow C++) while pid k encodes — overlapping
        # the two halves of the per-pid wall (~0.1s IO + ~0.13s kernel on
        # the F0 corpus). Depth 1 bounds the extra resident set to one
        # spare partition (~target_bytes).
        it = iter(stripe.to_pylist())
        with ThreadPoolExecutor(max_workers=1) as pool:
            nxt = None
            for task in it:
                nxt = pool.submit(read_pid, task)
                break
            while nxt is not None:
                pid, table = nxt.result()
                nxt = None
                for task in it:
                    nxt = pool.submit(read_pid, task)
                    break
                yield encode_one(pid, table)

    # the job's rows (blob dropped) come back to the driver and commit
    # there; resume=False re-encodes every pid, so no old row survives
    new_rows = _striped_tasks(spark, task_rows, concurrency, encode_task,
                              _ROWS_DDL).toArrow()
    store.commit(dfs, out_dir, new_rows, pending if resume else None,
                 schema_map)
    return read_manifest(spark, out_dir)


def fsck_store(spark: SparkSession, enc_dir: str,
               concurrency: int | None = None) -> DataFrame:
    """Distributed blob-store integrity check (F6 quarantine parity at the
    store level): one task per committed pid recomputes sha256 of every
    column blob and reconciles against the manifest. Returns
    (pid, column, status, expected_sha, actual_sha) with status one of
    ok | corrupt | missing_blob (manifest entry, no blob row; a lost
    pid file scans as no rows) | orphan (blob row, no manifest entry) |
    unreadable (file won't parse). The scan list is the store's read
    plan, so orphan PID DIRS (no committed manifest rows at all) are
    ignored, same as decode — the manifest is the source of truth."""
    from parquet_toolkit_spark.sources.fs import DriverFS

    plan = store.read_plan(DriverFS(spark), enc_dir)
    if plan is None:
        raise FileNotFoundError(f"no manifest under {enc_dir}")
    man_side = read_manifest(spark, enc_dir).select(
        "pid", "column", F.col("checksum").alias("expected_sha"))
    if not plan.files:  # an empty manifest: no task to run
        return man_side.select(
            "pid", "column", F.lit("missing_blob").alias("status"),
            "expected_sha", F.lit(None).cast("string").alias("actual_sha"),
        )
    task_rows = pa.table({
        "pid": pa.array([p for p, _f, _b in plan.files], pa.int32()),
        "file": [f for _p, f, _b in plan.files],
    })
    scanned_schema = pa.schema([("pid", pa.int32()), ("column", pa.string()),
                                ("actual_sha", pa.string())])

    def scan_task(stripe: pa.Table) -> Iterator[pa.RecordBatch]:
        import hashlib

        from parquet_toolkit_spark.sources.fs import task_open_ipc

        rows = {"pid": [], "column": [], "actual_sha": []}
        for task in stripe.to_pylist():
            pid, f = task["pid"], task["file"]
            try:
                t = task_open_ipc(f).read_all()
                cols = t.column("column").to_pylist()
                blobs = t.column("blob")
                for i, name in enumerate(cols):
                    buf = blobs[i].as_buffer()
                    rows["pid"].append(pid)
                    rows["column"].append(name)
                    rows["actual_sha"].append(
                        hashlib.sha256(memoryview(buf)).hexdigest())
            except FileNotFoundError:
                continue  # a lost pid file: its rows read missing_blob
            except Exception as exc:  # torn/truncated file
                rows["pid"].append(pid)
                rows["column"].append("__file__")
                rows["actual_sha"].append(f"UNREADABLE: {exc}"[:120])
        yield pa.RecordBatch.from_pydict(rows, schema=scanned_schema)

    scanned = _striped_tasks(spark, task_rows, concurrency, scan_task,
                             "pid INT, column STRING, actual_sha STRING")
    joined = man_side.join(scanned, ["pid", "column"], "full_outer")
    status = (
        F.when(F.col("column") == "__file__", F.lit("unreadable"))
        .when(F.col("actual_sha").isNull(), F.lit("missing_blob"))
        .when(F.col("expected_sha").isNull(), F.lit("orphan"))
        .when(F.col("expected_sha") == F.col("actual_sha"), F.lit("ok"))
        .otherwise(F.lit("corrupt"))
    )
    return joined.select("pid", "column", status.alias("status"),
                         "expected_sha", "actual_sha")


def _decode_blob_file(fpath: str, wanted: set[str] | None = None
                      ) -> dict[str, pa.Array]:
    """One pid file -> {column: decoded arrow array}. Task-local IO
    (memory-mapped IPC), zero-copy per-row blob views (VERDICT r1:
    to_pylist copied every blob into a python bytes). `wanted` prunes
    columns — an unselected blob's pages never fault."""
    import numpy as np

    from parquet_toolkit_spark.codecs.chunk import to_arrow
    from parquet_toolkit_spark.codecs.container import decode_blob
    from parquet_toolkit_spark.sources.fs import task_open_ipc

    try:
        bt = task_open_ipc(fpath).read_all()
    except FileNotFoundError as e:
        raise FileNotFoundError(
            f"committed pid file {fpath} is missing; run fsck_store") from e
    names = bt.column("column").to_pylist()
    blob_arr = bt.column("blob").combine_chunks()
    bufs = blob_arr.buffers()
    offs = np.frombuffer(
        bufs[1], dtype=np.int64, count=len(blob_arr) + blob_arr.offset + 1
    )[blob_arr.offset:]
    cols: dict[str, pa.Array] = {}
    for i, name in enumerate(names):
        if wanted is not None and name not in wanted:
            continue
        view = bufs[2].slice(int(offs[i]), int(offs[i + 1] - offs[i]))
        cols[name] = to_arrow(decode_blob(view))
    return cols


def _spark_schema(schema_map: dict[str, str]) -> pa.Schema:
    """{column: Spark DDL} -> the Arrow schema Spark's Arrow deserializer
    expects for it (sources/ddl.ddl_to_arrow)."""
    from parquet_toolkit_spark.sources.ddl import ddl_to_arrow

    return pa.schema([(c, ddl_to_arrow(t)) for c, t in schema_map.items()])


def _read_pid(fpath: str, schema: pa.Schema) -> pa.Table:
    """The one pid-file reader: decode `schema`'s columns of one pid file
    into a Spark-typed Arrow table. A decoded column is cast only when its
    type differs from the declared one: nested shapes decode from their IPC
    section with the ingest-time arrow type, strings as large_string."""
    cols = _decode_blob_file(fpath, set(schema.names))
    return pa.Table.from_arrays(
        [cols[f.name] if str(cols[f.name].type) == str(f.type)
         else cols[f.name].cast(f.type) for f in schema], schema=schema)


def compact_store(spark: SparkSession, enc_dir: str,
                  target_bytes: int = 64 << 20, run_id: str = "cp0",
                  concurrency: int | None = None,
                  bloom_columns: tuple[str, ...] | None = None) -> DataFrame:
    """Merge undersized pid partitions of an encoded store into
    ~target_bytes partitions — M1/M2 size-binned compaction semantics
    (reference SimpleMultithreadedParquetMerger.java:233-276 delete-inputs
    protocol) applied at the blob-store level.

    Incremental ingest (incremental_encode / encode_iceberg_increment)
    appends one small pid set per micro-batch, so a long-lived store
    degrades toward many tiny pids: per-pid task overhead on every decode,
    a wider manifest, worse codec tables (FSST/dict train per pid).
    compact_store walks committed pids in pid order (== key order for
    range layouts, so merged partitions keep contiguous sort ranges), bins
    ADJACENT pids whose ENCODED sizes sum to <= target_bytes, and
    re-encodes each bin in one shuffle-free task; right-sized pids are not
    touched or rewritten. At 100 TB this is O(small-pid bytes) IO with
    O(1) driver state per pid — the same independent-task discipline as
    encode_partitions.

    Crash-safe like every store writer: merged blobs land via
    write-temp-then-atomic-rename under FRESH pid numbers (never colliding
    with live dirs), the manifest swap commits the change atomically, and
    old member dirs are deleted only after commit — a crash at any point
    leaves either the old committed view or the new one, plus at worst
    orphan dirs that every reader ignores. Member files come from the
    store's read plan: a lost one fails its task.

    bloom_columns=None auto-detects: columns whose manifest stats carry a
    bloom keep one on the merged chunks.
    """
    from parquet_toolkit_spark.sources.fs import DriverFS

    dfs = DriverFS(spark)
    plan = store.read_plan(dfs, enc_dir)
    if plan is None:
        raise FileNotFoundError(f"no manifest under {enc_dir}")
    sizes = {p: b for p, _f, b in plan.files}
    # driver-side arrow reads, not O(pids) collect jobs: the plan gives
    # sizes and member files, this the bloom columns and codec hints
    cols = ["pid", "column", "codec", "stats_json"]
    mt = store.manifest_table(dfs, enc_dir, cols)
    mrows = list(zip(*(mt.column(c).to_pylist() for c in cols)))
    if bloom_columns is None:
        bloom_columns = tuple(sorted(
            {c for _p, c, _cd, sj in mrows
             if sj is not None and '"bloom"' in sj}
        ))

    # greedy adjacent binning: only bins with >=2 members are rewritten
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_sz = 0
    for pid in sorted(sizes):
        sz = sizes[pid]
        if sz >= target_bytes:
            if len(cur) >= 2:
                groups.append(cur)
            cur, cur_sz = [], 0
            continue  # right-sized pid: untouched
        if cur and cur_sz + sz > target_bytes:
            if len(cur) >= 2:
                groups.append(cur)
            cur, cur_sz = [], 0
        cur.append(pid)
        cur_sz += sz
    if len(cur) >= 2:
        groups.append(cur)
    if not groups:
        return read_manifest(spark, enc_dir)

    next_pid = store.next_pid(dfs, enc_dir)
    merged_pids = [p for g in groups for p in g]
    # codec hints from the MEMBERS' committed choices: re-gating a merged
    # chunk from scratch re-pays the FSST admission trial per (group,
    # column); the members already ran that gate on the same data, so
    # their codec set (plus the plain floor select_codec always honors)
    # is the candidate list — selection stays size-optimal among them
    merged_set = set(merged_pids)
    hints: dict[str, list[str]] = {}
    for p, c, cd, _sj in mrows:
        if p not in merged_set:
            continue
        hints.setdefault(c, [])
        if cd not in hints[c]:
            hints[c].append(cd)
    # member files in pid order — concat preserves the sorted layout's
    # row order across adjacent pids
    paths = {p: f for p, f, _b in plan.files}
    bins = [(next_pid + i, [paths[p] for p in g],
             sum(sizes[p] for p in g)) for i, g in enumerate(groups)]
    # largest merged bin (by ENCODED bytes, not path-string length —
    # code-review r4) first for balanced striping
    bins.sort(key=lambda b: -b[2])
    task_rows = pa.table({
        "pid": pa.array([p for p, _, _ in bins], pa.int32()),
        "files": [files for _, files, _ in bins],
    })

    def compact_task(stripe: pa.Table) -> Iterator[pa.RecordBatch]:
        for task in stripe.to_pylist():
            parts: dict[str, list[pa.Array]] = {}
            for f in task["files"]:
                for name, arr in _decode_blob_file(f).items():
                    parts.setdefault(name, []).append(arr)
            table = pa.table({name: pa.chunked_array(arrs)
                              for name, arrs in parts.items()})
            yield _write_pid(enc_dir, task["pid"], table, run_id,
                             hints=hints, bloom_columns=bloom_columns)

    new_rows = _striped_tasks(spark, task_rows, concurrency, compact_task,
                              _ROWS_DDL).toArrow()
    store.commit(dfs, enc_dir, new_rows, merged_pids, plan.schema_map)
    # post-commit cleanup: the manifest no longer references the members,
    # so a crash here leaves only ignorable orphans
    for p in merged_pids:
        dfs.delete(store.pid_dir(enc_dir, p), recursive=True)
    return read_manifest(spark, enc_dir)


def decode_pipeline(spark: SparkSession, enc_dir: str,
                    keep_pid: bool = False,
                    concurrency: int | None = None,
                    columns: list[str] | None = None,
                    pids: set[int] | None = None) -> DataFrame:
    """Blob store -> original table (bit-identical columns).

    Same data-plane design as encode_partitions: Spark schedules one task
    per pid, the worker reads the pid's blob file directly with pyarrow
    and emits decoded Arrow batches — no shuffle, no JVM row transfer on
    the input side.

    columns: decode only these (column PRUNING at the blob layer — the
    memory-mapped IPC file only faults the pages of the selected rows'
    buffers, so untouched columns cost ~0 IO).
    pids: decode only these partitions — pair with pids_matching_range
    (zone-map pruning from the manifest's per-chunk min/max stats).
    Every file comes from the store's read plan: a committed pid whose
    file is lost fails the action, naming the file."""
    plan = _read_plan(spark, enc_dir, columns)
    if pids is not None:
        plan = plan._replace(files=[t for t in plan.files if t[0] in pids])
    if not plan.files:
        raise FileNotFoundError(
            f"no committed blob files under {enc_dir}/{store.BLOBS}")
    return _decode_plan(spark, plan, keep_pid, concurrency)


def _read_plan(spark: SparkSession, enc_dir: str,
               columns: list[str] | None = None, filters=()
               ) -> store.ReadPlan:
    """store.read_plan, refusing a store with _schema.json but NO
    manifest: that is a broken commit, and decoding its pid dirs would
    resurrect orphan/partial blobs (ADVICE r2)."""
    from parquet_toolkit_spark.sources.fs import DriverFS

    plan = store.read_plan(DriverFS(spark), enc_dir, columns, filters)
    if plan is None:
        raise FileNotFoundError(
            f"no manifest under {enc_dir}: encode commit incomplete; "
            "re-run encode_partitions(resume=True) to rebuild it"
        )
    return plan


def _decode_plan(spark: SparkSession, plan: store.ReadPlan,
                 keep_pid: bool, concurrency: int | None,
                 read: Callable[[str, pa.Schema], pa.Table | None] = _read_pid,
                 on_driver: bool = False) -> DataFrame:
    """Run `read(pid_file, schema)` over the plan's files (None: the pid
    yields no rows). In striped tasks, largest first; or, on_driver or
    for a plan with no files, in this process, as one partition of the
    decoded rows."""
    out_schema = ", ".join(
        (["pid int"] if keep_pid else [])
        + [f"`{c}` {t}" for c, t in plan.schema_map.items()])
    schema = _spark_schema(plan.schema_map)

    def decode(pid: int, fpath: str) -> pa.Table | None:
        table = read(fpath, schema)
        if table is not None and keep_pid:
            table = table.add_column(0, "pid", pa.array(
                [pid] * table.num_rows, pa.int32()))
        return table

    if on_driver or not plan.files:
        empty = pa.schema(([pa.field("pid", pa.int32())] if keep_pid else [])
                          + list(schema)).empty_table()
        tables = [t for p, f, _b in plan.files
                  if (t := decode(p, f)) is not None]
        # one partition, so a count() needs no exchange; and an Arrow
        # table even when empty: a frame of an empty Python list counts
        # in a Python job (local[4]: 2 jobs, ~550 ms against 1, ~100 ms)
        return spark.createDataFrame(pa.concat_tables([empty, *tables]),
                                     out_schema).coalesce(1)
    files = sorted(plan.files, key=lambda t: -t[2])
    task_rows = pa.table({
        "pid": pa.array([p for p, _f, _b in files], pa.int32()),
        "file": [f for _p, f, _b in files],
    })

    def decode_task(stripe: pa.Table) -> Iterator[pa.RecordBatch]:
        for task in stripe.to_pylist():
            table = decode(task["pid"], task["file"])
            if table is not None:
                yield from table.to_batches(max_chunksize=32768)

    return _striped_tasks(spark, task_rows, concurrency, decode_task,
                          out_schema)


def verify_roundtrip(original: DataFrame, decoded: DataFrame,
                     key_cols: tuple[str, ...] = ("repo", "path", "commit"),
                     content_col: str = "content") -> dict:
    """Per-row sha256(content) equality keyed by (repo, path, commit).

    The north-rule invariant (BASELINE.json input_hint). Runs as one
    distributed join — no driver materialization."""
    o = original.select(
        *key_cols, F.sha2(F.col(content_col).cast("binary"), 256).alias("sha_o")
    )
    d = decoded.select(
        *key_cols, F.sha2(F.col(content_col).cast("binary"), 256).alias("sha_d")
    )
    joined = o.join(d, on=list(key_cols), how="full_outer")
    agg = joined.agg(
        F.count("*").alias("rows"),
        F.sum(F.when(F.col("sha_o").isNull() | F.col("sha_d").isNull(), 1)
              .otherwise(0)).alias("missing"),
        F.sum(F.when(F.col("sha_o") != F.col("sha_d"), 1).otherwise(0)).alias("mismatch"),
    ).first()
    return {"rows": agg.rows, "missing": agg.missing or 0,
            "mismatch": agg.mismatch or 0,
            "ok": (agg.missing or 0) == 0 and (agg.mismatch or 0) == 0}


def encoded_size_report(spark: SparkSession, enc_dir: str) -> dict:
    """Total encoded bytes vs raw bytes from the manifest (driver-side
    arrow read, no Spark job). The sums are None on an empty manifest."""
    import pyarrow.compute as pc

    from parquet_toolkit_spark.sources.fs import DriverFS

    t = store.manifest_table(DriverFS(spark), enc_dir,
                             ["pid", "bytes_in", "bytes_out"])
    if t is None:
        raise FileNotFoundError(f"no manifest under {enc_dir}")
    bytes_in = pc.sum(t.column("bytes_in")).as_py()
    bytes_out = pc.sum(t.column("bytes_out")).as_py()
    return {
        "bytes_in": bytes_in, "bytes_out": bytes_out,
        "ratio": (bytes_out or 0) / max(1, bytes_in or 1),
        "n_partitions": pc.count_distinct(t.column("pid")).as_py(),
    }


def pids_matching_range(spark: SparkSession, enc_dir: str, column: str,
                        lo=None, hi=None) -> set[int]:
    """Zone-map pruning: pids whose `column` chunk COULD contain a value
    in [lo, hi], from the manifest's per-chunk min/max stats (profiler
    output, stats_json). int columns use $.min/$.max; short string/binary
    key columns (repo/path/commit) use the exact $.smin/$.smax the
    profiler stores. Chunks without stats are conservatively kept. Pair
    with decode_pipeline(pids=...) — after a sort_keys layout the key
    column's chunks are disjoint ranges, so point/range reads touch O(1)
    partitions instead of all of them (the columnar zone-map /
    parquet row-group-stats idea applied to the blob store)."""
    # EVERY bound type routes through the shared _chunk_admits admission
    # (the same evidence dispatch the ptsc pushdown uses): int/float
    # bounds against whichever of $.min/$.max / $.fmin/$.fmax the chunk
    # carries, strings against $.smin/$.smax, temporal values unit-scaled
    # by the stats' logical marker, and decimal-mantissa chunks scale ANY
    # numeric bound exactly — the previous Catalyst numeric path compared
    # a plain int/float bound against the UNSCALED mantissa and silently
    # dropped matching pids (ADVICE r6). One driver-side manifest read;
    # admission is O(n_pids) python, exact at any decimal width.
    import decimal as _dcm

    from pyspark.sql.datasource import (
        GreaterThanOrEqual,
        LessThanOrEqual,
    )

    flts = []
    if lo is not None:
        flts.append(GreaterThanOrEqual((column,), lo))
    if hi is not None:
        flts.append(LessThanOrEqual((column,), hi))
    plan = _read_plan(spark, enc_dir, filters=flts)
    if isinstance(lo, _dcm.Decimal) or isinstance(hi, _dcm.Decimal):
        # loud refusal kept from r6: Decimal bounds on a column with no
        # decimal zone maps means the caller is pruning the wrong column
        if not any((s.get("logical") or "").startswith("dec_")
                   for s in plan.stats.values()):
            raise TypeError(
                f"Decimal bounds on {column!r}, but its chunks carry no "
                "decimal zone maps (is the column decimal-typed?)"
            )
    return {p for p, _f, _b in plan.files}


def pids_matching_value(spark: SparkSession, enc_dir: str, column: str,
                        value) -> set[int]:
    """Bloom pruning for point lookups: pids whose `column` chunk MIGHT
    contain `value`, from the per-chunk blooms stored at encode time
    (encode_pipeline(bloom_columns=...)). Sound: a pid is only dropped
    when the bloom proves the value absent; chunks without a bloom are
    kept. Complements pids_matching_range, which needs the SORTED key —
    blooms prune needle queries on any column they were built for.
    Driver cost is O(pids) bloom probes (4KB each, numpy)."""
    from pyspark.sql.datasource import EqualTo

    # shared admission (_chunk_admits): bloom probe + zone-map point
    # range, with the logical-unit handling (temporal units, decimal
    # mantissa scaling) applied consistently — a raw bloom probe with a
    # Decimal value would hash the unscaled value and could UNSOUNDLY
    # prune (r5)
    plan = _read_plan(spark, enc_dir, filters=[EqualTo((column,), value)])
    return {p for p, _f, _b in plan.files}


def _prefix_upper_bound(prefix: str) -> str | None:
    """Smallest string greater than EVERY string starting with `prefix`:
    increment the last code point, carrying past U+10FFFF. None means no
    finite bound exists (prefix is all U+10FFFF) — match everything.

    The naive `prefix + U+10FFFF` bound is unsound (ADVICE r2): a value of
    the form prefix + U+10FFFF + more sorts ABOVE it yet carries the prefix,
    so a chunk holding only such values would be wrongly pruned."""
    cps = list(prefix)
    while cps:
        o = ord(cps[-1])
        if o < 0x10FFFF:
            nxt = o + 1
            if 0xD800 <= nxt <= 0xDFFF:
                # surrogate code points aren't encodable scalar values —
                # chr(0xD800) would crash py4j's UTF-8 transfer; jumping
                # to U+E000 stays sound because no valid string contains
                # a lone surrogate between the two (code-review r3)
                nxt = 0xE000
            cps[-1] = chr(nxt)
            return "".join(cps)
        cps.pop()
    return None


# decode_where's crossover: admitted pids whose requested columns hold
# less than this many manifest bytes_in are filtered and decoded on the
# driver, larger lookups in striped tasks. Set just under the smallest
# admitted bytes_in at which the wide path won, and under Spark's 48 MB
# Arrow local-relation threshold. decode_where(columns=None).count() on
# repo ranges of the F0 seed-1 corpus (30k rows, content included),
# local[4] on a 4-core VM, medians of 5 interleaved calls, ms:
#   8 pids:  admitted 2/3/4/5/6/8 pids = 14.6/21.8/29.1/36.3/43.6/58.4 MB
#            driver 271/310/338/361/486/496, wide 368/307/296/321/384/378
#   32 pids: admitted 2/5/9/17/32 pids = 3.6/9.1/16.3/30.9/58.4 MB
#            driver 120/174/221/371/551, wide 205/279/348/533/863
_DRIVER_LOOKUP_BYTES = 20 << 20


def _row_mask(table: pa.Table, predicates: dict) -> pa.ChunkedArray | None:
    """A row mask keeping at least every row `predicates` match: a prefix
    is pc.starts_with, equality and ranges compare on integer and string
    columns, and any other predicate keeps every row (decode_where's
    Spark residual stays exact). None: no predicate narrows."""
    import pyarrow.compute as pc

    def is_str(t: pa.DataType) -> bool:
        return pa.types.is_string(t) or pa.types.is_large_string(t)

    def fits(v, t: pa.DataType) -> bool:
        if pa.types.is_integer(t):
            return (isinstance(v, int) and not isinstance(v, bool)
                    and -(1 << 63) <= v < (1 << 63))
        return is_str(t) and isinstance(v, str)

    parts = []
    for col, spec in predicates.items():
        arr = table.column(col)
        if isinstance(spec, dict):
            if is_str(arr.type) and isinstance(spec.get("prefix"), str):
                parts.append(pc.starts_with(arr, spec["prefix"]))
        elif isinstance(spec, tuple):
            parts += [cmp(arr, v) for cmp, v in
                      zip((pc.greater_equal, pc.less_equal), spec)
                      if v is not None and fits(v, arr.type)]
        elif fits(spec, arr.type):
            parts.append(pc.equal(arr, spec))
    if not parts:
        return None
    return pc.fill_null(functools.reduce(pc.and_, parts), False)


def _lookup_pid(fpath: str, schema: pa.Schema,
                predicates: dict) -> pa.Table | None:
    """decode_where's per-pid read, late-materialized: decode only the
    predicate columns, mask them (_row_mask), and decode `schema`'s other
    columns only when a row passes; those rows come back Spark-typed in
    `schema`'s order. None: no row passes."""
    keys = pa.schema([f for f in schema if f.name in predicates])
    rest = pa.schema([f for f in schema if f.name not in predicates])
    head = _read_pid(fpath, keys)
    mask = _row_mask(head, predicates)
    if mask is not None:
        head = head.filter(mask)
    if not head.num_rows:
        return None
    cols = dict(zip(head.column_names, head.columns))
    if len(rest):
        tail = _read_pid(fpath, rest)
        tail = tail if mask is None else tail.filter(mask)
        cols.update(zip(tail.column_names, tail.columns))
    return pa.Table.from_arrays([cols[n] for n in schema.names],
                                schema=schema)


def decode_where(spark: SparkSession, enc_dir: str,
                 predicates: dict,
                 columns: list[str] | None = None,
                 keep_pid: bool = False,
                 concurrency: int | None = None) -> DataFrame:
    """Predicate-pushdown decode: one call composing every pruning layer
    the store offers — the blob-store analogue of a parquet scan with
    PushedFilters. Each predicate prunes pids at the METADATA layer
    (manifest stats; no blob IO), the admitted pids are decoded with
    column pruning and late materialization, and the same predicates
    re-apply row-level so the result is EXACT, not a superset.

    predicates: {column: spec} where spec is
      scalar            equality — bloom probe (if built) AND zone-map
                        point range, then a residual ==
      (lo, hi) tuple    range, either side None — zone maps + residual
      {"prefix": p}     string prefix — zone maps via the carry-safe
                        upper bound + residual startswith

    Pid sets intersect across predicates (each is a sound superset, so
    the intersection is too). Pruning evidence comes free from the
    manifest; columns without stats/blooms simply don't prune — the
    residual keeps the answer exact either way.

    Each admitted pid is read late-materialized (_lookup_pid): only the
    predicate columns are decoded and masked with pyarrow, and the other
    requested columns are decoded only for a pid with a passing row.
    Where that runs is set by the admitted pids' manifest bytes_in for
    the requested columns, against a fixed crossover:
      under _DRIVER_LOOKUP_BYTES   on the driver, while this call runs.
                        The frame is one partition of the passing rows,
                        so its action starts no Python task. It holds the
                        store as it was at the call: a compact_store
                        between the call and the action does not change
                        its rows. The IO is part of the call, so a query
                        body that calls decode_where (bench.py's
                        q_decode_where) does it while the body is built,
                        not in the timed execution.
      at or above it    in striped tasks at `concurrency` (None: one task
                        per pid), which read the pid files when the
                        action runs, as decode_pipeline does.
    Either way the exact answer comes from one Spark .where() over the
    residual predicates."""
    if not predicates:
        raise ValueError("decode_where needs at least one predicate; "
                         "use decode_pipeline for full scans")
    if any((not isinstance(s, (dict, tuple)) and s is None)
           for s in predicates.values()):
        raise ValueError(
            "decode_where equality on None has no SQL null-equality "
            "semantics (col == NULL matches nothing); filter nulls with "
            "decode_pipeline + isNull instead")

    # the store's read plan admits pids for every predicate and names
    # the files and schema from ONE manifest read (code-review r4)
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        LessThanOrEqual,
        StringStartsWith,
    )

    flts: list = []
    conds: list = []
    for col, spec in predicates.items():
        if isinstance(spec, dict) and "prefix" in spec:
            flts.append(StringStartsWith((col,), spec["prefix"]))
            conds.append(F.col(col).startswith(spec["prefix"]))
        elif isinstance(spec, tuple):
            lo, hi = spec
            if lo is not None:
                flts.append(GreaterThanOrEqual((col,), lo))
                conds.append(F.col(col) >= F.lit(lo))
            if hi is not None:
                flts.append(LessThanOrEqual((col,), hi))
                conds.append(F.col(col) <= F.lit(hi))
        else:
            flts.append(EqualTo((col,), spec))
            conds.append(F.col(col) == F.lit(spec))

    want = columns
    if columns is not None:
        columns = list(dict.fromkeys(columns + list(predicates)))
    plan = _read_plan(spark, enc_dir, columns, flts)
    admitted = sum(plan.bytes_in[p] for p, _f, _b in plan.files)
    df = _decode_plan(spark, plan, keep_pid, concurrency,
                      functools.partial(_lookup_pid, predicates=predicates),
                      on_driver=admitted < _DRIVER_LOOKUP_BYTES)
    if conds:
        df = df.where(functools.reduce(operator.and_, conds))
    if want is not None:
        df = df.select(*(["pid"] if keep_pid else []), *want)
    return df


def pids_matching_prefix(spark: SparkSession, enc_dir: str, column: str,
                         prefix: str) -> set[int]:
    """Prefix pruning over string zone maps: pids that could hold values
    starting with `prefix` (e.g. one repo's files after a (repo, path)
    sorted layout). Upper bound = increment-with-carry of the prefix's
    last code point (see _prefix_upper_bound); the range check keeps a
    chunk when min <= hi, and any v < next(prefix) with v >= prefix either
    has the prefix or sorts below a prefixed value in the same chunk —
    conservative, never unsoundly pruned."""
    hi = _prefix_upper_bound(prefix)
    return pids_matching_range(spark, enc_dir, column, lo=prefix, hi=hi)
