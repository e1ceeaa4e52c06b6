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
SimpleMergeThread.java:118-122 —
here an encode_partitions or compact_store task writes its pid's blob
file to a temp name and renames it into place, and encode_pipeline and
the incremental encoders write blobs through Spark's parquet writer with
dynamic partition overwrite, so a re-encoded pid replaces its blobs
idempotently. Every writer's job hands its manifest rows to the driver,
and the manifest swap in sources/store.commit makes the run visible).

Two modes:
  encode_pipeline()     one job, layout+encode fused (fastest; bench path)
  layout_stage() + encode_partitions()   two phases through a staging dir
                        (checkpoint-resume path; staging doubles as the
                        toolkit-parity compacted+sorted table)
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_toolkit_spark.operators.layout import sampled_width_and_rows
from parquet_toolkit_spark.sources import store
from parquet_toolkit_spark.sources.store import MANIFEST_DDL, read_manifest

if TYPE_CHECKING:
    import pandas as pd

# one encoded row per (pid, column): the manifest row less its status,
# plus the codec blob
_ROWS_DDL = MANIFEST_DDL.replace(", status STRING", "")
ENCODED_SCHEMA = _ROWS_DDL + ", blob BINARY"

# driver-process memo: staging dir -> column codec hints (plan_hints)
_HINTS_MEMO: dict[tuple, dict] = {}

DEFAULT_SORT_KEYS = ("repo", "path", "commit")
DEFAULT_RANGE_KEYS = ("repo", "path")


_SCALAR_PA = {
    "string": pa.large_string(), "binary": pa.large_binary(),
    "bigint": pa.int64(), "int": pa.int32(), "smallint": pa.int16(),
    "tinyint": pa.int8(), "double": pa.float64(), "float": pa.float32(),
    "boolean": pa.bool_(), "date": pa.date32(),
    "timestamp": pa.timestamp("us", tz="UTC"),
    "timestamp_ntz": pa.timestamp("us"),
}


def _arrow_type_for(ddl: str) -> pa.DataType | None:
    """Spark simpleString DDL -> arrow type (incl. array<numeric> and
    decimal(p,s) up to p=18 — the codec layer's int64-mantissa path)."""
    if ddl.startswith("array<") and ddl.endswith(">"):
        inner = _arrow_type_for(ddl[6:-1])
        return pa.list_(inner) if inner is not None else None
    if ddl.startswith("decimal("):
        import re as _re

        m = _re.match(r"decimal\((\d+),\s*(\d+)\)$", ddl)
        if m:
            return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return _SCALAR_PA.get(ddl)


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
            exclude=exclude_codecs or None
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


def _encode_pdf(pdf: pd.DataFrame, pid: int, schema_map: dict[str, str],
                run_id: str,
                exclude_codecs: frozenset[str] = frozenset()) -> pd.DataFrame:
    """pandas entry (applyInPandas resume path). pandas is imported here,
    not at module top: store workers import this module for every task
    and never need it."""
    import pandas as pd

    cols = {
        col: pa.Array.from_pandas(pdf[col], type=_arrow_type_for(stype))
        for col, stype in schema_map.items()
    }
    return pd.DataFrame(
        _encode_columns(cols, pid, run_id, exclude_codecs=exclude_codecs))


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
                cluster_bits: int = 8) -> tuple[DataFrame, int]:
    """Range-partition + sort the table into ~target_bytes partitions.

    Range partitioning on (repo, path) splits a skewed mega-repo across
    partitions by path ranges (layout.range_split picks the bounds on the
    driver from a deterministic sample of the key columns), so layout
    skew is handled without salting; salting is for hash-based groupBy
    aggregations (see operators/skew.py). Partition i is pid i, and one
    input always gives the same bounds.

    cluster_keys switches the layout to Z-order clustering (operators/
    zorder.py): partitions range over a Morton key interleaving the
    quantile ranks of every cluster column, so the per-pid zone maps
    prune on EACH of them — a single-key sort prunes on its leading key
    only. range_keys is ignored in this mode; rows sort within each
    partition by the cluster columns themselves (compression locality),
    or by sort_keys when the caller overrides the default.
    """
    from parquet_toolkit_spark.operators.layout import (
        _footer_decoded_bytes_per_row,
        input_footers,
        range_split,
    )

    # one driver-side footer pass (no job): the exact row count of a
    # frame that scans parquet, its width, and the row groups the range
    # bounds are sampled from
    footers = input_footers(df)
    n_rows = sum(md.num_rows for _f, md in footers) if footers else None
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
        bpr = _footer_decoded_bytes_per_row([md for _f, md in footers])
        if bpr is None:
            bpr, n_rows = sampled_width_and_rows(df)
        n_partitions = max(1, math.ceil(bpr * n_rows / target_bytes))
    if cluster_keys:
        from parquet_toolkit_spark.operators.zorder import (
            ZCLUSTER_COL,
            zorder_key,
        )

        if ZCLUSTER_COL in df.columns:
            raise ValueError(f"input already has a {ZCLUSTER_COL} column")
        zk = zorder_key(df, tuple(cluster_keys), bits=cluster_bits,
                        total_rows=n_rows)
        eff_sort = (tuple(cluster_keys) if sort_keys is DEFAULT_SORT_KEYS
                    else tuple(sort_keys))
        out = (
            df.withColumn(ZCLUSTER_COL, zk)
            .repartitionByRange(n_partitions, F.col(ZCLUSTER_COL))
            .sortWithinPartitions(*[F.col(k) for k in eff_sort])
            .drop(ZCLUSTER_COL)
        )
        return out, n_partitions
    out = (
        range_split(df, range_keys, n_partitions, footers, n_rows)
        .sortWithinPartitions(*[F.col(k) for k in sort_keys])
    )
    return out, n_partitions


def encode_pipeline(spark: SparkSession, df: DataFrame, out_dir: str,
                    target_bytes: int = 64 << 20,
                    range_keys: tuple[str, ...] = DEFAULT_RANGE_KEYS,
                    sort_keys: tuple[str, ...] = DEFAULT_SORT_KEYS,
                    run_id: str = "r0",
                    n_partitions: int | None = None,
                    bloom_columns: tuple[str, ...] = (),
                    cluster_keys: tuple[str, ...] | None = None,
                    cluster_bits: int = 8) -> DataFrame:
    """Fused layout+encode in one Spark job. Returns the manifest DataFrame.

    mapInArrow accumulates the partition's Arrow batches (one partition ==
    one codec scope, per the north rule's per-partition symbol tables).
    bloom_columns: per-chunk blooms for pids_matching_value point lookups.
    cluster_keys: Z-order the layout over these columns instead of
    range_keys (see plan_layout) — zone maps then prune on every one.
    """
    laid, _ = plan_layout(df, target_bytes, range_keys, sort_keys,
                          n_partitions, cluster_keys=cluster_keys,
                          cluster_bits=cluster_bits)
    schema_map = _schema_map(laid)

    def encode_iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        parts = list(batches)
        if not parts:
            return
        table = pa.Table.from_batches(parts)
        pid = TaskContext.get().partitionId()
        cols = {name: table.column(name).combine_chunks() for name in table.schema.names}
        yield _rows_to_batch(_encode_columns(cols, pid, run_id,
                                             bloom_columns=bloom_columns))

    encoded = laid.mapInArrow(encode_iter, ENCODED_SCHEMA)
    _write_encoded(spark, encoded, out_dir, schema_map)
    return read_manifest(spark, out_dir)


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
    measured write speed on the F0 corpus (VERDICT r2 #1)."""
    laid, n_parts = plan_layout(df, target_bytes, range_keys, sort_keys,
                                n_partitions, cluster_keys=cluster_keys,
                                cluster_bits=cluster_bits)
    (
        laid.write.mode("overwrite")
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
    # primary layout: plain part-NNNNN files in the staging root (the file
    # index is the writing partition's id — layout_stage writes one file
    # per range partition); legacy layout: pid=N subdirectories
    for f, sz in dfs.list_files(staging_dir):
        pid = _staged_pid_of(posixpath.basename(f))
        if pid is None:
            continue
        pid_files.setdefault(pid, []).append(f)
        pid_sizes[pid] = pid_sizes.get(pid, 0) + sz
    if not pid_files:
        for pid, d in store.pid_dirs(dfs, staging_dir).items():
            fs_list = store.data_files(dfs, d)
            if fs_list:
                pid_files[pid] = [f for f, _ in fs_list]
                pid_sizes[pid] = sum(sz for _, sz in fs_list)
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

    committed = store.committed_pids(dfs, out_dir) if resume else None
    if committed is not None:
        # resumed pids would sit under a column map that is not theirs
        old_schema = store.read_schema_map(dfs, out_dir)
        if old_schema != schema_map:
            raise ValueError(
                f"cannot resume into {out_dir}: the store has schema "
                f"{old_schema}, the staged table has {schema_map}; "
                "re-encode with resume=False")
    pending = sorted(set(pid_files) - (committed or set()))
    if fail_after is not None:
        pending = pending[:fail_after]
    if not pending:
        return read_manifest(spark, out_dir)

    tmp_dir = os.path.join(out_dir, "_tmp")
    dfs.mkdirs(tmp_dir)

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

        from parquet_toolkit_spark.sources.fs import (
            task_fs,
            task_read_table,
            task_write_ipc_atomic,
        )

        def read_pid(task) -> tuple[int, pa.Table]:
            table = task_read_table(task["files"])
            return task["pid"], table.drop_columns(
                [c for c in table.schema.names if c not in schema_map]
            )

        def encode_one(pid: int, table: pa.Table) -> pa.RecordBatch:
            cols = {
                name: (table.column(name).chunk(0)
                       if table.column(name).num_chunks == 1
                       else table.column(name).combine_chunks())
                for name in table.schema.names
            }
            batch = _rows_to_batch(_encode_columns(cols, pid, run_id,
                                                   hints=hints))
            dest_dir = store.pid_dir(out_dir, pid)
            wfs, dest_plain = task_fs(dest_dir)
            wfs.create_dir(dest_plain, recursive=True)
            # Arrow IPC, not parquet: blob sections are already
            # compressed, so the store wants a raw-memcpy format —
            # IPC writes ~4x faster here and memory-maps on decode
            task_write_ipc_atomic(
                pa.Table.from_batches([batch.drop_columns(["pid"])]),
                os.path.join(tmp_dir, f"pid-{pid}-{run_id}.arrow"),
                os.path.join(dest_dir, "part-0.arrow"),
            )
            return batch.drop_columns(["blob"])

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
    dfs.delete(tmp_dir, recursive=True)
    return read_manifest(spark, out_dir)


def _write_encoded(spark: SparkSession, encoded: DataFrame, out_dir: str,
                   schema_map: dict[str, str], append_pids: bool = False,
                   pids: list[int] | None = None) -> None:
    blobs_dir = os.path.join(out_dir, store.BLOBS)
    # dynamic overwrite: only re-encoded pid directories are replaced
    # (idempotent resume); static mode wipes the whole store first.
    # per-write option, NOT a session conf — leaking the mode would change
    # unrelated partitioned writes later in the session (ADVICE r1)
    (
        encoded.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic" if append_pids else "static")
        .partitionBy("pid").parquet(blobs_dir)
    )

    from parquet_toolkit_spark.sources.fs import DriverFS

    dfs = DriverFS(spark)
    # manifest derives from the blob store (column-pruned scan: the binary
    # blob column is never read), so it is always consistent with it.
    # When the caller knows WHICH pids it just wrote (`pids`, the
    # incremental path), only those pid directories are scanned and the
    # rest of the manifest is carried over from the committed one — the
    # commit cost is O(batch), not O(store) (VERDICT r3 #3: a stream's
    # per-batch cost must not grow with store history).
    # explicit schema: the blob layout is ours, so the footer
    # schema-inference job (~0.1-0.2 s fixed overhead per commit) buys
    # nothing
    reader = spark.read.schema(ENCODED_SCHEMA)
    if pids is None:
        rows = reader.parquet(blobs_dir)
    else:
        # a round-robin repartition can leave a trailing partition empty,
        # so its pid dir never materializes — filter to what was written
        pids = [p for p in pids if dfs.exists(store.pid_dir(out_dir, p))]
        if not pids:
            return  # nothing actually landed; the manifest is unchanged
        rows = reader.option("basePath", blobs_dir).parquet(
            *[store.pid_dir(out_dir, p) for p in pids])
    store.commit(dfs, out_dir, rows.drop("blob").toArrow(), pids, schema_map)


def fsck_store(spark: SparkSession, enc_dir: str,
               concurrency: int | None = None) -> DataFrame:
    """Distributed blob-store integrity check (F6 quarantine parity at the
    store level): one task per committed pid recomputes sha256 of every
    column blob and reconciles against the manifest. Returns
    (pid, column, status, expected_sha, actual_sha) with status one of
    ok | corrupt | missing_blob (manifest entry, no blob row) |
    orphan (blob row, no manifest entry) | unreadable (file won't parse).
    Orphan PID DIRS (no committed manifest rows at all) are ignored, same
    as decode — the manifest is the source of truth."""
    from parquet_toolkit_spark.sources.fs import DriverFS

    dfs = DriverFS(spark)
    man = read_manifest(spark, enc_dir)
    if man is None:
        raise FileNotFoundError(f"no manifest under {enc_dir}")
    committed = store.committed_pids(dfs, enc_dir)
    pid_files: list[tuple[int, str]] = [
        (pid, f)
        for pid, d in store.pid_dirs(dfs, os.path.join(enc_dir, store.BLOBS)
                                     ).items() if pid in committed
        for f, _sz in store.data_files(dfs, d)
    ]
    man_side = man.select("pid", "column",
                          F.col("checksum").alias("expected_sha"))
    if not pid_files:
        return man_side.select(
            "pid", "column", F.lit("missing_blob").alias("status"),
            "expected_sha", F.lit(None).cast("string").alias("actual_sha"),
        )

    task_rows = pa.table({
        "pid": pa.array([p for p, _ in pid_files], pa.int32()),
        "file": [f for _, f in pid_files],
    })
    scanned_schema = pa.schema([("pid", pa.int32()), ("column", pa.string()),
                                ("actual_sha", pa.string())])

    def scan_task(stripe: pa.Table) -> Iterator[pa.RecordBatch]:
        import hashlib

        from parquet_toolkit_spark.sources.fs import (
            task_open_ipc,
            task_read_table,
        )

        rows = {"pid": [], "column": [], "actual_sha": []}
        for task in stripe.to_pylist():
            pid, f = task["pid"], task["file"]
            try:
                if f.endswith(".arrow"):
                    t = task_open_ipc(f).read_all()
                else:
                    t = task_read_table([f])
                cols = t.column("column").to_pylist()
                blobs = t.column("blob")
                for i, name in enumerate(cols):
                    buf = blobs[i].as_buffer()
                    rows["pid"].append(pid)
                    rows["column"].append(name)
                    rows["actual_sha"].append(
                        hashlib.sha256(memoryview(buf)).hexdigest())
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


def _out_pa_type(ddl: str) -> pa.DataType | None:
    """Spark DDL simpleString -> the arrow type decode emits for it (the
    session timezone is pinned to UTC in runtime.py). None for nested
    shapes (struct/map/array<non-numeric>): those ride the codec layer's
    IPC path and keep their decoded arrow type verbatim — no cast."""
    m = {
        "string": pa.string(), "binary": pa.binary(), "bigint": pa.int64(),
        "int": pa.int32(), "smallint": pa.int16(), "tinyint": pa.int8(),
        "double": pa.float64(), "float": pa.float32(),
        "boolean": pa.bool_(), "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if ddl.startswith("array<") and ddl.endswith(">"):
        inner = _out_pa_type(ddl[6:-1])
        return pa.list_(inner) if inner is not None else None
    if ddl.startswith("decimal("):
        return _arrow_type_for(ddl)
    if ddl.startswith(("struct<", "map<")):
        return None
    return m[ddl]


def _decode_blob_file(fpath: str, wanted: set[str] | None = None
                      ) -> dict[str, pa.Array]:
    """One blob file -> {column: decoded arrow array}. Task-local IO
    (pyarrow IPC mmap or parquet), zero-copy per-row blob views (VERDICT
    r1: to_pylist copied every blob into a python bytes). `wanted` prunes
    columns — an unselected blob's pages never fault."""
    import numpy as np

    from parquet_toolkit_spark.codecs.chunk import to_arrow
    from parquet_toolkit_spark.codecs.container import decode_blob
    from parquet_toolkit_spark.sources.fs import task_open_ipc, task_read_table

    if fpath.endswith(".arrow"):
        bt = task_open_ipc(fpath).read_all()
    else:
        bt = task_read_table([fpath])
    names = bt.column("column").to_pylist()
    blob_arr = bt.column("blob").combine_chunks()
    bufs = blob_arr.buffers()
    odt = (np.int64 if pa.types.is_large_binary(blob_arr.type)
           else np.int32)  # parquet path reads 32-bit binary
    offs = np.frombuffer(
        bufs[1], dtype=odt, count=len(blob_arr) + blob_arr.offset + 1
    )[blob_arr.offset:]
    cols: dict[str, pa.Array] = {}
    for i, name in enumerate(names):
        if wanted is not None and name not in wanted:
            continue
        view = bufs[2].slice(int(offs[i]), int(offs[i + 1] - offs[i]))
        cols[name] = to_arrow(decode_blob(view))
    return cols


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
    orphan dirs that decode ignores and fsck_store reports.

    bloom_columns=None auto-detects: columns whose manifest stats carry a
    bloom keep one on the merged chunks.
    """
    from parquet_toolkit_spark.sources.fs import DriverFS

    dfs = DriverFS(spark)
    man = read_manifest(spark, enc_dir)
    if man is None:
        raise FileNotFoundError(f"no manifest under {enc_dir}")
    # one driver-side arrow read replaces three O(pids) collect jobs
    # (sizes, bloom columns, codec hints below)
    cols = ["pid", "column", "codec", "bytes_out", "stats_json"]
    mt = store.manifest_table(dfs, enc_dir, cols)
    mrows = list(zip(*(mt.column(c).to_pylist() for c in cols)))
    sizes: dict[int, int] = {}
    for p, _c, _cd, bo, _sj in mrows:
        sizes[p] = sizes.get(p, 0) + (bo or 0)
    if bloom_columns is None:
        bloom_columns = tuple(sorted(
            {c for _p, c, _cd, _bo, sj in mrows
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
        return man

    # member files in (pid, filename) order — concat preserves the sorted
    # layout's row order across adjacent pids. Orphan dirs count as live:
    # new pids must not collide with them
    live = store.pid_dirs(dfs, os.path.join(enc_dir, store.BLOBS))
    pid_files = {pid: [f for f, _ in store.data_files(dfs, d)]
                 for pid, d in live.items()}
    missing = [p for g in groups for p in g if not pid_files.get(p)]
    if missing:
        raise FileNotFoundError(
            f"manifest lists pids {missing} but no blob files exist; "
            "run fsck_store"
        )

    next_pid = max(set(live) | set(sizes)) + 1
    merged_pids = [p for g in groups for p in g]
    # codec hints from the MEMBERS' committed choices: re-gating a merged
    # chunk from scratch re-pays the FSST admission trial per (group,
    # column); the members already ran that gate on the same data, so
    # their codec set (plus the plain floor select_codec always honors)
    # is the candidate list — selection stays size-optimal among them
    merged_set = set(merged_pids)
    hints: dict[str, list[str]] = {}
    for p, c, cd, _bo, _sj in mrows:
        if p not in merged_set:
            continue
        hints.setdefault(c, [])
        if cd not in hints[c]:
            hints[c].append(cd)
    bins = [(next_pid + i, [f for p in g for f in pid_files[p]],
             sum(sizes[p] for p in g)) for i, g in enumerate(groups)]
    # largest merged bin (by ENCODED bytes, not path-string length —
    # code-review r4) first for balanced striping
    bins.sort(key=lambda b: -b[2])
    task_rows = pa.table({
        "pid": pa.array([p for p, _, _ in bins], pa.int32()),
        "files": [files for _, files, _ in bins],
    })

    tmp_dir = os.path.join(enc_dir, "_tmp")
    dfs.mkdirs(tmp_dir)

    def compact_task(stripe: pa.Table) -> Iterator[pa.RecordBatch]:
        from parquet_toolkit_spark.sources.fs import task_fs, task_write_ipc_atomic

        for task in stripe.to_pylist():
            new_pid = task["pid"]
            parts: dict[str, list[pa.Array]] = {}
            for f in task["files"]:
                for name, arr in _decode_blob_file(f).items():
                    parts.setdefault(name, []).append(arr)
            cols = {
                name: pa.chunked_array(arrs).combine_chunks()
                for name, arrs in parts.items()
            }
            batch = _rows_to_batch(_encode_columns(
                cols, new_pid, run_id, hints=hints,
                bloom_columns=bloom_columns))
            dest_dir = store.pid_dir(enc_dir, new_pid)
            wfs, dest_plain = task_fs(dest_dir)
            wfs.create_dir(dest_plain, recursive=True)
            task_write_ipc_atomic(
                pa.Table.from_batches([batch.drop_columns(["pid"])]),
                os.path.join(tmp_dir, f"pid-{new_pid}-{run_id}.arrow"),
                os.path.join(dest_dir, "part-0.arrow"),
            )
            yield batch.drop_columns(["blob"])

    new_rows = _striped_tasks(spark, task_rows, concurrency, compact_task,
                              _ROWS_DDL).toArrow()
    store.commit(dfs, enc_dir, new_rows, merged_pids,
                 store.read_schema_map(dfs, enc_dir))
    # post-commit cleanup: the manifest no longer references the members,
    # so a crash here leaves only ignorable orphans
    for p in merged_pids:
        dfs.delete(store.pid_dir(enc_dir, p), recursive=True)
    dfs.delete(tmp_dir, recursive=True)
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
    (zone-map pruning from the manifest's per-chunk min/max stats)."""
    from parquet_toolkit_spark.sources.fs import DriverFS

    dfs = DriverFS(spark)
    schema_map = store.read_schema_map(dfs, enc_dir)
    blobs_dir = os.path.join(enc_dir, store.BLOBS)

    # only manifest-committed pids are decoded: a crashed run may leave
    # orphan blob files with no manifest row (F5 parity: the manifest is
    # the source of truth, like the reference's alreadyMerged set). A store
    # with _schema.json but NO manifest is a broken commit — refuse rather
    # than resurrect orphan/partial blobs (ADVICE r2). Driver-side arrow
    # read: no Spark job for the O(pids) pid set.
    committed = store.committed_pids(dfs, enc_dir)
    if committed is None:
        raise FileNotFoundError(
            f"no manifest under {enc_dir}: encode commit incomplete; "
            "re-run encode_partitions(resume=True) to rebuild it"
        )
    if pids is not None:
        committed &= set(pids)
    pid_files = [(pid, f, sz)
                 for pid, d in store.pid_dirs(dfs, blobs_dir).items()
                 if pid in committed
                 for f, sz in store.data_files(dfs, d)]
    if not pid_files:
        raise FileNotFoundError(f"no committed blob files under {blobs_dir}")
    # largest-first for balanced striping
    pid_files.sort(key=lambda t: -t[2])
    task_rows = pa.table({
        "pid": pa.array([p for p, _, _ in pid_files], pa.int32()),
        "file": [f for _, f, _ in pid_files],
    })

    if columns is not None:
        unknown = set(columns) - set(schema_map)
        if unknown:
            raise KeyError(f"unknown columns {sorted(unknown)}")
        schema_map = {c: t for c, t in schema_map.items() if c in columns}
    # "int", not "integer": the DDL string feeds _out_pa_type's map too
    out_fields = [("pid", "int")] if keep_pid else []
    out_fields += list(schema_map.items())
    out_schema = ", ".join(f"`{c}` {t}" for c, t in out_fields)
    # arrow target per column; None = nested (struct/map/...): the IPC
    # round trip preserved the exact arrow type, emit it verbatim
    out_pa_types = {c: _out_pa_type(t) for c, t in out_fields}

    def decode_task(stripe: pa.Table) -> Iterator[pa.RecordBatch]:
        for task in stripe.to_pylist():
            cols = _decode_blob_file(task["file"], set(schema_map))
            nrows = len(next(iter(cols.values()))) if cols else 0
            arrays = []
            for c, t in out_fields:
                if c == "pid":
                    arrays.append(pa.array([task["pid"]] * nrows, pa.int32()))
                    continue
                pt = out_pa_types[c]
                arrays.append(cols[c] if pt is None else cols[c].cast(pt))
            table = pa.Table.from_arrays(
                arrays, names=[c for c, _ in out_fields])
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

    from parquet_toolkit_spark.sources.fs import DriverFS

    pids, stats = store.chunk_stats(DriverFS(spark), enc_dir, {column})
    if isinstance(lo, _dcm.Decimal) or isinstance(hi, _dcm.Decimal):
        # loud refusal kept from r6: Decimal bounds on a column with no
        # decimal zone maps means the caller is pruning the wrong column
        if not any((s.get("logical") or "").startswith("dec_")
                   for s in stats.values()):
            raise TypeError(
                f"Decimal bounds on {column!r}, but its chunks carry no "
                "decimal zone maps (is the column decimal-typed?)"
            )
    flts = []
    if lo is not None:
        flts.append(GreaterThanOrEqual((column,), lo))
    if hi is not None:
        flts.append(LessThanOrEqual((column,), hi))
    return store.admit_pids(pids, stats, flts)


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

    from parquet_toolkit_spark.sources.fs import DriverFS

    # shared admission (_chunk_admits): bloom probe + zone-map point
    # range, with the logical-unit handling (temporal units, decimal
    # mantissa scaling) applied consistently — a raw bloom probe with a
    # Decimal value would hash the unscaled value and could UNSOUNDLY
    # prune (r5)
    pids, stats = store.chunk_stats(DriverFS(spark), enc_dir, {column})
    return store.admit_pids(pids, stats, [EqualTo((column,), value)])


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


def decode_where(spark: SparkSession, enc_dir: str,
                 predicates: dict,
                 columns: list[str] | None = None,
                 keep_pid: bool = False,
                 concurrency: int | None = None) -> DataFrame:
    """Predicate-pushdown decode: one call composing every pruning layer
    the store offers — the blob-store analogue of a parquet scan with
    PushedFilters. Each predicate prunes pids at the METADATA layer
    (manifest stats; no blob IO), the intersected pid set is decoded with
    column pruning, and the same predicates re-apply row-level so the
    result is EXACT, not a superset.

    predicates: {column: spec} where spec is
      scalar            equality — bloom probe (if built) AND zone-map
                        point range, then a residual ==
      (lo, hi) tuple    range, either side None — zone maps + residual
      {"prefix": p}     string prefix — zone maps via the carry-safe
                        upper bound + residual startswith

    Pid sets intersect across predicates (each is a sound superset, so
    the intersection is too). Pruning evidence comes free from the
    manifest; columns without stats/blooms simply don't prune — the
    residual keeps the answer exact either way."""
    if not predicates:
        raise ValueError("decode_where needs at least one predicate; "
                         "use decode_pipeline for full scans")
    if any((not isinstance(s, (dict, tuple)) and s is None)
           for s in predicates.values()):
        raise ValueError(
            "decode_where equality on None has no SQL null-equality "
            "semantics (col == NULL matches nothing); filter nulls with "
            "decode_pipeline + isNull instead")

    # ONE manifest scan serves every predicate (a per-predicate
    # pids_matching_* call re-reads and re-collects the manifest — ~6
    # driver scans for 3 predicates on a 10^6-pid store; code-review
    # r4). Per-chunk admission is the data source's — same zone-map/
    # bloom/prefix evidence, one shared implementation.
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        LessThanOrEqual,
        StringStartsWith,
    )

    from parquet_toolkit_spark.sources.fs import DriverFS

    flts: list = []
    for col, spec in predicates.items():
        if isinstance(spec, dict) and "prefix" in spec:
            flts.append(StringStartsWith((col,), spec["prefix"]))
        elif isinstance(spec, tuple):
            lo, hi = spec
            if lo is not None:
                flts.append(GreaterThanOrEqual((col,), lo))
            if hi is not None:
                flts.append(LessThanOrEqual((col,), hi))
        else:
            flts.append(EqualTo((col,), spec))

    dfs = DriverFS(spark)
    pids = store.admit_pids(*store.chunk_stats(dfs, enc_dir, set(predicates)),
                            flts)

    pred_cols = list(predicates)
    want = columns
    if columns is not None:
        columns = list(dict.fromkeys(columns + pred_cols))
    if not pids:
        # fully pruned: an empty result with the store's schema, no IO
        schema_map = store.read_schema_map(dfs, enc_dir)
        keep_cols = columns if columns is not None else list(schema_map)
        ddl = ", ".join(
            ([f"pid int"] if keep_pid else [])
            + [f"`{c}` {schema_map[c]}" for c in keep_cols])
        df = spark.createDataFrame([], ddl)
    else:
        df = decode_pipeline(spark, enc_dir, keep_pid=keep_pid,
                             concurrency=concurrency, columns=columns,
                             pids=pids)
    for col, spec in predicates.items():
        if isinstance(spec, dict) and "prefix" in spec:
            df = df.where(F.col(col).startswith(spec["prefix"]))
        elif isinstance(spec, tuple):
            lo, hi = spec
            if lo is not None:
                df = df.where(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.where(F.col(col) <= F.lit(hi))
        else:
            df = df.where(F.col(col) == F.lit(spec))
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
