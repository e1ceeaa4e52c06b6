"""Layout engine: merge/compact, sort-by-key, split-by-size — the three
core behaviors of the reference toolkit, re-expressed as Spark plans.

Reference parity map (SURVEY.md §2):
  compact()      = SimpleParquetMerger / SimpleMultithreadedParquetMerger
                   (merge/SimpleMultithreadedParquetMerger.java:281-349
                   bin-packs input files to ~128MB chunks; here Catalyst's
                   file-scan coalescing + a size-targeted repartition do it)
  sort_by_key()  = SimpleParquetSorter / AdvancedParquetSorter /
                   BigParquetSorter (the SQLite ORDER BY spill engine,
                   sort/SortDataFactory.java:84-99, is exactly a
                   range shuffle + Spark's external sort; range_split
                   picks the range bounds on the driver)
  split_by_size()= SimpleParquetSplitter / MultithreadedParquetSplitter
                   (the 50k-record size probe, split/
                   MultithreadedParquetSplitter.java:152-170, becomes a
                   sampled avg(octet_length) estimate)

All functions are declarative DataFrame plans: predicate pushdown, column
pruning and AQE re-planning apply for free. The driver reads parquet
footers (row counts, widths) and, for a range layout, a bounded sample of
the key columns (at most _SAMPLE_ROWS rows from _SAMPLE_GROUPS row
groups); it collects no data beyond that.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_TARGET_BYTES = 128 << 20  # reference default chunk/row-group size


def _row_width_col(df: DataFrame):
    """Serialized row-width expression (uncompressed payload bytes)."""
    width_cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        t = f.dataType.simpleString()
        if t in ("string", "binary"):
            width_cols.append(F.coalesce(F.octet_length(c.cast("binary")), F.lit(0)))
        elif t in ("double", "bigint", "timestamp", "timestamp_ntz"):
            width_cols.append(F.lit(8))
        elif t in ("float", "int", "date"):
            width_cols.append(F.lit(4))
        elif t == "boolean":
            width_cols.append(F.lit(1))
        elif t.startswith("decimal("):
            width_cols.append(F.lit(16))  # decimal128 storage width
        else:  # arrays/structs: approximate via json rendering width
            width_cols.append(F.coalesce(F.octet_length(F.to_json(c)), F.lit(8)))
    return sum(width_cols[1:], width_cols[0])


def estimate_bytes_per_row(df: DataFrame, sample_rows: int = 50_000) -> float:
    """Sampled average serialized row width (uncompressed payload bytes).

    Spark-native version of the reference's probe: it writes the first 50k
    records to a temp file and divides (MultithreadedParquetSplitter.java:
    152-170). We instead sum octet_length over a row sample — no temp file,
    no driver materialization beyond one scalar.
    """
    sample = df.select(_row_width_col(df).alias("w")).limit(sample_rows)
    avg = sample.agg(F.avg("w")).first()[0]
    return float(avg or 1.0)


def sampled_width_and_rows(df: DataFrame, sample_rows: int = 50_000
                           ) -> tuple[float, int]:
    """(bytes/row, exact row count) in the FEWEST jobs: one job computes
    the sampled average width AND the sample size; only when the table is
    larger than the sample does a second (metadata-driven) count run —
    small tables pay one job instead of two."""
    sample = df.select(_row_width_col(df).alias("w")).limit(sample_rows)
    row = sample.agg(F.avg("w").alias("a"), F.count("*").alias("n")).first()
    bpr = float(row.a or 1.0)
    n = int(row.n or 0)
    if n < sample_rows:
        return bpr, n
    return bpr, df.count()


def _target_file_counts(df: DataFrame, target_bytes: int,
                        sample_rows: int = 50_000) -> tuple[int, int]:
    """(n_partitions, max_records_per_file) for a target output size."""
    bpr = estimate_bytes_per_row(df, sample_rows)
    n_rows = df.count()
    total = bpr * n_rows
    n_parts = max(1, math.ceil(total / target_bytes))
    max_records = max(1, int(target_bytes / max(bpr, 1.0)))
    return n_parts, max_records


def _footer_disk_bytes_per_row(sample: list[tuple[str, int]],
                               sample_files: int = 8) -> float | None:
    """ON-DISK (compressed) bytes/row from footer row counts of up to
    `sample_files` largest files — lets compact() size maxRecordsPerFile
    without a count job. None when no footer is readable."""
    import pyarrow as pa

    from parquet_toolkit_spark.sources.parquet_tools import read_footers

    picked = sorted(sample, key=lambda t: -t[1])[:sample_files]
    try:
        metas = read_footers([p for p, _sz in picked])
    except (OSError, pa.ArrowException):
        return None
    tot_rows = sum(md.num_rows for md in metas)
    if tot_rows <= 0:
        return None
    return sum(sz for _p, sz in picked) / tot_rows


def _footer_bytes_per_row(metas: list, sample_files: int = 8
                          ) -> float | None:
    """Serialized (encoded, pre-compression) bytes/row from parquet footer
    metadata — the probe closest to the reference's "write 50k records to
    a temp file and divide" (serialized record width), at zero scan cost:
    only the footers of up to `sample_files` files. None when they hold no
    row (caller falls back to the sampled row-width Spark job, which costs
    one scan of the first 50k rows)."""
    tot_bytes = tot_rows = 0
    for md in metas[:sample_files]:
        tot_bytes += sum(md.row_group(i).total_byte_size
                         for i in range(md.num_row_groups))
        tot_rows += md.num_rows
    if tot_rows <= 0:
        return None
    return tot_bytes / tot_rows


_PHYSICAL_WIDTH = {
    # Arrow in-memory width per value for parquet fixed physical types
    "BOOLEAN": 0.125, "INT32": 4.0, "FLOAT": 4.0,
    "INT64": 8.0, "DOUBLE": 8.0, "INT96": 12.0,
}


def _footer_decoded_bytes_per_row(metas: list, sample_files: int = 8
                                  ) -> float | None:
    """DECODED (in-memory Arrow) bytes/row from parquet footer metadata.

    The serialized probe (_footer_bytes_per_row) reports the dictionary/
    RLE-encoded page bytes, which under-counts what an encode scope
    actually holds in memory by the input's encoding ratio (4-5x on
    dictionary-heavy numeric tables). Fixed-width columns decode to
    exactly type-width x rows regardless of parquet encoding, so take
    that from the schema; variable-width (BYTE_ARRAY) columns keep the
    page-bytes estimate plus the 4-byte offset entry — text is normally
    plain-encoded, so its page bytes ARE close to the decoded bytes.
    Footers only, of up to `sample_files` files. None when they hold no
    row."""
    tot_bytes = 0.0
    tot_rows = 0
    for md in metas[:sample_files]:
        schema = md.schema
        widths = []
        for j in range(md.num_columns):
            phys = schema.column(j).physical_type
            if phys == "FIXED_LEN_BYTE_ARRAY":
                widths.append(float(schema.column(j).length or 16))
            else:
                widths.append(_PHYSICAL_WIDTH.get(phys))
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j, w in enumerate(widths):
                # num_values counts LEAF values (list/map columns
                # repeat per element; rg.num_rows would undercount
                # a 128-dim float list 128x)
                col = rg.column(j)
                if w is not None:
                    tot_bytes += w * col.num_values
                else:
                    tot_bytes += (col.total_uncompressed_size
                                  + 4 * col.num_values)
        tot_rows += md.num_rows
    if tot_rows <= 0:
        return None
    return tot_bytes / tot_rows


# ------------------------------------------------------- range splitters
#
# A range layout needs n-1 bounds on the key and a way to send every row
# to partition #{bounds <= key}. Spark's RangePartitioner samples the
# whole input in one or two jobs (every column is scanned) and seeds its
# re-sample from the RDD id, so its bounds change with session history.
# Here the driver picks the bounds from a bounded, deterministic sample
# of the key columns alone, read from the parquet footers' row groups,
# and the rows move in one hash shuffle whose partition i holds pid i.

#: the key sample: at most this many row groups, at most this many rows
_SAMPLE_GROUPS = 64
_SAMPLE_ROWS = 1 << 16


def input_footers(df: DataFrame) -> list[tuple[str, object]]:
    """(file, footer) of every parquet file `df` scans, sorted by path;
    [] when it scans none or a footer is unreadable. Driver-side, one
    footer read per file, no Spark job."""
    import pyarrow as pa

    from parquet_toolkit_spark.sources.parquet_tools import read_footers

    files = sorted(f for f in df.inputFiles()
                   if f.lower().endswith((".parq", ".parquet")))
    try:
        return list(zip(files, read_footers(files)))
    except (OSError, pa.ArrowException):
        return []


def _flat_parquet_files(spark: SparkSession, paths: list[str]
                        ) -> list[str] | None:
    """The files `spark.read.parquet(*paths)` scans, sorted, when every
    path is a parquet file or a flat directory of them (no subdirectory,
    so no partition discovery; names Spark hides skipped); None when
    anything else is there, or nothing is."""
    from parquet_toolkit_spark.sources.fs import DriverFS
    from parquet_toolkit_spark.sources.parquet_tools import PARQUET_SUFFIXES

    dfs = DriverFS(spark)
    files: list[str] = []
    for p in paths:
        if any(c in p for c in "*?[{"):
            return None  # a glob: Spark expands it
        if not dfs.is_dir(p):
            if not p.lower().endswith(PARQUET_SUFFIXES):
                return None
            files.append(p)
            continue
        if dfs.list_dirs(p):
            return None
        for f, _size in dfs.list_files(p):
            name = os.path.basename(f)
            if name.startswith(("_metadata", "_common_metadata")):
                return None  # Spark would infer from the summary file
            if name.startswith(".") or (name.startswith("_")
                                        and "=" not in name):
                continue
            if not name.lower().endswith(PARQUET_SUFFIXES):
                return None
            files.append(f)
    files.sort()
    return files if files and len(set(files)) == len(files) else None


def _footer_ddl(metas: list) -> str | None:
    """The Spark DDL schema Spark infers for files with these footers, or
    None unless every footer has one parquet schema whose every column
    maps exactly (no INT96, no unsigned or nanosecond type, no Spark type
    the row metadata gives otherwise)."""
    import json

    import pyarrow as pa

    from parquet_toolkit_spark.operators.encode import _ddl_of_arrow

    first = metas[0].schema
    if any(not md.schema.equals(first) for md in metas[1:]):
        return None
    if any(first.column(i).physical_type == "INT96"
           for i in range(len(first))):
        return None
    fields = []
    for f in first.to_arrow_schema():
        ddl = _ddl_of_arrow(f.type)
        if ddl is None or (pa.types.is_timestamp(f.type)
                           and f.type.unit == "ns"):
            return None
        fields.append((f.name, ddl))
    spark_meta = (metas[0].metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata")
    if spark_meta is not None:
        # Spark infers from its own row metadata when a file carries it
        from pyspark.sql.types import StructType

        try:
            written = StructType.fromJson(json.loads(spark_meta))
        except Exception:
            return None
        if [(f.name, f.dataType.simpleString()) for f in written] != fields:
            return None
    return ", ".join("`{}` {}".format(n.replace("`", "``"), ddl)
                     for n, ddl in fields)


def read_parquet_footed(spark: SparkSession, paths: list[str]
                        ) -> tuple[DataFrame, list[tuple[str, object]]]:
    """`spark.read.parquet(*paths)` and the (file, footer) list
    input_footers gives for it, each footer read once on the driver. When
    every path is a parquet file or a flat directory of them and the
    footers give one exactly-typed schema (_footer_ddl), the frame reads
    with that schema, so Spark runs no schema-inference job; otherwise
    Spark infers it as before."""
    import pyarrow as pa

    from pyspark.errors import ParseException

    from parquet_toolkit_spark.sources.parquet_tools import read_footers

    files = _flat_parquet_files(spark, paths)
    if files is not None:
        try:
            metas = read_footers(files)
        except (OSError, pa.ArrowException):
            metas = None
        ddl = _footer_ddl(metas) if metas else None
        if ddl is not None:
            try:
                return (spark.read.schema(ddl).parquet(*paths),
                        list(zip(files, metas)))
            except ParseException:
                pass
    df = spark.read.parquet(*paths)
    return df, input_footers(df)


def _footer_key_sample(df: DataFrame, keys: list[str],
                       footers: list[tuple[str, object]]):
    """(sampled key columns, rows each sampled row stands for) read from
    the files' row groups, or None when a key is not a top-level column,
    of the frame's type, of every sampled file. Row groups are picked by
    a fixed stride over the (path, row group) list, and each pick gives
    its first _SAMPLE_ROWS / picks rows: no RNG, so one input always
    gives one sample."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.operators.encode import _ddl_of_arrow
    from parquet_toolkit_spark.sources.fs import task_fs

    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    groups = [(f, md, i) for f, md in footers
              for i in range(md.num_row_groups) if md.row_group(i).num_rows]
    if not groups:  # no row: any bounds will do
        return pa.table({k: pa.array([]) for k in keys}), np.empty(0)
    n_picks = min(len(groups), _SAMPLE_GROUPS)
    picks = [groups[j * len(groups) // n_picks] for j in range(n_picks)]
    head = -(-_SAMPLE_ROWS // n_picks)
    tables, weights = [], []
    for f, md, i in picks:
        schema = md.schema.to_arrow_schema()
        if any(k not in schema.names
               or _ddl_of_arrow(schema.field(k).type) != types[k]
               for k in keys):
            return None
        fs, plain = task_fs(f)
        pf = pq.ParquetFile(fs.open_input_file(plain), metadata=md)
        b = next(pf.iter_batches(batch_size=head, row_groups=[i],
                                 columns=list(keys)))
        tables.append(pa.Table.from_batches([b]).select(list(keys)))
        weights.append(np.full(b.num_rows,
                               md.row_group(i).num_rows / b.num_rows))
    return (pa.concat_tables(tables, promote_options="permissive"),
            np.concatenate(weights))


def _order_key(bound: tuple) -> tuple:
    """Sort key that orders bound tuples as Catalyst orders the struct of
    their values: null first, NaN above every number."""
    return tuple((0,) if v is None else (2,) if v != v else (1, v)
                 for v in bound)


def range_bounds(sample, weights, n: int, descending: bool = False
                 ) -> list[tuple]:
    """n-1 weighted quantiles of the sampled key rows, sorted in the
    partition order (ascending, or descending for `descending`)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if n <= 1 or sample.num_rows == 0:
        return []
    sample = sample.combine_chunks()  # halves the multi-key sort
    order = pc.sort_indices(
        sample, sort_keys=[(k, "descending" if descending else "ascending")
                           for k in sample.column_names],
        null_placement="at_end" if descending else "at_start")
    cum = np.cumsum(weights[order.to_numpy()])
    picks = np.searchsorted(cum, cum[-1] * np.arange(1, n) / n, side="right")
    rows = sample.take(order.take(pa.array(picks))).to_pylist()
    return sorted((tuple(r.values()) for r in rows), key=_order_key,
                  reverse=descending)


def _sql_literal(v, ddl: str) -> str:
    """SQL text of the value `v` of Spark type `ddl`. Strings and bytes
    go through hex, so no value needs escaping; every other atomic value
    is its str() cast to the type (numbers, NaN/inf, decimals, ISO dates
    and timestamps with their offset)."""
    if v is None:
        return f"CAST(NULL AS {ddl})"
    if isinstance(v, str):
        v = v.encode()
    if isinstance(v, bytes):
        return f"CAST(X'{v.hex()}' AS {ddl})"
    return f"CAST('{v}' AS {ddl})"


def range_pid(df: DataFrame, keys: list[str], bounds: list[tuple],
              descending: bool = False):
    """Column: the pid of each row, #{bounds <= key} (#{bounds >= key}
    for `descending`), by binary search over the sorted bounds with
    struct comparisons, so a null key field sorts first as in Catalyst's
    ordering. Monotone in Catalyst's order of the key whatever the bound
    values, so output order never depends on them; they decide balance
    only. Built as one SQL expression (one driver round trip, not one per
    Column call): size O(n), evaluation O(log n) per row."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    key = "struct({})".format(", ".join(
        "`{}`".format(k.replace("`", "``")) for k in keys))
    op = ">=" if descending else "<="

    def search(lo: int, hi: int) -> str:
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        bound = "struct({})".format(", ".join(
            _sql_literal(v, types[k]) for k, v in zip(keys, bounds[mid])))
        return (f"CASE WHEN {bound} {op} {key} THEN {search(mid + 1, hi)}"
                f" ELSE {search(lo, mid)} END")

    return F.expr(search(0, len(bounds)))


def _murmur3_int(x):
    """Spark's Murmur3_x86_32.hashInt(x, seed=42), i.e. F.hash of an int
    column, vectorized over an int array; int32 results."""
    import numpy as np

    h = (np.asarray(x, np.int64) & 0xFFFFFFFF).astype(np.uint32)
    with np.errstate(over="ignore"):
        h *= np.uint32(0xCC9E2D51)
        h = (h << np.uint32(15)) | (h >> np.uint32(17))
        h *= np.uint32(0x1B873593)
        h ^= np.uint32(42)
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(4)
        h ^= h >> np.uint32(16)
        h *= np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h *= np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h.view(np.int32)


def hash_slots(n: int) -> list[int]:
    """slots[p] is the smallest int >= 0 that hash partitioning into n
    partitions (pmod(hash(k), n)) sends to partition p."""
    import numpy as np

    slots = [-1] * n
    need, start = n, 0
    while need:
        ids = np.arange(start, start + 4 * n + 64)
        part = _murmur3_int(ids).astype(np.int64) % n
        uniq, first = np.unique(part, return_index=True)
        for p, i in zip(uniq.tolist(), first.tolist()):
            if slots[p] < 0:
                slots[p] = int(ids[i])
                need -= 1
        start += len(ids)
    return slots


def place_by_pid(df: DataFrame, pid, n: int) -> DataFrame:
    """`df` in n partitions where partition p holds the rows whose `pid`
    Column (an int in [0, n)) is p: one hash shuffle on hash_slots(n)[pid],
    with no sampling job."""
    slots = F.expr("array({})".format(", ".join(map(str, hash_slots(n)))))
    return df.repartition(n, F.element_at(slots, pid + 1))


def range_split(df: DataFrame, keys: list[str], n: int,
                footers: list[tuple[str, object]], n_rows: int | None,
                descending: bool = False) -> DataFrame:
    """`df` range-partitioned on `keys` into exactly n partitions, where
    partition p holds the rows of pid p (see range_pid): rows of a lower
    pid sort before every row of a higher one.

    The bounds come from the key columns of the input's row groups
    (`footers`, from input_footers) with no Spark job; when the frame
    scans no parquet file or a key is not a top-level file column, from
    one key-pruned, seeded Spark sample (plus a count when `n_rows` is
    None). The rows then move in one hash shuffle (place_by_pid)."""
    import numpy as np

    keys = list(keys)
    nested = [f.name for f in df.schema.fields if f.name in keys
              and f.dataType.simpleString().startswith(
                  ("array<", "struct<", "map<"))]
    if nested:
        raise TypeError(f"range keys must be atomic columns: {nested}")
    got = _footer_key_sample(df, keys, footers) if footers else None
    if got is None:
        if n_rows is None:
            n_rows = df.count()
        frac = min(1.0, _SAMPLE_ROWS / max(n_rows, 1))
        sample = df.select(*keys).sample(False, frac, seed=0).toArrow()
        got = sample, np.full(sample.num_rows,
                              n_rows / max(sample.num_rows, 1))
    pid = range_pid(df, keys, range_bounds(*got, n, descending), descending)
    return place_by_pid(df, pid, n)


def compact(spark: SparkSession, in_path: str | list[str], out_path: str,
            target_bytes: int = DEFAULT_TARGET_BYTES,
            compression: str = "snappy") -> dict:
    """Merge many small parquet files into ~target_bytes outputs, SHUFFLE-FREE.

    UNION-ALL multiset semantics (same as record-by-record copy in
    SimpleMergeThread.java:97-207); empty input files are skipped by the
    scan automatically (M6 parity).

    The reference bin-packs input FILE LISTS into ~chunk-size merge tasks
    without moving rows between tasks (SimpleMultithreadedParquetMerger.
    java:291-321). The Spark-native equivalent: scan with fine granularity
    (maxPartitionBytes <= target, low openCost so tiny files pack by bytes),
    then coalesce to ceil(disk_bytes / target) bins — coalesce merges
    ADJACENT scan partitions in the same task with zero shuffle, so each
    write task streams ~target bytes straight to one output file. At 100 TB
    a repartition() here would shuffle every byte (VERDICT r1 anti-pattern
    #1); this plan moves none. pyarrow/parquet-mr-free zero-decode append
    (TreeMergeThread.java:116 appendFile) is not exposed by Spark's writer,
    so rows decode+re-encode inside the task — same as the reference's
    SimpleMergeThread row path, and what allows codec/row-group re-tuning.
    """
    from parquet_toolkit_spark.sources.fs import DriverFS

    paths = [in_path] if isinstance(in_path, str) else list(in_path)
    fs = DriverFS(spark)
    # RECURSIVE sizing (ADVICE r2): a partitioned/nested input dir read 0
    # bytes from the flat listing, collapsing the whole dataset into one
    # coalesce(1) task with an unbounded maxRecordsPerFile
    disk_bytes = 0
    sample: list[tuple[str, int]] = []
    for p in paths:
        if p.lower().endswith((".parq", ".parquet")) and not fs.exists(
                os.path.join(p, "_SUCCESS")):
            sz = fs.file_size(p)
            disk_bytes += sz
            sample.append((p, sz))
        else:
            disk_bytes += fs.total_size_recursive(p)
            sample.extend(
                (f, sz) for f, sz in fs.list_files(p)
                if f.lower().endswith((".parq", ".parquet")))
    n_bins = max(1, math.ceil(disk_bytes / target_bytes))

    # isolated child session (shared SparkContext, private SQLConf): the
    # scan-granularity confs below must never leak into concurrent queries
    # planned on the caller's session (VERDICT r2 anti-pattern #2)
    sess = spark.newSession()
    # scan granularity <= target (so SPLITTING a big file works: scan
    # chops at row-group boundaries); openCost low so tiny files pack
    # by bytes, not by count; then coalesce — NOT repartition — merges
    # adjacent scan partitions into exactly n_bins write tasks
    sess.conf.set("spark.sql.files.maxPartitionBytes", str(target_bytes))
    sess.conf.set("spark.sql.files.openCostInBytes", str(64 << 10))
    df = sess.read.parquet(*paths)
    # maxRecordsPerFile rolls oversize bins (e.g. one unsplittable
    # row group bigger than target) into multiple files WITHIN a task
    # — the reference splitter's roll-at-target behavior
    # (SimpleParquetSplitter.java:118-130); sized from ON-DISK bytes
    # per row so compressed in ~= compressed out. bytes/row comes from
    # footer row counts of sampled files (guide §1.2: the footers
    # already know), so the common path runs ZERO jobs before the write;
    # a count job remains only as the fallback for unreadable footers
    # or nested layouts the flat sample missed.
    disk_bpr = _footer_disk_bytes_per_row(sample) if sample else None
    if disk_bytes <= 0:
        # zero-byte listing despite rows (exotic fs): fall back to the
        # sampled row-width estimate instead of an unbounded file size
        n_bins, max_records = _target_file_counts(df, target_bytes)
    elif disk_bpr is not None:
        max_records = max(1, math.ceil(target_bytes / disk_bpr))
    else:
        n_rows = df.count()  # metadata-driven vectorized count, no decode
        disk_bpr = disk_bytes / max(1, n_rows)
        max_records = max(1, math.ceil(target_bytes / disk_bpr))
    (
        df.coalesce(n_bins)
        .write.mode("overwrite")
        .option("compression", compression)
        .option("maxRecordsPerFile", max_records)
        .parquet(out_path)
    )
    return {"target_bytes": target_bytes, "n_bins": n_bins,
            "disk_bytes_in": disk_bytes, "max_records_per_file": max_records}


def sort_by_key(spark: SparkSession, in_path: str | list[str], out_path: str,
                keys: list[str], target_bytes: int = DEFAULT_TARGET_BYTES,
                compression: str = "snappy",
                descending: bool = False) -> dict:
    """Globally sort by `keys` into ~target_bytes files.

    Typed native ordering (documented divergence: the reference compares
    the string rendering of keys, SortThread.java:37, and hard-errors on
    null keys, DMCMemoryData.java:68-70; we use Catalyst ordering with
    NULLS FIRST; descending=True sorts every key descending, NULLS LAST).

    One range shuffle on driver-picked bounds (range_split), then a sort
    within each partition: file i holds the i-th key range. The footers,
    read once (read_parquet_footed), give the schema, the exact row count
    and the width, so nothing is scanned before the shuffle.
    """
    paths = [in_path] if isinstance(in_path, str) else list(in_path)
    df, footers = read_parquet_footed(spark, paths)
    n_rows = sum(md.num_rows for _f, md in footers)
    bpr = _footer_bytes_per_row([md for _f, md in footers])
    if bpr is not None:
        n_parts = max(1, math.ceil(bpr * n_rows / target_bytes))
        max_records = max(1, int(target_bytes / max(bpr, 1.0)))
    else:
        n_parts, max_records = _target_file_counts(df, target_bytes)
    cols = [F.col(k).desc() if descending else F.col(k).asc() for k in keys]
    (
        range_split(df, keys, n_parts, footers,
                    n_rows if footers else None, descending)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .option("compression", compression)
        .option("maxRecordsPerFile", max_records)
        .parquet(out_path)
    )
    return {"n_partitions": n_parts, "max_records_per_file": max_records}


def split_by_size(spark: SparkSession, in_path: str | list[str], out_path: str,
                  target_bytes: int, compression: str = "snappy",
                  strict: bool = False) -> dict:
    """Split large file(s) into <= target_bytes outputs (P1/P2 parity).

    Default is a no-op-safe repartition (documented divergence); pass
    strict=True for the reference's refusal when the input is not larger
    than the chunk size (SimpleParquetSplitter.java:89-91) — ported
    scripts that rely on the guard keep it."""
    if strict:
        from parquet_toolkit_spark.sources.fs import DriverFS

        fs = DriverFS(spark)
        paths = [in_path] if isinstance(in_path, str) else list(in_path)
        disk = sum(
            fs.file_size(p) if p.lower().endswith((".parq", ".parquet"))
            else fs.total_size_recursive(p)
            for p in paths
        )
        if disk <= target_bytes:
            raise ValueError(
                f"split_by_size(strict=True): input is {disk} bytes, not "
                f"larger than target_bytes={target_bytes} — nothing to "
                "split (reference refusal, SimpleParquetSplitter.java:89-91)"
            )
    return compact(spark, in_path, out_path, target_bytes, compression)


def rewrite(spark: SparkSession, in_path: str, out_path: str,
            compression: str = "gzip",
            row_group_bytes: int = 128 << 20) -> dict:
    """S8 parity: read whole input, rewrite recompressed with target row
    groups (ParquetFile.rewrite, ParquetFile.java:46-83 — GZIP + 128MB)."""
    df = spark.read.parquet(in_path)
    (
        df.write.mode("overwrite")
        .option("compression", compression)
        .option("parquet.block.size", str(row_group_bytes))
        .parquet(out_path)
    )
    return {"rows": spark.read.parquet(out_path).count()}


def compact_in_place(spark: SparkSession, folder: str,
                     target_bytes: int = DEFAULT_TARGET_BYTES,
                     compression: str = "snappy") -> dict:
    """M7/F4 parity: compact a folder onto itself with the reference's
    in-place safety protocol — write to a sibling temp dir, swap by rename,
    delete the originals only after the swap (the reference renames the
    input dir to `_name` during the job and deletes inputs at the end,
    ParquetMergerImpl.java:90-110, SimpleMultithreadedParquetMerger.java:
    233-276,392-426)."""
    from parquet_toolkit_spark.sources.fs import DriverFS

    fs = DriverFS(spark)
    tmp_out = folder.rstrip("/") + "_compacting"
    old = folder.rstrip("/") + "_old"
    info = compact(spark, folder, tmp_out, target_bytes, compression)
    fs.rename(folder, old)
    fs.rename(tmp_out, folder)
    fs.delete(old, recursive=True)
    return info
