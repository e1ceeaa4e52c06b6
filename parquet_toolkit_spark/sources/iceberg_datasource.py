"""Spark Python Data Source (4.1 API) for filesystem Iceberg tables.

Registers the pure-python Iceberg layer (iceberg_compat) as a Catalyst
source:

    spark.dataSource.register(IcebergFsDataSource)
    spark.read.format("iceberg_fs").load(table_dir).where("lang = 'py'")
    spark.read.format("iceberg_fs").option("snapshot", "3").load(tdir)

Planning comes from iceberg_compat.scan_plan, the same plan read_data
executes: the snapshot the options select ("snapshot" or
"as-of-timestamp", never both), its pinned schema, rename aliases, live
files and equality-delete key names. This module resolves none of these
itself. It turns the pushed filters into the plan's file pruning, which
walks the metadata + Avro manifest layer driver-side (no nested Spark
jobs): equalities map to partition_filter (transform-aware — a filter on
a bucketed or day-partitioned SOURCE column prunes through the spec
transform) and to point range_filters over the manifest's per-file
column bounds; inequalities tighten the range_filters. All filters are
returned as residual — file pruning admits supersets, Spark applies the
exact predicate row-level.

Reads are task-local pyarrow with full merge-on-read semantics applied
PER TASK (no shuffle): positional deletes mask row indices of their
target file; equality deletes drop rows whose key tuple matches a
delete row with a strictly larger sequence number (null matches null,
per the spec). Identity partition columns absent from spec-partitioned
data files are re-injected from the manifest's partition record;
columns added by schema evolution null-fill for pre-evolution files.

The planner pickles the read function BEFORE partitions() runs (Spark
4.1 contract: only pushFilters may mutate reader state visible to
read), so every InputPartition is self-contained: its bundle of data
files plus the snapshot-level delete descriptors.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)

def _check_readable_types(schema_fields) -> None:
    """Refuse at PLANNING time any column type read() can't materialize:
    a schema this source advertises must be one it can deliver — a
    per-task KeyError is not an error message (code-review r4). Since r6
    nested struct/map/array AND decimal(p<=38) parse through ddl_to_arrow,
    so only out-of-grammar types (interval, variant, ...) refuse."""
    from parquet_toolkit_spark.sources.ddl import ddl_to_arrow

    bad = []
    for n, t, _r in schema_fields:
        try:
            ddl_to_arrow(t)
        except ValueError:
            bad.append(f"{n}:{t}")
    if bad:
        raise NotImplementedError(
            f"iceberg_fs cannot read column type(s) {bad}; use "
            "iceberg_compat.read_data for this table")


class IcebergFsReader(DataSourceReader):
    def __init__(self, path: str, snapshot: int | None):
        self.path = path
        self.snapshot = snapshot
        self.filters: list = []

    def pushFilters(self, filters):
        def _ok(v):
            return isinstance(v, (int, str)) and not isinstance(v, bool)

        for f in filters:
            if len(f.attribute) != 1:
                continue
            if isinstance(f, (EqualTo, GreaterThan, GreaterThanOrEqual,
                              LessThan, LessThanOrEqual)) and _ok(f.value):
                self.filters.append(f)
            elif isinstance(f, In) and f.value \
                    and all(_ok(v) for v in f.value) \
                    and len({type(v) for v in f.value}) == 1:
                # r6: IN prunes through the manifest bounds as the
                # [min(members), max(members)] bracket — a sound superset
                self.filters.append(f)
            elif isinstance(f, StringStartsWith) and f.value:
                # r6: prefix prunes as the range [prefix, smallest string
                # above every prefixed value] over the string bounds
                self.filters.append(f)
        return filters  # all residual: pruning is a superset optimization

    def _pruning_args(self) -> tuple[dict, dict]:
        part_filter: dict = {}
        ranges: dict[str, list] = {}
        for f in self.filters:
            col = f.attribute[0]
            lo, hi = ranges.get(col, [None, None])
            if isinstance(f, EqualTo):
                part_filter[col] = f.value
                lo = f.value if lo is None else max(lo, f.value)
                hi = f.value if hi is None else min(hi, f.value)
            elif isinstance(f, In):
                mlo, mhi = min(f.value), max(f.value)
                lo = mlo if lo is None else max(lo, mlo)
                hi = mhi if hi is None else min(hi, mhi)
            elif isinstance(f, StringStartsWith):
                from parquet_toolkit_spark.operators.encode import (
                    _prefix_upper_bound,
                )

                lo = f.value if lo is None else max(lo, f.value)
                ub = _prefix_upper_bound(f.value)
                if ub is not None:  # inclusive hi: sound (slightly loose)
                    hi = ub if hi is None else min(hi, ub)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                lo = f.value if lo is None else max(lo, f.value)
            else:
                hi = f.value if hi is None else min(hi, f.value)
            ranges[col] = [lo, hi]
        range_filter = {c: (lo, hi) for c, (lo, hi) in ranges.items()}
        return part_filter, range_filter

    def partitions(self):
        from parquet_toolkit_spark.sources.iceberg_compat import scan_plan
        from parquet_toolkit_spark.sources.ptsc_datasource import (
            bundle_by_size,
        )

        part_filter, range_filter = self._pruning_args()
        plan = scan_plan(self.path, self.snapshot, None,
                         partition_filter=part_filter or None,
                         range_filter=range_filter or None)
        md = plan["md"]
        _check_readable_types(md["schema_fields"])
        resolved_to_raw = {v: k for k, v in plan["raw_to_resolved"].items()}
        files = [{
            "path": p,
            "raw": resolved_to_raw.get(p, p),
            "seq": int(plan["data_seq"].get(p, 0)),
            "pvals": plan["partition_values"].get(p, {}),
            "size": os.path.getsize(p) if os.path.exists(p) else 0,
            "fmt": plan["file_formats"].get(p, "PARQUET"),
        } for p in plan["data"]]
        if not files:
            return []
        # rename evolution (r6): pre-rename data files carry a column
        # under its former name; read() falls back through the alias
        # chain per file
        shared = {
            "schema": [(n, t) for n, t, _r in md["schema_fields"]],
            "aliases": md["field_aliases"],
            "pos_deletes": plan["position_deletes"],
            "eq_deletes": plan["equality_deletes"],
        }
        return [InputPartition({"files": b, **shared})
                for b in bundle_by_size(files, size_of=lambda f: f["size"])]

    def read(self, partition):
        if partition is None:
            return  # empty partitions() list: Spark plans one None part
        import numpy as np
        import pyarrow as pa

        from parquet_toolkit_spark.sources.ddl import ddl_to_arrow
        from parquet_toolkit_spark.sources.iceberg_compat import (
            _norm_fp,
            datafile_columns_arrow,
        )

        spec = partition.value
        fields = [(n, ddl_to_arrow(t)) for n, t in spec["schema"]]
        out_schema = pa.schema(fields)

        # snapshot-level delete descriptors ride in EVERY partition; the
        # decoded forms are memoized per python worker (keyed by path +
        # mtime) so with worker reuse each delete file is read ~once per
        # worker, not once per bundle (code-review r4)
        pos_by_file = _pos_deletes_cached(tuple(spec["pos_deletes"]))
        aliases = spec["aliases"]
        eq_sets = [(d["seq"], d["keys"],
                    _eq_delete_rows_cached(d["path"], tuple(d["key_src"])))
                   for d in spec["eq_deletes"]]

        wanted = {n: (t, tuple(aliases.get(n, ())))
                  for n, t in spec["schema"]}
        for f in spec["files"]:
            # any spec data-file format (r6): the shared helper reads
            # PARQUET/ORC/AVRO, resolves rename aliases, and casts every
            # present column to the exact arrow shape Spark's Arrow
            # deserializer expects (child-field naming normalized)
            present, nrows = datafile_columns_arrow(
                f["path"], f.get("fmt", "PARQUET"), wanted)
            keep = np.ones(nrows, dtype=bool)
            dels = pos_by_file.get(_norm_fp(f["raw"])) \
                or pos_by_file.get(_norm_fp(f["path"]))
            if dels:
                idx = np.array([p for p in dels if 0 <= p < nrows],
                               dtype=np.int64)
                keep[idx] = False
            # assemble output columns first (partition re-injection +
            # evolution null-fill), then apply equality deletes on the
            # assembled values so delete keys on injected columns work
            cols = {}
            for name, typ in fields:
                if name in present:
                    cols[name] = present[name]
                elif name in f["pvals"]:
                    cols[name] = pa.array([f["pvals"][name]] * nrows,
                                          type=typ)
                else:
                    cols[name] = pa.nulls(nrows, type=typ)
            for seq, keys, rows in eq_sets:
                if not rows or f["seq"] >= seq:
                    continue  # deletes apply only to STRICTLY older data
                key_vals = list(zip(*(cols[k].to_pylist() for k in keys)))
                for i, kv in enumerate(key_vals):
                    if keep[i] and kv in rows:
                        keep[i] = False
            table = pa.Table.from_arrays([cols[n] for n, _ in fields],
                                         schema=out_schema)
            if not keep.all():
                table = table.filter(pa.array(keep))
            yield from table.to_batches(max_chunksize=32768)


_DELETE_CACHE: dict = {}


def _cache_key(path: str, extra=()) -> tuple:
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = 0
    return (path, mtime, extra)


def _pos_deletes_cached(paths: tuple) -> dict:
    """{normalized target path -> [pos...]} for a set of positional
    delete files, memoized per worker process."""
    import pyarrow.parquet as pq

    from parquet_toolkit_spark.sources.iceberg_compat import _norm_fp

    key = ("pos", tuple(_cache_key(p) for p in paths))
    hit = _DELETE_CACHE.get(key)
    if hit is None:
        hit = {}
        for dp in paths:
            t = pq.read_table(dp, columns=["file_path", "pos"])
            for fp, pos in zip(t.column("file_path").to_pylist(),
                               t.column("pos").to_pylist()):
                hit.setdefault(_norm_fp(fp), []).append(int(pos))
        _DELETE_CACHE.clear()  # one live entry: bounded worker memory
        _DELETE_CACHE[key] = hit
    return hit


def _eq_delete_rows_cached(path: str, columns: tuple) -> set:
    """Key-tuple set of one equality-delete file, read from the columns
    scan_plan resolved for it (a file written before a rename stores a
    key under a former name)."""
    import pyarrow.parquet as pq

    key = ("eq", _cache_key(path, columns))
    hit = _DELETE_CACHE.get(key)
    if hit is None:
        t = pq.read_table(path, columns=list(columns))
        hit = set(zip(*(t.column(c).to_pylist() for c in columns)))
        _DELETE_CACHE[key] = hit
    return hit


class IcebergFsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "iceberg_fs"

    def _pinned(self) -> dict:
        """Table metadata pinned to the snapshot the options select."""
        from parquet_toolkit_spark.sources.iceberg_compat import (
            pin_snapshot,
            read_table_metadata,
        )

        path = self.options.get("path")
        if not path:
            raise ValueError("iceberg_fs source needs .load(<table_dir>)")
        snap, ts = (self.options.get(k)
                    for k in ("snapshot", "as-of-timestamp"))
        return pin_snapshot(read_table_metadata(path, None), path,
                            None if snap is None else int(snap),
                            None if ts is None else int(ts))

    def schema(self) -> str:
        return ", ".join(f"`{n}` {t}"
                         for n, t, _r in self._pinned()["schema_fields"])

    def reader(self, schema) -> IcebergFsReader:
        return IcebergFsReader(self.options["path"],
                               self._pinned()["snapshot_id"])
