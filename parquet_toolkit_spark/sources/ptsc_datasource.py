"""Spark Python Data Source (4.1 API) for the PTSC blob store.

Registers the encoded store as a first-class Catalyst source:

    spark.dataSource.register(PtscDataSource)
    spark.read.format("ptsc").load(enc_dir).where("doc_id <= 100")

Planning calls `pushFilters` with the query's conjunctive filters; the
reader prunes PIDS at the manifest layer (int/string zone maps, prefix
bounds, per-chunk blooms — the same evidence decode_where uses) and
returns every filter as residual, because pid pruning is a SUPERSET
optimization: Spark re-applies the predicates row-level, so results are
exact while pruned partitions cost zero blob IO. The admitted pid files
come from the store's one read plan (store.read_plan: one manifest read,
no listing) and are bundled into at most MAX_PARTITIONS input
partitions, each carrying the plan's schema, so a task reads no driver
filesystem; a lost committed pid file fails the read. Reads yield Arrow
batches through the store's one pid-file reader, encode._read_pid
(memory-mapped IPC, zero-copy blob views), and writes go through its one
writer, encode._write_pid.

Driver-side planning reads the manifest with pyarrow directly — no
nested Spark jobs during query planning, and the reader stays picklable.

Session requirement: because PtscReader implements pushFilters, Spark
refuses to plan any format("ptsc") read (DATA_SOURCE_PUSHDOWN_DISABLED)
unless spark.sql.python.filterPushdown.enabled is true. Spark's default
is false; runtime.spark_builder_defaults sets it, and a session built
without it must set it before the first read.

Capability note: the 4.1 Python source API pushes FILTERS only (no
column pruning); narrow projections that want column pruning should use
decode_pipeline/decode_where, which fault only the selected columns'
pages. Narrow lookups belong on decode_where: a small one runs on the
driver with no Python task, while every format("ptsc") action plans in
Spark's Python planner processes and reads in Python tasks.
"""

from __future__ import annotations

import os

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)

from parquet_toolkit_spark.sources import store
from parquet_toolkit_spark.sources.fs import DriverFS

_RANGE_FILTERS = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
                  LessThanOrEqual, StringStartsWith,
                  # r6: membership and null-presence evidence
                  In, IsNull, IsNotNull, EqualNullSafe)

MAX_PARTITIONS = 64


def bundle_by_size(items: list, size_of, max_partitions: int = MAX_PARTITIONS
                   ) -> list[list]:
    """Largest-first size-striped bundling shared by both Python data
    sources: each read() is a python-worker round trip, so a fragmented
    store must not become one task per file. Returns non-empty bundles,
    at most max_partitions of them, balanced by size_of(item)."""
    if not items:
        return []
    n = min(len(items), max_partitions)
    bundles: list[list] = [[] for _ in range(n)]
    loads = [0] * n
    for it in sorted(items, key=size_of, reverse=True):
        i = loads.index(min(loads))
        bundles[i].append(it)
        loads[i] += size_of(it)
    return [b for b in bundles if b]


_TS_UNIT_US = {"ts_s": 1_000_000, "ts_ms": 1_000, "ts_us": 1, "ts_ns": None}


def _temporal_to_stat_units(v, logical: str | None):
    """datetime/date filter value -> the integer axis the chunk's zone
    map uses, or None when no sound comparison exists (plain int column,
    unit-less legacy stats, or a unit we won't scale exactly).

    Truncation to a coarser axis (datetime -> date) is pruning-safe:
    the derived bound admits a superset and the residual stays exact."""
    import datetime as _dt

    if logical == "date":
        d = v.date() if isinstance(v, _dt.datetime) else v
        return (d - _dt.date(1970, 1, 1)).days
    if logical in _TS_UNIT_US:
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        else:
            v = _dt.datetime(v.year, v.month, v.day)
        delta = v - _dt.datetime(1970, 1, 1)
        # exact integer microseconds (total_seconds() is float64 and
        # loses sub-second resolution at far-future epochs)
        us = ((delta.days * 86_400 + delta.seconds) * 1_000_000
              + delta.microseconds)
        scale = _TS_UNIT_US[logical]
        if scale is None:
            return us * 1_000  # ns
        return us // scale if scale > 1 else us
    return None


def _chunk_admits(stats: dict, flt) -> bool:
    """Can this (pid, column) chunk hold rows matching `flt`? Missing
    evidence always admits — pruning must stay sound."""
    if isinstance(flt, IsNull):
        # profiler stats always carry nrows/nvalid: a chunk with zero
        # nulls definitely holds no IS NULL match
        nr, nv = stats.get("nrows"), stats.get("nvalid")
        return nr is None or nv is None or nv < nr
    if isinstance(flt, IsNotNull):
        nv = stats.get("nvalid")
        return nv is None or nv > 0
    if isinstance(flt, In):
        # admit iff ANY member value could be present (zone maps + bloom
        # per value — sound: the union of sound point admissions).
        # In.value is the tuple of members; a null member admits (the
        # zone/bloom evidence says nothing about nulls)
        return any(v is None or _chunk_admits(stats, EqualTo(flt.attribute, v))
                   for v in flt.value)
    if isinstance(flt, EqualNullSafe):
        if flt.value is None:
            return _chunk_admits(stats, IsNull(flt.attribute))
        return _chunk_admits(stats, EqualTo(flt.attribute, flt.value))
    if isinstance(flt, StringStartsWith):
        from parquet_toolkit_spark.operators.encode import _prefix_upper_bound

        smin, smax = stats.get("smin"), stats.get("smax")
        if smin is None or smax is None:
            return True
        hi = _prefix_upper_bound(flt.value)
        return smax >= flt.value and (hi is None or smin <= hi)
    import datetime as _dt

    v = flt.value
    if isinstance(v, bool):
        return True  # int stats exist but booleans aren't zone-mapped
    if isinstance(v, (_dt.datetime, _dt.date)):
        # temporal values compare ONLY against chunks whose stats carry
        # the matching logical-unit marker — timestamps store source-unit
        # epoch ints, dates store day numbers, and a plain int column is
        # not a time axis at all (code-review r4: comparing epoch-µs to
        # day numbers pruned every chunk; old stores without the marker
        # always admit)
        v = _temporal_to_stat_units(v, stats.get("logical"))
        if v is None:
            return True
    import decimal as _dcm

    logical = stats.get("logical") or ""
    if logical.startswith("dec_"):
        # decimal mantissa zone maps ($.min/$.max unscaled): scale the
        # predicate value exactly (Decimal/int/float all convert without
        # rounding; Decimal-vs-int comparisons below are exact). scaleb
        # under the DEFAULT context rounds to 28 significant digits —
        # silent corruption for p>28 mantissas (r6) — so scale under an
        # explicit wide context
        if isinstance(v, (_dcm.Decimal, int, float)) \
                and not isinstance(v, bool):
            q = _dcm.Decimal(v).scaleb(int(logical[4:]),
                                       _dcm.Context(prec=80))
            if q == q.to_integral_value():
                v = int(q)  # exact mantissa: zone maps AND bloom probe
            elif isinstance(flt, EqualTo):
                if isinstance(v, float):
                    # a double predicate non-integral at the chunk scale
                    # can still match after Spark's decimal->double
                    # promotion (0.1 == decimal 0.10): Decimal(v) expands
                    # the binary value, so integrality proves nothing —
                    # admit and let the residual predicate decide
                    return True
                # exact Decimal/int predicate unrepresentable at this
                # scale: no column value can equal it — definitely absent
                return False
            else:
                v = q  # fractional range bound: exact Decimal-vs-int
        else:
            return True
    elif isinstance(v, _dcm.Decimal):
        return True  # decimal value, non-decimal evidence: admit
    elif not isinstance(v, (int, float, str)):
        return True  # no comparable zone evidence for this value type
    if isinstance(v, str):
        lo, hi = stats.get("smin"), stats.get("smax")
    elif "fmin" in stats or "fmax" in stats or stats.get("has_special"):
        # float evidence (int AND float predicate values both compare
        # exactly against it in python); chunks holding NaN/inf are
        # always admitted — bounds exclude specials
        if stats.get("has_special"):
            return True
        lo, hi = stats.get("fmin"), stats.get("fmax")
    else:
        # int evidence; python int/float comparisons are exact, so a
        # float predicate value needs no ceil/floor adjustment here
        lo, hi = stats.get("min"), stats.get("max")
    if lo is None or hi is None:
        admit = True
    elif isinstance(flt, EqualTo):
        admit = lo <= v <= hi
    elif isinstance(flt, GreaterThan):
        admit = hi > v
    elif isinstance(flt, GreaterThanOrEqual):
        admit = hi >= v
    elif isinstance(flt, LessThan):
        admit = lo < v
    else:  # LessThanOrEqual
        admit = lo <= v
    if admit and isinstance(flt, EqualTo) and stats.get("bloom") is not None:
        from parquet_toolkit_spark.codecs.bloom import bloom_might_contain

        admit = bloom_might_contain(stats["bloom"], v,
                                    stats.get("bloom_kind", "bin"))
    return admit


class PtscReader(DataSourceReader):
    def __init__(self, path: str):
        self.path = path
        self.filters: list = []

    def pushFilters(self, filters):
        # keep the single-column comparisons we have zone/bloom evidence
        # for; EVERY filter (kept or not) is returned as residual — pid
        # pruning admits supersets, Spark applies the exact predicate
        for f in filters:
            if isinstance(f, _RANGE_FILTERS) and len(f.attribute) == 1:
                self.filters.append(f)
        return filters

    def partitions(self):
        from parquet_toolkit_spark.operators.encode import _spark_schema

        plan = store.read_plan(DriverFS(), self.path, filters=self.filters)
        if plan is None:
            raise FileNotFoundError(f"no manifest under {self.path}")
        schema = _spark_schema(plan.schema_map)
        return [InputPartition((schema, [f for _p, f, _b in b]))
                for b in bundle_by_size(plan.files, size_of=lambda t: t[2])]

    def read(self, partition):
        # an empty partitions() list (every pid pruned) reaches read as
        # one None partition — Spark's planner contract, not an error
        if partition is None:
            return
        from parquet_toolkit_spark.operators.encode import _read_pid

        schema, files = partition.value
        for fpath in files:
            yield from _read_pid(fpath, schema).to_batches(
                max_chunksize=32768)


@dataclass
class PtscCommitMessage(WriterCommitMessage):
    rows: object = None  # the task's manifest rows (a RecordBatch) or None


class PtscWriter(DataSourceArrowWriter):
    """df.write.format("ptsc").save(dir) — each task codec-encodes its
    Spark partition into one pid file through encode._write_pid (the
    store's one writer); the driver commit swap-commits the manifest and
    the schema map.

    The caller owns the partitioning: a plain write encodes whatever
    partitions the plan produced — use encode_pipeline for the
    range-partition + sort layout semantics. Pids start at
    store.next_pid (ids never reused); overwrite replaces the whole
    manifest and deletes the old pid directories after the swap, like
    compact_store's delete-inputs protocol."""

    def __init__(self, path: str, schema_map: dict[str, str],
                 base_pid: int, old_pid_dirs: list[str],
                 overwrite: bool):
        self.path = path
        self.schema_map = schema_map
        self.base_pid = base_pid
        self.old_pid_dirs = old_pid_dirs
        self.overwrite = overwrite

    def write(self, iterator):
        import pyarrow as pa

        from pyspark import TaskContext

        from parquet_toolkit_spark.operators.encode import _write_pid

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return PtscCommitMessage()
        pid = self.base_pid + TaskContext.get().partitionId()
        return PtscCommitMessage(rows=_write_pid(
            self.path, pid, pa.Table.from_batches(batches), run_id="dsw"))

    def commit(self, messages):
        import shutil

        import pyarrow as pa

        rows = pa.Table.from_batches(
            [m.rows for m in messages if m is not None and m.rows is not None],
            schema=store.ROWS_SCHEMA)
        # overwrite carries no committed row over; append carries them all
        store.commit(DriverFS(), self.path, rows,
                     None if self.overwrite else [], self.schema_map)
        if self.overwrite:
            for d in self.old_pid_dirs:  # delete-inputs, post-commit
                shutil.rmtree(d, ignore_errors=True)

    def abort(self, messages):
        import shutil

        for m in messages or []:
            if m is not None and m.rows is not None:
                for pid in set(m.rows.column("pid").to_pylist()):
                    shutil.rmtree(store.pid_dir(self.path, pid),
                                  ignore_errors=True)
        shutil.rmtree(os.path.join(self.path, store.TMP), ignore_errors=True)


class PtscDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ptsc"

    def schema(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("ptsc source needs .load(<enc_dir>)")
        schema_map = store.read_schema_map(DriverFS(), path)
        return ", ".join(f"`{c}` {t}" for c, t in schema_map.items())

    def reader(self, schema) -> PtscReader:
        return PtscReader(self.options["path"])

    def writer(self, schema, overwrite: bool) -> PtscWriter:
        from parquet_toolkit_spark.sources.fs import (
            has_scheme,
            strip_local_scheme,
        )

        path = self.options.get("path")
        if not path:
            raise ValueError("ptsc sink needs .save(<enc_dir>)")
        # plan-time refusal (ADVICE r6): the writer's driver-side
        # planning/commit uses local filesystem calls, while task-side
        # blob writes route through the pyarrow shim — handed a remote
        # scheme, blobs would land remotely and the commit would create a
        # literal local 's3a:/...' directory: a torn store with no error.
        path = strip_local_scheme(path)
        if has_scheme(path):
            raise ValueError(
                f"ptsc write path {path!r} has a non-local scheme: the "
                "ptsc writer's driver-side commit is local-filesystem-"
                "only; write to a local path and sync the committed "
                "store, or use encode_pipeline (scheme-agnostic)")
        schema_map = {f.name: f.dataType.simpleString()
                      for f in schema.fields}
        from parquet_toolkit_spark.sources.ddl import ddl_to_arrow

        for n, t in schema_map.items():
            try:
                ddl_to_arrow(t)  # refuse out-of-grammar types at PLAN time
            except ValueError as ex:
                raise ValueError(
                    f"ptsc cannot encode column {n}:{t} ({ex})")
        dfs = DriverFS()
        try:
            existing = store.read_schema_map(dfs, path)
        except FileNotFoundError:
            existing = None  # a fresh store
        if existing is not None and not overwrite and existing != schema_map:
            raise ValueError(
                f"schema mismatch appending to ptsc store {path}: "
                f"store has {existing}, dataframe has {schema_map}")
        # fresh pids (never reused); overwrite also starts there so new
        # blob dirs cannot collide with live ones mid-write
        old_dirs = list(store.pid_dirs(
            dfs, os.path.join(path, store.BLOBS)).values()) if overwrite else []
        return PtscWriter(path, schema_map, store.next_pid(dfs, path),
                          old_dirs, overwrite)
