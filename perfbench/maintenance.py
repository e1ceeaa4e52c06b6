"""The reference toolkit's verbs, the first half of the toolkit workload;
they never touch the codecs or the blob store.

One pass: compact, sort_by_key(repo, path), split_by_size and
append_compact on the F0 corpus written as 200 small files, and
convert_csv on a seeded lineitem-shaped CSV with empty cells.
"""

from __future__ import annotations

import glob
import os
import statistics

import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.common import WORK, dir_bytes, fresh_dir

SMALL_FILES = 200
CORPUS_ROWS = 20_000
COMPACT_TARGET = 8 << 20
SORT_TARGET = 8 << 20
SPLIT_TARGET = 3 << 20
APPEND_TARGET = 8 << 20
SPLIT_TOLERANCE = 1.25
VERBS = ("compact", "sort_by_key", "split_by_size", "append_compact",
         "convert_csv")


class Verbs:
    def __init__(self, seed: int):
        self.seed = seed
        self.out = os.path.join(WORK, "out", "verbs")
        self.pass_no = 0

    def make_inputs(self) -> dict:
        self.corpus = inputs.corpus(self.seed, n_files=SMALL_FILES,
                                    rows=CORPUS_ROWS)
        self.facts = inputs.corpus_facts(self.corpus)
        self.csv, self.csv_facts = inputs.lineitem_csv(self.seed)
        return {"rows": self.facts["rows"] + self.csv_facts["rows"],
                "files": self.facts["files"] + 1,
                "disk_bytes": self.facts["disk_bytes"]
                + self.csv_facts["bytes"],
                "arrow_bytes": self.facts["arrow_bytes"]}

    def bind(self, spark, rec, tracer):
        self.spark, self.rec, self.tracer = spark, rec, tracer
        fresh_dir(self.out)
        self.dirs: dict[str, str] = {}  # each verb's latest output
        self.info: dict[str, object] = {}

    def run_pass(self, warm: bool) -> None:
        from parquet_toolkit_spark.operators.binary_append import append_compact
        from parquet_toolkit_spark.operators.layout import (
            compact,
            sort_by_key,
            split_by_size,
        )
        from parquet_toolkit_spark.sources.csv_ingest import convert_csv

        spark, rec, record = self.spark, self.rec, not warm
        self.pass_no += 1
        d = {v: os.path.join(self.out, f"p{self.pass_no}", v) for v in VERBS}
        calls = {
            "compact": lambda: compact(spark, self.corpus, d["compact"],
                                       target_bytes=COMPACT_TARGET),
            "sort_by_key": lambda: sort_by_key(
                spark, self.corpus, d["sort_by_key"], keys=["repo", "path"],
                target_bytes=SORT_TARGET),
            "split_by_size": lambda: split_by_size(
                spark, self.corpus, d["split_by_size"],
                target_bytes=SPLIT_TARGET),
            "append_compact": lambda: append_compact(
                spark, self.corpus, d["append_compact"],
                target_bytes=APPEND_TARGET),
            "convert_csv": lambda: convert_csv(
                spark, self.csv, d["convert_csv"], compression="snappy",
                field_types=inputs.CSV_TYPES),
        }
        for verb in VERBS:
            if verb in self.dirs:  # this verb's previous output
                fresh_dir(self.dirs[verb])
            os.sync()  # flush writeback outside any timed op
            with rec.op(verb, record):
                self.info[verb] = calls[verb]()
            self.dirs[verb] = d[verb]

    # ------------------------------------------------------------ checks

    def check(self) -> None:
        """On the last pass's outputs: multiset preserved, sort order,
        split sizes, CSV types and nulls."""
        rec, d = self.rec, self.dirs
        for verb, path in (("compact", d["compact"]),
                           ("sort_by_key", d["sort_by_key"]),
                           ("split_by_size", d["split_by_size"]),
                           ("append_compact", d["append_compact"])):
            with rec.op(f"check.{verb}", record=False):
                t = pq.read_table(path)
                got = inputs.multiset_hash(t)
                rec.check(f"{verb}_multiset", got == self.facts["row_hash"],
                          f"{got} != {self.facts['row_hash']}")
                if verb == "sort_by_key":
                    rec.check("sort_order", _sorted_parts(path))
        with rec.op("check.split_sizes", record=False):
            sizes = [os.path.getsize(f) for f in _parts(d["split_by_size"])]
            self.split_over = max(sizes) / SPLIT_TARGET
            rec.check("split_within_target",
                      self.split_over <= SPLIT_TOLERANCE,
                      f"max file {max(sizes)} > {SPLIT_TOLERANCE} x target")
        with rec.op("check.convert_csv", record=False):
            t = pq.read_table(d["convert_csv"])
            want = {"long": "int64", "int": "int32", "double": "double",
                    "string": "string"}
            types_ok = all(str(t.schema.field(c).type) == want[ty]
                           for c, ty in inputs.CSV_TYPES.items())
            nulls = {c: t[c].null_count for c in inputs.CSV_TYPES}
            rec.check("csv_types", types_ok, str(t.schema))
            rec.check("csv_rows", t.num_rows == self.csv_facts["rows"] ==
                      self.info["convert_csv"])
            rec.check("csv_nulls", nulls == self.csv_facts["nulls"],
                      f"{nulls} != {self.csv_facts['nulls']}")

    # ------------------------------------------------------------ metrics

    def medians(self) -> dict[str, float]:
        """Each verb's median run time."""
        self.samples = {v: self.rec.walls[v] for v in VERBS}
        return {v: statistics.median(w) for v, w in self.samples.items()}

    def pass_bytes(self) -> int:
        """On-disk input bytes one pass reads."""
        return (4 * self.facts["disk_bytes"]
                + self.csv_facts["bytes"])

    def values(self) -> dict:
        m = self.medians()
        disk_in = self.facts["disk_bytes"]
        out = {
            "layout.split_max_file_over_target": self.split_over,
            "csv_ingest.rows_per_s": self.csv_facts["rows"] / m["convert_csv"],
        }
        for verb in ("compact", "sort_by_key", "split_by_size"):
            b, n = dir_bytes(self.dirs[verb], ".parquet")
            out[f"layout.{verb}_files_out"] = n
            if verb == "compact":
                out["layout.compact_bytes_out_per_in"] = b / disk_in
        b, n = dir_bytes(self.dirs["append_compact"], ".parquet")
        out["binary_append.append_compact_files_out"] = n
        out["binary_append.append_compact_bytes_out_per_in"] = b / disk_in
        for v in VERBS:
            out[f"{v}_s"] = m[v]
        return out

    def traced_extras(self, out: dict) -> None:
        tr = self.tracer
        for verb, key in (("compact", "layout.compact_jobs"),
                          ("sort_by_key", "layout.sort_by_key_jobs"),
                          ("split_by_size", "layout.split_by_size_jobs"),
                          ("convert_csv", "csv_ingest.convert_csv_jobs")):
            spans = tr.named(verb)
            if spans:
                out[key] = tr.total(spans[-1], "jobs")
        spans = tr.named("append_compact")
        if spans:
            out["binary_append.append_compact_tasks"] = tr.total(
                spans[-1], "tasks")


def _parts(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*.parquet")))


def _sorted_parts(path: str) -> bool:
    """(repo, path) never decreases across the output files in part order
    (the range partition index, then the roll-over file index)."""
    prev = None
    for f in _parts(path):
        t = pq.read_table(f, columns=["repo", "path"])
        keys = list(zip(t["repo"].to_pylist(), t["path"].to_pylist()))
        if not keys:
            continue
        if keys != sorted(keys, key=_null_first) or (
                prev is not None and _null_first(keys[0]) < _null_first(prev)):
            return False
        prev = keys[-1]
    return True


def _null_first(k):
    return tuple((v is not None, v or "") for v in k)

