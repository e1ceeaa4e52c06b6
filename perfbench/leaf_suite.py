"""`__spark_entry__` query bodies, the second half of the toolkit workload:
each is built and then executed into a noop sink, on a copy of the
repository's fixed sf0.01 test tables (TESTDATA.md) shipped in
perfbench/testdata; the seed does not apply to them.

The leaves are one per family that no other op runs (Iceberg, dedup,
streaming, vector, SQL), taken from the r7 regression cluster where it has
one (an Iceberg bucket prune, exact dedup, media_features; its
binary_append is the verbs' append_compact), plus bench.py's scrub_pii.
The layout and store families are left to the verbs and to
corpus_roundtrip, which time the same operators at a larger size. The
full 53-leaf pass takes ~30 s warm and ~60 s cold at local[4], far over the
benchmark's time budget per run.

Each leaf's row count is taken with DataFrame.observe on the timed noop
write (no extra Spark job) and checked against the count of its DuckDB
oracle, computed once per testdata fingerprint.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from perfbench.common import ROOT, WORK, fresh_dir, span

DATA = os.path.join(ROOT, "perfbench", "testdata", "sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
LEAVES = {
    "iceberg_bucket_prune": "iceberg",
    "exact_dedup": "dedup",
    "events_windowed_stream": "streaming",
    "media_features": "vector",
    "q1_pricing_summary": "sql", "scrub_pii": "sql",
}


class Leaves:
    def __init__(self):
        self.base = os.path.join(WORK, "leaf")
        self.pass_no = 0

    def make_inputs(self) -> dict:
        import pyarrow.parquet as pq

        files = [os.path.join(DATA, f"{t}.parquet") for t in TABLES]
        self.disk_bytes = sum(os.path.getsize(f) for f in files)
        return {"rows": sum(pq.ParquetFile(f).metadata.num_rows
                            for f in files),
                "files": len(files),
                "disk_bytes": self.disk_bytes,
                "arrow_bytes": sum(pq.read_table(f).nbytes for f in files)}

    def bind(self, spark, rec, tracer):
        os.environ["SPARK_GRAFT_SF_DIR"] = DATA
        import __spark_entry__ as entry
        import bench

        # the query bodies' scratch and oracle-fixture roots, moved into
        # the checkout; fixtures stay cached (they are derived inputs)
        entry._TMP = fresh_dir(os.path.join(self.base, "tmp"))
        entry._FIX_DIR = os.path.join(self.base, "fix")
        qs = {**entry.queries(), **entry.extra_queries(),
              "scrub_pii": bench._q_scrub_pii}
        self.entry = entry
        self.queries = {n: qs[n] for n in LEAVES}
        self.spark, self.rec, self.tracer = spark, rec, tracer
        self.rows: dict[str, int] = {}
        self.splits: dict[str, list[tuple[float, float]]] = {}

    def run_pass(self, warm: bool) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        self.pass_no += 1
        os.sync()  # flush writeback outside any timed op
        for name, body in self.queries.items():
            with self.rec.op("leaf", not warm, sample=name, leaf=name,
                             family=LEAVES[name]) as op:
                t0 = time.perf_counter()
                with span(self.tracer, "leaf.build", leaf=name):
                    df = body(self.spark, DATA)
                t1 = time.perf_counter()
                obs = Observation(f"rows_{name}_{self.pass_no}")
                with span(self.tracer, "leaf.exec", leaf=name):
                    (df.observe(obs, F.count(F.lit(1)).alias("n"))
                     .write.format("noop").mode("overwrite").save())
                t2 = time.perf_counter()
                self.rows[name] = obs.get["n"]
                if not warm:
                    self.splits.setdefault(name, []).append(
                        (t1 - t0, t2 - t1))
                    if op is not None:
                        op["build_s"], op["exec_s"] = t1 - t0, t2 - t1

    # ------------------------------------------------------------ checks

    def check(self) -> None:
        """Every leaf with an oracle returns its oracle's row count."""
        expected = self._oracle_counts()
        for name, n in self.rows.items():
            if name in expected:
                self.rec.check(f"leaf_rows.{name}", n == expected[name],
                               f"{name}: {n} != {expected[name]}")

    def _oracle_counts(self) -> dict[str, int]:
        oracle = self.entry.oracle_sql()
        fp = self.entry._sf_fingerprint(DATA)
        cache = os.path.join(self.base, f"oracle_counts_{fp}.json")
        if os.path.exists(cache):
            with open(cache) as fh:
                counts = json.load(fh)
            if all(n in counts for n in LEAVES if n in oracle):
                return counts
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{DATA}/{t}.parquet')")
            counts = {n: con.execute(
                f"SELECT count(*) FROM ({oracle[n]}) q").fetchone()[0]
                for n in LEAVES if n in oracle}
        finally:
            con.close()
        os.makedirs(self.base, exist_ok=True)
        with open(cache, "w") as fh:
            json.dump(counts, fh)
        return counts

    # ------------------------------------------------------------ metrics

    def medians(self) -> dict[str, float]:
        """Each leaf's median run time of build plus noop execution."""
        self.samples = {n: self.rec.walls[n] for n in LEAVES}
        return {n: statistics.median(s) for n, s in self.samples.items()}

    def pass_bytes(self) -> int:
        """On-disk bytes of the test tables the leaves read from."""
        return self.disk_bytes

    def values(self, window: float) -> dict:
        from perfbench.metrics import FAMILIES

        out = {"suite_s": sum(self.medians().values())}
        for f in FAMILIES:
            names = [n for n, fam in LEAVES.items() if fam == f]
            out[f"suite.{f}.build_share"] = sum(
                b for n in names for b, _ in self.splits.get(n, [])) / window
            out[f"suite.{f}.exec_share"] = sum(
                e for n in names for _, e in self.splits.get(n, [])) / window
        return out

    def traced_extras(self, out: dict) -> None:
        from perfbench.metrics import FAMILIES

        # Spark jobs per pass of each family: the median over a leaf's timed
        # runs, summed over the family's leaves
        tr = self.tracer
        jobs: dict[str, list[int]] = {}
        for s in tr.named("leaf"):
            if "build_s" in s:  # timed, not warm
                jobs.setdefault(s["leaf"], []).append(tr.total(s, "jobs"))
        for f in FAMILIES:
            out[f"suite.{f}.jobs"] = sum(
                statistics.median(js) for n, js in jobs.items()
                if LEAVES[n] == f)

    def cleanup(self) -> None:
        shutil.rmtree(os.path.join(self.base, "tmp"), ignore_errors=True)
