"""corpus_roundtrip: the paper's own job on the paper's own table shape.

One pass: layout_stage into a fresh staging dir (the codec-hint memo
misses, as for a new job) -> encode_partitions -> decode_pipeline into a
noop sink -> one decode_where lookup of each kind (mega-repo, small-repo
and path prefixes). Passes repeat until the window closes, so every op has
a sample from every pass.

The traced run adds, after its window: encode_partitions at concurrency 1
and 4 with prefetch off on both legs (bench/scaling_protocol.py), an
in-process replay of every staged pid through the public fs and codec
calls, pruning alone for the lookups, and a kill-after-half resume. These
feed per-layer metrics only, so untraced runs skip them.
"""

from __future__ import annotations

import os
import re
import statistics
import time

from perfbench import inputs
from perfbench.common import CORES, WORK, fresh_dir
from perfbench.metrics import CODEC_COLUMNS

N_PIDS = 8  # two full waves at local[4]
LOOKUP_KINDS = ("mega", "small", "path")  # inputs.lookups rotates these
# a lookup returns each matching file's identity; content decode is timed
# by decode_pipeline
LOOKUP_COLUMNS = ["repo", "path", "commit", "lang"]
BATCH_OPS = ("layout_stage", "encode_partitions", "decode_pipeline")


class Workload:
    name = "corpus_roundtrip"

    def __init__(self, seed: int):
        self.seed = seed
        self.out = os.path.join(WORK, "out", self.name)
        self.pass_no = 0

    def make_inputs(self) -> dict:
        self.corpus = inputs.corpus(self.seed, n_files=64)
        self.facts = inputs.corpus_facts(self.corpus)
        self.lookups = inputs.lookups(self.seed, 240)
        self.expected = inputs.expected_lookup_rows(self.corpus, self.lookups)
        return {"rows": self.facts["rows"], "files": self.facts["files"],
                "disk_bytes": self.facts["disk_bytes"],
                "arrow_bytes": self.facts["arrow_bytes"]}

    def bind(self, spark, rec, tracer):
        self.spark, self.rec, self.tracer = spark, rec, tracer
        fresh_dir(self.out)
        self.lookup_i = 0
        self.lookup_spans: list[dict] = []

    # ------------------------------------------------------------ passes

    def _dirs(self, tag: str) -> dict:
        return {k: os.path.join(self.out, f"{tag}_{k}")
                for k in ("stage", "enc")}

    def run_pass(self, warm: bool) -> None:
        from parquet_toolkit_spark.operators.encode import (
            decode_pipeline,
            encode_partitions,
            layout_stage,
        )

        spark, rec, record = self.spark, self.rec, not warm
        if self.pass_no:  # the previous pass's outputs
            for d in self._dirs(f"p{self.pass_no - 1}").values():
                fresh_dir(d)
        d = self._dirs(f"p{self.pass_no}")
        self.dirs = d
        self.pass_no += 1
        run_id = f"s{self.seed}p{self.pass_no}"
        os.sync()  # flush writeback outside any timed op
        with rec.op("layout_stage", record):
            layout_stage(spark, spark.read.parquet(self.corpus), d["stage"],
                         n_partitions=N_PIDS)
        os.sync()  # flush writeback outside any timed op
        with rec.op("encode_partitions", record):
            encode_partitions(spark, d["stage"], d["enc"], run_id=run_id,
                              resume=False, concurrency=CORES)
        with rec.op("decode_pipeline", record):
            (decode_pipeline(spark, d["enc"], concurrency=CORES)
             .write.format("noop").mode("overwrite").save())
        for _ in LOOKUP_KINDS:
            self._lookup(d["enc"], record)

    def _lookup(self, enc: str, record: bool) -> None:
        from parquet_toolkit_spark.operators.encode import decode_where

        i = self.lookup_i % len(self.lookups)
        self.lookup_i += 1
        lk = self.lookups[i]
        n = None
        with self.rec.op("lookup", record, sample=f"lookup.{lk['kind']}",
                         lookup=lk["kind"]) as span:
            n = decode_where(self.spark, enc, lk["pred"],
                             columns=LOOKUP_COLUMNS).count()
        if n is not None:  # a lookup that raised already counts as failed
            self.rec.check("lookup_rows", n == self.expected[i],
                           f"{lk['pred']}: {n} != {self.expected[i]}")
        if record and span is not None:
            self.lookup_spans.append(span)

    # ------------------------------------------------------------ checks

    def check(self) -> None:
        from parquet_toolkit_spark.operators.encode import (
            decode_pipeline,
            encoded_size_report,
            verify_roundtrip,
        )

        spark, rec = self.spark, self.rec
        with rec.op("check.roundtrip", record=False):
            v = verify_roundtrip(spark.read.parquet(self.corpus),
                                 decode_pipeline(spark, self.dirs["enc"]))
            rec.check("roundtrip_sha256", v["ok"] and
                      v["rows"] == self.facts["rows"], str(v))
        t0 = time.perf_counter()
        self.size = encoded_size_report(spark, self.dirs["enc"])
        self.manifest_read_s = time.perf_counter() - t0

    # ------------------------------------------------------------ metrics

    def values(self) -> dict:
        rec = self.rec
        gb_in = (self.size["bytes_in"] or 0) / 1e9
        # every op kind weighs the same: the batch ops and each lookup kind
        keys = [*BATCH_OPS, *(f"lookup.{k}" for k in LOOKUP_KINDS)]
        m = {k: rec.median(k) for k in keys}
        lat = [w for k in keys[len(BATCH_OPS):] for w in rec.walls[k]]
        mbps = {k: gb_in * 1e3 / m[k] for k in BATCH_OPS}
        self.samples = {k: rec.walls[k] for k in keys}
        return {
            "pass_s": sum(m.values()),
            "throughput_gbps": gb_in / (m["layout_stage"]
                                        + m["encode_partitions"]),
            "op_gmean_ms": statistics.geometric_mean(m.values()) * 1e3,
            **rec.pass_totals(keys),
            "lookup_p50_ms": statistics.median(lat) * 1e3,
            "encode.layout_stage_mbps": mbps["layout_stage"],
            "encode.encode_partitions_mbps": mbps["encode_partitions"],
            "encode.decode_pipeline_mbps": mbps["decode_pipeline"],
            "encode.ratio_vs_raw": self.size["ratio"],
            "encode.manifest_read_share":
                self.manifest_read_s / m["encode_partitions"],
            "decode_gbps": gb_in / m["decode_pipeline"],
            "ratio_vs_snappy": (self.size["bytes_out"] or 0)
                / self.facts["disk_bytes"],
        }

    # ------------------------------------------------------- traced only

    def traced_extras(self, out: dict) -> None:
        """Per-layer numbers that need more than the window: Spark counts of
        the op spans, pruning, the in-process replay and resume."""
        tr = self.tracer
        for op, counts in (("layout_stage", ("jobs", "tasks")),
                           ("encode_partitions", ("jobs", "tasks")),
                           ("decode_pipeline", ("jobs",))):
            last = tr.named(op)[-1]  # the timed pass's span
            for c in counts:
                out[f"encode.{op}_{c}"] = tr.total(last, c)
        if self.lookup_spans:
            out["encode.decode_where_jobs"] = statistics.mean(
                tr.total(s, "jobs") for s in self.lookup_spans)
        self._scaling(out)
        self._pruning(out)
        self._replay(out)
        self._resume(out)

    def _scaling(self, out: dict) -> None:
        """Encode the last staged table at concurrency 1 and 4, prefetch
        off on both legs: throughput at 4 / (4 x throughput at 1)."""
        from parquet_toolkit_spark.operators.encode import encode_partitions

        mb_in = (self.size["bytes_in"] or 0) / 1e6
        walls = {}
        for c in (1, CORES):
            dest = fresh_dir(os.path.join(self.out, f"scale_c{c}"))
            os.sync()  # flush writeback outside any timed op
            with self.rec.op(f"encode_c{c}", record=False):
                t0 = time.perf_counter()
                encode_partitions(self.spark, self.dirs["stage"], dest,
                                  run_id=f"c{c}", resume=False,
                                  concurrency=c, prefetch=False)
                walls[c] = time.perf_counter() - t0
            fresh_dir(dest)
        out["encode.encode_c1_mbps"] = mb_in / walls[1]
        out["encode.encode_c4_mbps"] = mb_in / walls[CORES]
        out["encode.scaling_eff_1v4"] = walls[1] / (CORES * walls[CORES])

    def _pruning(self, out: dict) -> None:
        from parquet_toolkit_spark.operators.encode import (
            pids_matching_prefix,
            read_manifest,
        )

        enc = self.dirs["enc"]
        man = read_manifest(self.spark, enc).select(
            "pid", "column", "nrows").toPandas()
        nrows = man[man["column"] == "repo"].set_index("pid")["nrows"]
        shares, pids_n, yields = [], [], []
        lat = {k: self.rec.median(f"lookup.{k}") for k in LOOKUP_KINDS}
        for i, lk in enumerate(self.lookups[:30]):
            with self.tracer.span("encode.prune", lookup=lk["kind"]):
                t0 = time.perf_counter()
                pids = None
                for col, spec in lk["pred"].items():
                    p = pids_matching_prefix(self.spark, enc, col,
                                             spec["prefix"])
                    pids = p if pids is None else pids & p
                dt = time.perf_counter() - t0
            shares.append(dt / lat[lk["kind"]])
            pids_n.append(len(pids))
            rows_in = int(nrows[list(pids)].sum()) if pids else 0
            if rows_in:
                yields.append(self.expected[i] / rows_in)
        out["encode.prune_share"] = statistics.median(shares)
        out["encode.lookup_pids"] = statistics.mean(pids_n)
        out["encode.lookup_yield"] = statistics.mean(yields) if yields else 0.0

    def _replay(self, out: dict) -> None:
        """Every staged pid, in-process on one thread, through public calls
        only, with the hints the job's own sampling gives."""
        import pyarrow as pa

        from parquet_toolkit_spark.codecs.chunk import from_arrow
        from parquet_toolkit_spark.codecs.container import decode_blob
        from parquet_toolkit_spark.codecs.selector import (
            plan_hints,
            select_codec,
        )
        from parquet_toolkit_spark.sources.fs import (
            DriverFS,
            task_read_table,
            task_write_ipc_atomic,
        )

        tr = self.tracer
        scratch = fresh_dir(os.path.join(self.out, "replay"))
        os.makedirs(scratch)
        with tr.span("fs.list_files"):
            t0 = time.perf_counter()
            files = DriverFS(self.spark).list_files(self.dirs["stage"])
            dt = time.perf_counter() - t0
        out["fs.list_files_per_s"] = len(files) / dt
        # layout_stage writes one part-NNNNN file per pid
        pid_files: dict[int, list[str]] = {}
        for f, _ in files:
            m = re.match(r"part-(\d+)-", os.path.basename(f))
            if m:
                pid_files.setdefault(int(m.group(1)), []).append(f)
        pids = sorted(pid_files)
        t_read = t_codec = t_write = 0.0
        read_bytes = write_bytes = 0
        per = {c: {"trials": 0, "in": 0, "out": 0, "enc": 0.0, "dec": 0.0}
               for c in CODEC_COLUMNS}
        trials = wins = 0
        hints = None
        for pid in pids:
            with tr.span("fs.task_read_table", pid=pid):
                t0 = time.perf_counter()
                table = task_read_table(sorted(pid_files[pid]))
                t_read += time.perf_counter() - t0
            read_bytes += sum(os.path.getsize(f) for f in pid_files[pid])
            cols = {n: table.column(n).combine_chunks()
                    for n in table.schema.names}
            if hints is None:  # the job samples its first pending pid
                with tr.span("codecs.plan_hints"):
                    t0 = time.perf_counter()
                    hints = plan_hints(cols)
                    dt = time.perf_counter() - t0
                out["codecs.plan_hints_mbps"] = table.nbytes / 1e6 / dt
            rows = []
            for name, arr in cols.items():
                with tr.span("codecs.select_codec", column=name):
                    t0 = time.perf_counter()
                    chunk = from_arrow(arr)
                    codec, blob, _ = select_codec(
                        chunk, candidates=hints.get(name))
                    t_enc = time.perf_counter() - t0
                n_trials = len(set(hints.get(name) or []) | {codec})
                with tr.span("codecs.decode_blob", column=name):
                    t0 = time.perf_counter()
                    decode_blob(blob)
                    t_dec = time.perf_counter() - t0
                t_codec += t_enc + t_dec
                trials += n_trials
                wins += 1
                p = per[name]
                p["trials"] += n_trials
                p["in"] += chunk.total_bytes()
                p["out"] += len(blob)
                p["enc"] += t_enc
                p["dec"] += t_dec
                rows.append({"column": name, "codec": codec, "blob": blob})
            blob_table = pa.Table.from_pylist(rows)
            with tr.span("fs.task_write_ipc_atomic", pid=pid):
                t0 = time.perf_counter()
                task_write_ipc_atomic(
                    blob_table, os.path.join(scratch, f"pid-{pid}.tmp"),
                    os.path.join(scratch, f"pid-{pid}.arrow"))
                t_write += time.perf_counter() - t0
            write_bytes += blob_table.nbytes
        for name, p in per.items():
            out[f"codecs.{name}.trials"] = p["trials"] / len(pids)
            out[f"codecs.{name}.encode_mbps"] = p["in"] / 1e6 / p["enc"]
            out[f"codecs.{name}.decode_mbps"] = p["in"] / 1e6 / p["dec"]
            out[f"codecs.{name}.ratio"] = p["out"] / p["in"]
        out["codecs.trial_yield"] = wins / trials
        out["fs.read_mbps"] = read_bytes / 1e6 / t_read
        out["fs.ipc_write_mbps"] = write_bytes / 1e6 / t_write
        enc_wall = self.rec.median("encode_partitions")
        out["encode.data_plane_share"] = (
            (t_read + t_codec + t_write) / (CORES * enc_wall))
        fresh_dir(scratch)

    def _resume(self, out: dict) -> None:
        """Kill after half the pids, then resume=True: the resumed half's
        raw bytes per second."""
        from parquet_toolkit_spark.operators.encode import (
            encode_partitions,
            encoded_size_report,
        )

        dest = fresh_dir(os.path.join(self.out, "resume"))
        with self.rec.op("encode.resume_first_half", record=False):
            encode_partitions(self.spark, self.dirs["stage"], dest,
                              run_id="half", fail_after=N_PIDS // 2)
        half = encoded_size_report(self.spark, dest)["bytes_in"] or 0
        os.sync()  # flush writeback outside any timed op
        with self.rec.op("encode.resume", record=False):
            t0 = time.perf_counter()
            encode_partitions(self.spark, self.dirs["stage"], dest,
                              run_id="rest", resume=True)
            dt = time.perf_counter() - t0
        total = encoded_size_report(self.spark, dest)["bytes_in"] or 0
        self.rec.check("resume_complete",
                       total == (self.size["bytes_in"] or 0),
                       f"{total} != {self.size['bytes_in']}")
        out["encode.resume_mbps"] = (total - half) / 1e6 / dt
        fresh_dir(dest)
