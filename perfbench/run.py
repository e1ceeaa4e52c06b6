"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload corpus_roundtrip --seed 1 \
        --seconds 12 --trace 0

A run: generate (or reuse) the seeded inputs -> one membw_control reading
-> start a local[4] session -> one full untimed warm pass -> whole passes
of the workload's ops until --seconds have elapsed and at least
MIN_PASSES have run -> check the outputs -> stop every process.
`setup_s` is session start plus the warm pass; input generation is
recorded as context only. Times are run times (common.elapsed): wall
time less the CPU time the hypervisor stole; plain walls and CPU seconds
are in the record.

--trace 0 prints the end-to-end metrics; --trace 1 runs the same window
with a span around every call into the engine and prints the per-layer
metrics, plus the tracing overhead. The full record (every sample
summarized as median, quartiles, high percentile and count; run metadata;
the spans) is written under .perfbench/results/ and printed on the line
before the result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402
from perfbench.common import (  # noqa: E402
    CORES,
    WORK,
    Recorder,
    clock,
    elapsed,
    host_cpu_s,
    SetupError,
    membw_gbps,
    prepare_env,
    span,
    start_session,
    stop_session,
    summarize,
    tree_peak_rss_gb,
)
from perfbench.metrics import result_metrics  # noqa: E402
from perfbench.trace import Tracer, covered  # noqa: E402

# Every op kind gets this many samples. Ops keep speeding up over the first
# passes after the warm pass, so a per-op median would jump with each pass
# more or less that the host's speed fits into the window. Three passes of
# either workload take longer than the default window, so the pass count is
# the same from run to run.
MIN_PASSES = 3


def run(name: str, seed: int, seconds: float,
        trace: bool) -> tuple[dict, dict]:
    """(full record, result line) of one run."""
    w = workloads.create(name, seed)
    t0 = time.perf_counter()
    input_meta = w.make_inputs()
    gen_s = time.perf_counter() - t0
    membw = membw_gbps()

    t0 = clock()
    spark = start_session()
    session_s, session_wall_s, _ = elapsed(t0)
    run_id = f"{name}-s{seed}-{os.getpid()}"
    tracer = Tracer(spark.sparkContext, run_id) if trace else None
    rec = Recorder(tracer)
    try:
        w.bind(spark, rec, tracer)
        t0 = clock()
        w.run_pass(warm=True)
        warm_s, warm_wall_s, _ = elapsed(t0)
        os.sync()  # flush writeback outside any timed op

        cpu0 = host_cpu_s()
        t0 = time.perf_counter()
        deadline = t0 + seconds
        with span(tracer, "window") as win:
            passes = 0
            while passes < MIN_PASSES or time.perf_counter() < deadline:
                w.run_pass(warm=False)
                passes += 1
        w.window_s = time.perf_counter() - t0
        cpu_s, steal_s = (b - a for a, b in zip(cpu0, host_cpu_s()))
        peak = tree_peak_rss_gb()
        w.check()
        values = {"setup_s": session_s + warm_s, "peak_rss_gb": peak,
                  **w.values(),
                  "runtime.session_start_s": session_s,
                  "runtime.warm_s": warm_s}
        record = {"workload": name, "seed": seed, "seconds": seconds,
                  "trace": trace, "passes": passes,
                  "setup_wall_s": session_wall_s + warm_wall_s,
                  "window_s": w.window_s, "window_cpu_s": cpu_s,
                  "window_steal_s": steal_s, "input_gen_s": gen_s,
                  "inputs": input_meta, "cores": CORES,
                  "ram_gb": _ram_gb(), "membw_control_gbps": membw,
                  "samples": {k: summarize(v)
                              for k, v in getattr(w, "samples", {}).items()}}
        if tracer:
            values.update(_window_counts(tracer, win))
            w.traced_extras(values)
            values["trace.overhead_s"] = tracer.overhead_s
            values["trace.spans"] = len(tracer.spans)
            os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
            spans = os.path.join(WORK, "results", f"{run_id}.spans.jsonl")
            tracer.write(spans)
            record["spans_file"] = os.path.relpath(spans, ROOT)
            rec.check("span_coverage", values["trace.span_coverage"] >= 0.9,
                      str(values["trace.span_coverage"]))
    finally:
        if hasattr(w, "cleanup"):
            w.cleanup()
        stop_session(spark)
    record["values"] = values
    record["errors"] = rec.errors
    result = {"correct": rec.failed == 0, "attempted": rec.attempted,
              "failed": rec.failed,
              "metrics": result_metrics(values, trace)}
    return record, result


def _window_counts(tracer: Tracer, win: dict) -> dict:
    ops = tracer.children(win)
    return {
        "trace.span_coverage": covered(ops) / (win["end"] - win["start"]),
        "spark.jobs": tracer.total(win, "jobs"),
        "spark.stages": tracer.total(win, "stages"),
        "spark.tasks": tracer.total(win, "tasks"),
        "spark.failed_tasks": tracer.total(win, "failed_tasks"),
    }


def _ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    return 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, default=workloads.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        prepare_env()
    except SetupError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    try:
        record, result = run(args.workload, args.seed, args.seconds,
                             bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-s{args.seed}"
                           f"-t{args.trace}.json"), "w") as fh:
        json.dump({**record, "result": result}, fh, indent=1)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
