"""The metric registry. BENCHMARK.json lists exactly these metrics.

Every workload reports every metric, so each metric is defined for both
workloads. End-to-end metrics are measured on each workload's own op
mix. A per-layer metric of a layer that a workload never calls reads 0
there (the "predicted unchanged" reading); such metrics are counts, shares
or rates, never bare times, so a bypassed layer's 0 is not a timing.
"""

from __future__ import annotations

# name, unit, better, bound. op_gmean_ms is the geometric mean over the
# workload's op kinds of each kind's median run time: the typical latency
# of one op, where a 10 % change of any one kind moves it by the same
# amount, so short ops count as much as the long ones that dominate pass_s.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("throughput_gbps", "GB/s", "higher", 0.25),
    ("op_gmean_ms", "ms", "lower", 0.25),
    ("peak_rss_gb", "GB", "lower", 0.15),
]

CODEC_COLUMNS = ("repo", "path", "commit", "lang", "content")
FAMILIES = ("iceberg", "dedup", "streaming", "vector", "sql")

# name, unit, better
PER_LAYER = [
    ("runtime.session_start_s", "s", "lower"),
    ("runtime.warm_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.span_coverage", "share", "higher"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    # operators.encode, write path
    ("encode.layout_stage_mbps", "MB/s", "higher"),
    ("encode.layout_stage_jobs", "count", "lower"),
    ("encode.layout_stage_tasks", "count", "lower"),
    ("encode.encode_partitions_mbps", "MB/s", "higher"),
    ("encode.encode_partitions_jobs", "count", "lower"),
    ("encode.encode_partitions_tasks", "count", "lower"),
    ("encode.encode_c1_mbps", "MB/s", "higher"),
    ("encode.encode_c4_mbps", "MB/s", "higher"),
    ("encode.scaling_eff_1v4", "ratio", "higher"),
    ("encode.data_plane_share", "share", "higher"),
    ("encode.manifest_read_share", "share", "lower"),
    ("encode.resume_mbps", "MB/s", "higher"),
    ("encode.ratio_vs_raw", "ratio", "lower"),
    # operators.encode, read path
    ("encode.decode_pipeline_mbps", "MB/s", "higher"),
    ("encode.decode_pipeline_jobs", "count", "lower"),
    ("encode.prune_share", "share", "lower"),
    ("encode.lookup_pids", "count", "lower"),
    ("encode.lookup_yield", "share", "higher"),
    ("encode.decode_where_jobs", "count", "lower"),
    # codecs (in-process replay of the staged pids)
    ("codecs.plan_hints_mbps", "MB/s", "higher"),
    ("codecs.trial_yield", "share", "higher"),
    *[(f"codecs.{c}.{m}", u, b) for c in CODEC_COLUMNS for m, u, b in (
        ("trials", "count", "lower"),
        ("encode_mbps", "MB/s", "higher"),
        ("decode_mbps", "MB/s", "higher"),
        ("ratio", "ratio", "lower"),
    )],
    # sources.fs (same replay)
    ("fs.list_files_per_s", "1/s", "higher"),
    ("fs.read_mbps", "MB/s", "higher"),
    ("fs.ipc_write_mbps", "MB/s", "higher"),
    # operators.layout
    ("layout.compact_jobs", "count", "lower"),
    ("layout.compact_files_out", "count", "lower"),
    ("layout.compact_bytes_out_per_in", "ratio", "lower"),
    ("layout.sort_by_key_jobs", "count", "lower"),
    ("layout.sort_by_key_files_out", "count", "lower"),
    ("layout.split_by_size_jobs", "count", "lower"),
    ("layout.split_by_size_files_out", "count", "lower"),
    ("layout.split_max_file_over_target", "ratio", "lower"),
    # operators.binary_append
    ("binary_append.append_compact_tasks", "count", "lower"),
    ("binary_append.append_compact_files_out", "count", "lower"),
    ("binary_append.append_compact_bytes_out_per_in", "ratio", "lower"),
    # sources.csv_ingest
    ("csv_ingest.convert_csv_jobs", "count", "lower"),
    ("csv_ingest.rows_per_s", "1/s", "higher"),
    # leaf families of the __spark_entry__ query bodies
    *[(f"suite.{f}.{m}", u, "lower") for f in FAMILIES for m, u in (
        ("build_share", "share"), ("exec_share", "share"), ("jobs", "count"),
    )],
]


def result_metrics(values: dict, trace: bool) -> dict:
    """{name: {"value", "unit"}} over the whole registry of the mode; a
    missing per-layer value is a bypassed layer and reads 0."""
    if trace:
        return {n: {"value": float(values.get(n, 0.0)), "unit": u}
                for n, u, _ in PER_LAYER}
    missing = [n for n, *_ in END_TO_END if not values.get(n)]
    if missing:
        raise ValueError(f"end-to-end metrics not measured: {missing}")
    return {n: {"value": float(values[n]), "unit": u}
            for n, u, _, _ in END_TO_END}


def benchmark_json() -> dict:
    """The BENCHMARK.json document (python3 -m perfbench.metrics prints it)."""
    from perfbench.workloads import WHY

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 12,
        "workloads": [{"name": n, "why": w} for n, w in WHY.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    import json

    print(json.dumps(benchmark_json(), indent=2))
