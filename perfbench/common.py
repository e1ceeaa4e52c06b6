"""Shared plumbing: checkout paths, the Spark session, run hygiene, op
timing and recording, statistics and process-tree memory.

Everything a run writes lives under `<checkout>/.perfbench/`; inputs are
cached there under a tag made of seed and size, outputs are deleted at the
start of the next run.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
NCPU = os.cpu_count() or CORES
DRIVER_MEMORY = "3g"


class SetupError(RuntimeError):
    """The checkout cannot run the benchmark (e.g. the package is missing)."""


def prepare_env() -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    checkout, and make the package importable by Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM (spark-submit's launcher too): temp files here, and no
    # /tmp/hsperfdata_<user> perf file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import parquet_toolkit_spark
    except ImportError as exc:
        raise SetupError(f"parquet_toolkit_spark is not importable: {exc}")
    pkg = os.path.realpath(parquet_toolkit_spark.__file__)
    if not pkg.startswith(os.path.realpath(ROOT) + os.sep):
        raise SetupError(f"parquet_toolkit_spark resolves outside the "
                         f"checkout: {pkg}")


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def start_session():
    """local[4] session from the engine's own defaults plus a driver memory
    that fits a 15 GB host; the remaining configs only keep the console
    quiet."""
    from pyspark.sql import SparkSession

    from parquet_toolkit_spark.runtime import spark_builder_defaults, tune_malloc

    tune_malloc()
    spark = (
        spark_builder_defaults(
            SparkSession.builder.master(f"local[{CORES}]").appName("perfbench"))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then shut the JVM gateway down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def span(tracer, name: str, **attrs):
    """A trace span when tracing, else a no-op context."""
    return tracer.span(name, **attrs) if tracer else nullcontext()


def clock() -> tuple[float, float, float]:
    """A reading for `elapsed`: (wall, busy CPU, stolen CPU) seconds."""
    busy, stolen = host_cpu_s()
    return time.perf_counter(), busy, stolen


def elapsed(t0: tuple[float, float, float]) -> tuple[float, float, float]:
    """(run time, wall, busy CPU seconds) since a `clock()` reading.

    The host is a VM on shared cores: while the hypervisor runs someone
    else's work on its CPUs, the program does not run at all, and that
    stolen time drifts by minutes. Run time is the wall time less the stolen
    CPU time spread over all CPUs. For an op that keeps every CPU busy that
    is exactly the time it ran; for one that keeps fewer busy it still
    counts part of the stolen time, so it never reads below the time the
    program ran."""
    w1, b1, s1 = clock()
    wall = w1 - t0[0]
    return wall - (s1 - t0[2]) / NCPU, wall, b1 - t0[1]


class Recorder:
    """Times every op of a run, counts attempts and failures, and opens a
    trace span per op when a tracer is given.

    Per sample key it keeps the ops' run times (`elapsed`) in `walls`, their
    plain wall times in `raw` and the host's busy CPU seconds in `cpu`. An
    op that raises is counted as failed and the run goes on; so is an
    output check that fails."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.walls: dict[str, list[float]] = {}
        self.raw: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @contextmanager
    def op(self, kind: str, record: bool = True, sample: str | None = None,
           **attrs):
        """record=False runs and checks the op without adding it to the
        samples (warm passes); samples go under `sample`, default `kind`."""
        self.attempted += 1
        t0 = clock()
        ok = True
        with span(self.tracer, kind, **attrs) as rec:
            try:
                yield rec
            except Exception:
                ok = False
                self.failed += 1
                self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
                sys.stderr.write(self.errors[-1])
        if ok and record:
            key = sample or kind
            for samples, v in zip((self.walls, self.raw, self.cpu),
                                  elapsed(t0)):
                samples.setdefault(key, []).append(v)

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """An output check; a failing one counts as a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {what} failed {detail}")
            sys.stderr.write(self.errors[-1] + "\n")

    def median(self, key: str, of: str = "walls") -> float | None:
        w = getattr(self, of).get(key)
        return statistics.median(w) if w else None

    def pass_totals(self, keys) -> dict:
        """One pass with every op at its median, in plain wall time and in
        the host's busy CPU seconds (pass_s is the same in run time)."""
        return {f"pass_{name}": sum(self.median(k, of) for k in keys)
                for name, of in (("wall_s", "raw"), ("cpu_s", "cpu"))}


def summarize(values: list[float]) -> dict:
    """Median, quartiles, the highest percentile with at least ten samples
    beyond it, and the sample count. No minimum, no best window."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return {"n": 0}
    q1, med, q3 = (statistics.quantiles(v, n=4) if n > 1
                   else (v[0], v[0], v[0]))
    out = {"n": n, "median": med, "q1": q1, "q3": q3}
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            out[f"p{p}"] = percentile(v, p)
            break
    return out


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    k = max(0, min(len(v) - 1, -(-len(v) * p // 100) - 1))
    return v[int(k)]


def tree_peak_rss_gb() -> float:
    """Sum of VmHWM over this process and every descendant (the JVM and
    Spark's Python workers), read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / (1 << 20)


def membw_gbps(seconds: float = 0.25) -> float:
    """Host context: aggregate memcpy bandwidth at CORES workers
    (bench/scaling_protocol.membw_control). Run before Spark starts."""
    sys.path.insert(0, os.path.join(ROOT, "bench"))
    try:
        from scaling_protocol import membw_control
    finally:
        sys.path.pop(0)
    return membw_control(CORES, seconds=seconds)


def host_cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the whole host since boot, from
    /proc/stat: busy is user + nice + system + irq + softirq; stolen is
    time the hypervisor ran something else on this host's CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / hz, f[7] / hz


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(total bytes, file count) of data files under path."""
    total = files = 0
    for dp, _, fns in os.walk(path):
        for f in fns:
            if f.startswith((".", "_")) or not f.endswith(suffix):
                continue
            total += os.path.getsize(os.path.join(dp, f))
            files += 1
    return total, files
