"""Process-level runtime tuning shared by driver, tests and UDF workers.

This sandbox (and any cold-page environment: fresh containers, lazy-faulted
VMs) serves first-touch page faults very slowly, while glibc by default
mmap()s every allocation >128KB and munmap()s it on free — so every large
numpy temporary pays the fault cost again. Raising the malloc mmap/trim
thresholds keeps big blocks on the reusable heap. Harmless on a normal
cluster; critical here.

Call tune_malloc() once per process (idempotent); the driver calls it, and
so do the package's UDFs and store tasks in each worker process. It also
makes zip-archive cache invalidation lazy for the rest of the process.

Lazy zip invalidation. Before each task, a pyspark worker runs
`worker_util.setup_spark_files`, which ends in `importlib.invalidate_caches()`.
Workers import pyspark from `$SPARK_HOME/python/lib/pyspark.zip` (~1.3k
files), and a warm, reused worker holds one `zipimport.zipimporter` on it per
imported sub-package (16 once a store job has run). On CPython 3.10-3.12,
`zipimporter.invalidate_caches` re-reads the archive's central directory
eagerly, so every task parsed ~27k directory entries before it unpickled its
UDF; on 3.13 it only drops a cache entry, and the next lookup re-reads.
tune_malloc() installs the 3.13 semantics on `zipimport.zipimporter` once:
invalidating an importer drops it from `sys.path_importer_cache` and drops
its archive's directory cache, so the next per-task `invalidate_caches()`
has no zip to re-read, an import that does consult the zip re-reads it
once, and a zip rewritten in place still imports fresh. A reused worker
(spark.python.worker.reuse) pays the eager re-read in each task until one
calls tune_malloc(), and in no later task, whatever its entry.
Measured (4-core Xeon VM, local[4], Python 3.11, reused workers, medians
of 14 jobs per side over two sessions; the noop UDF calls tune_malloc() or
not): a one-task `spark.range(0, 1, 1, 1).mapInArrow(noop)` into a noop
sink went 296 -> 115 ms, a four-task one 410 -> 144 ms; the same jobs with
no Python stage take 52-53 ms (one task) and 60-71 ms (four tasks).
"""

from __future__ import annotations

import ctypes
import os
import sys
import zipimport

_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3
_done = False


def tune_malloc(threshold: int = 1 << 30) -> bool:
    """Raise glibc malloc mmap/trim thresholds and make zip invalidation
    lazy (see the module docstring); True if the thresholds were applied."""
    global _done
    if _done:
        return True
    _install_lazy_zip_invalidation()
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        ok1 = libc.mallopt(_M_MMAP_THRESHOLD, threshold)
        ok2 = libc.mallopt(_M_TRIM_THRESHOLD, threshold)
        _done = bool(ok1 and ok2)
    except OSError:  # non-glibc platform: nothing to do
        _done = True
    return _done


def _drop_zip_importer(self: zipimport.zipimporter) -> None:
    """zipimporter.invalidate_caches as in CPython 3.13: forget the archive's
    directory and this importer instead of re-reading the directory now."""
    zipimport._zip_directory_cache.pop(self.archive, None)
    for path, finder in list(sys.path_importer_cache.items()):
        if finder is self:
            del sys.path_importer_cache[path]


def _install_lazy_zip_invalidation() -> None:
    """Patch zipimporter.invalidate_caches once per process, and drop the
    importers already cached, whose directories are already read."""
    if zipimport.zipimporter.invalidate_caches is _drop_zip_importer:
        return
    zipimport.zipimporter.invalidate_caches = _drop_zip_importer
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


# Env propagated to Spark python workers (read by glibc at worker start,
# before tune_malloc can run — covers the first allocations too).
WORKER_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    # route Arrow buffers through the (tuned) glibc heap instead of the
    # bundled jemalloc/mimalloc pools, which madvise pages away and refault
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


def spark_builder_defaults(builder, shuffle_partitions: int | None = None):
    """Apply the engine's standard session configs to a SparkSession builder.

    AQE on (runtime coalescing + skew handling), Arrow on (vectorized UDF
    transfer), UTC session TZ (oracle comparability), worker malloc env.
    """
    # python workers are spawned by the JVM, which inherits THIS process's
    # env — exporting here reaches every worker's glibc at startup (the
    # executorEnv configs below cover cluster deployments)
    for k, v in WORKER_ENV.items():
        os.environ.setdefault(k, v)
    cores = os.cpu_count() or 8
    # Tungsten execution memory off-heap. String-heavy shuffle map stages
    # hold their sorter pages ON-heap by default (up to
    # spark.memory.fraction of the heap), which pins the old generation
    # near-full and kills the JVM with "GC overhead limit exceeded" once
    # the input is on the order of the heap itself (measured: a ~10 GB
    # corpus layout on a 10 GB ParallelGC heap dies in the shuffle map
    # stage; fraction=0.3 survives at 27.1 s, off-heap survives at 15.3 s
    # — same job, same session). Off-heap pages are invisible to the GC,
    # so the heap keeps serving scan vectors and codegen. Sized by core
    # count (the upper bound on concurrently page-holding tasks, ~192 MB
    # each — a cap, not a preallocation); env-overridable for deployments
    # with different executor shapes.
    raw = os.environ.get("SPARK_GRAFT_OFFHEAP_MB", str(192 * cores))
    try:
        offheap_mb = int(raw)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_OFFHEAP_MB must be an integer number of MB "
            f"(0 disables off-heap memory), got {raw!r}") from None
    if offheap_mb > 0:  # 0 disables (tungsten pages back on-heap)
        builder = (
            builder.config("spark.memory.offHeap.enabled", "true")
            .config("spark.memory.offHeap.size", f"{offheap_mb}m")
        )
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect the advisory partition size when coalescing instead of
        # maximizing parallelism — the Spark docs' own recommendation
        # ("it's recommended to set this config to false"): small
        # shuffles stop fanning out into per-task overhead, large
        # shuffles still target advisoryPartitionSizeInBytes. Measured
        # here: -17% across the SQL/agg query family, no regressions.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the ptsc Python data source prunes pids via pushFilters; the
        # capability is config-gated in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.python.worker.reuse", "true")
        # F1/F2 parity: the reference hand-rolls bad-block retries
        # (SimpleMergeThread.java:141-163); Spark's task re-execution is
        # the engine-level equivalent (local[*] defaults to 1 attempt)
        .config("spark.task.maxFailures", "4")
    )
    for k, v in WORKER_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    return builder
