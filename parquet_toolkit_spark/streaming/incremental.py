"""Incremental encode: new parquet files appearing in a landing directory
are encoded into the blob store as they arrive.

The reference is batch-only (SURVEY.md §2.8); this is the Spark-native
extension the north star anticipates ("incremental encode of new
partitions maps to readStream + foreachBatch"). Each micro-batch becomes
one or more encoded pids appended to the store. Its tasks write their pid
files through the store's one writer (encode._write_pid) and return the
manifest rows, and the commit appends those rows to the committed
manifest without reading a blob file: O(batch) per batch — a stream's
cost must not grow with store history.

Pid allocation: each increment's pids start at store.next_pid (0 on a
fresh store), so streamed partitions never collide with batch ones or
with a crashed run's orphan dirs.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from parquet_toolkit_spark.operators.encode import (
    _ROWS_DDL,
    _schema_map,
    _write_pid,
)
from parquet_toolkit_spark.sources import store
from parquet_toolkit_spark.sources.fs import DriverFS

# A stream's encode latency bounds its ingest rate, and FSST buys its
# 30%+ size wins with 10-25x the floor's encode CPU: every increment
# competes the other codecs only. Batch re-encode (compaction through
# encode_pipeline) can upgrade the stored codec later.
STREAM_EXCLUDED_CODECS = frozenset({"bin_fsst"})


def _encode_increment(spark: SparkSession, df: DataFrame, enc_dir: str,
                      run_id: str, rows_per_pid: int
                      ) -> tuple[int, list[int]]:
    """Append `df` to the store as fresh pids of ~rows_per_pid rows:
    count, round-robin repartition, one _write_pid per task, one manifest
    commit that carries every committed row over. Returns (rows, pids
    written); an empty frame commits nothing."""
    # one count job doubles as the emptiness check
    n = df.count()
    if n == 0:
        return 0, []
    dfs = DriverFS(spark)
    base_pid = store.next_pid(dfs, enc_dir)
    n_parts = max(1, (n + rows_per_pid - 1) // rows_per_pid)

    def encode_iter(batches):
        from pyspark import TaskContext

        parts = list(batches)
        if not parts:  # an empty round-robin partition writes no pid
            return
        pid = base_pid + TaskContext.get().partitionId()
        yield _write_pid(enc_dir, pid, pa.Table.from_batches(parts), run_id,
                         exclude_codecs=STREAM_EXCLUDED_CODECS)

    rows = df.repartition(n_parts).mapInArrow(encode_iter, _ROWS_DDL) \
        .toArrow()
    store.commit(dfs, enc_dir, rows, [], _schema_map(df))
    return n, sorted(set(rows.column("pid").to_pylist()))


def incremental_encode(spark: SparkSession, landing_dir: str, enc_dir: str,
                       schema_ddl: str, checkpoint_dir: str,
                       run_id: str = "stream",
                       rows_per_pid: int = 250_000,
                       available_now: bool = True):
    """Start (and with available_now=True, drain) an incremental encode.

    Every micro-batch selects its codecs without bin_fsst
    (STREAM_EXCLUDED_CODECS).

    Returns the StreamingQuery (already stopped if available_now)."""
    stream = (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", 64)
        .parquet(landing_dir)
    )

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        _encode_increment(spark, batch_df, enc_dir, f"{run_id}-e{epoch_id}",
                          rows_per_pid)

    writer = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def encode_iceberg_increment(spark: SparkSession, table_dir: str,
                             enc_dir: str,
                             rows_per_pid: int = 250_000) -> dict:
    """One incremental run: encode into the blob store exactly the rows
    APPENDED to an Iceberg table since the last processed snapshot.

    The watermark is the store manifest itself — each run commits its
    pids with run_id "iceinc-<snapshot_id>", and the next run resumes
    after the highest such id. Because pids + manifest rows land in one
    atomic manifest swap, a crash either leaves the store at the old
    watermark (rerun re-encodes the same increment into fresh pids that
    REPLACE nothing — the old manifest still lacks the run, so no rows
    were committed twice) or at the new one: exactly-once without a side
    state file. Cost per run is O(new files) metadata + O(new rows)
    encode; non-append snapshots in range raise (incremental_scan).
    Like incremental_encode, it selects codecs without bin_fsst
    (STREAM_EXCLUDED_CODECS).

    Returns {"rows", "snapshot_id", "pids"}."""
    from parquet_toolkit_spark.sources.iceberg_compat import (
        incremental_scan,
        read_table_metadata,
    )

    mt = store.manifest_table(DriverFS(spark), enc_dir, ["run_id"])
    done = [int(r.split("-", 1)[1])
            for r in (mt.column("run_id").to_pylist() if mt is not None else [])
            if r is not None and r.startswith("iceinc-")]
    last = max(done) if done else None

    md = read_table_metadata(table_dir, spark)
    to_id = md["current_snapshot_id"]
    if to_id is None or to_id == last:
        return {"rows": 0, "snapshot_id": to_id, "pids": []}

    # allow_expired_from: expire_snapshots may have dropped the watermark
    # snapshot; recovery reads live entries committed after it instead of
    # wedging the pipeline forever (code-review r4)
    df = incremental_scan(spark, table_dir, last, to_id,
                          allow_expired_from=True)
    n, pids = _encode_increment(spark, df, enc_dir, f"iceinc-{to_id}",
                                rows_per_pid)
    return {"rows": n, "snapshot_id": to_id, "pids": pids}
