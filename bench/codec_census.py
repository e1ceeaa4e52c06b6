#!/usr/bin/env python
"""Codec census: the FSST screen's two zstd measurements, the trial and
the plan_hints choice for every string column of the given chunks.

    python3 bench/codec_census.py PATH [PATH ...] [--pids 0,3,6]
    python3 bench/codec_census.py --f0 1 2 3 5 7 --pids 0,3,6

A PATH is a parquet file (one chunk) or a directory of parquet files,
such as a `layout_stage` staging dir (one `part-NNNNN` file per pid,
read as one chunk each). `--f0 SEED ...` writes the F0 corpus
(`datagen.write_corpus`, 30 k rows in 64 files) to a temporary dir and
stages it the way an 8-pid `layout_stage` does: sorted by (repo, path,
commit), 3750 rows per pid. `--pids` keeps only those chunk indices.

One row per string column per chunk:
  bytes    payload bytes of the column chunk
  H0       byte entropy of the 64 KB head (bits/byte)
  A        head zstd ratio / (H0 / 8); the screen rejects in [0.9, 1.2)
  B        1 MB slice zstd ratio / head zstd ratio, when the slice is
           >= 4x the head; the screen rejects below 0.85
  gate     whether candidate_codecs reaches the FSST step ("fsst"), or
           why not ("dict", "H0>=6.5", "size")
  screen   pass, or the rule that rejects (A or B)
  trial    `_fsst_sample_wins` verdict (admit/reject), run on every column
  ratio    the trial's token-stream zstd size / plain zstd size
  hint     the plan_hints choice for the column
No Spark session is started.
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from parquet_toolkit_spark.codecs import selector as sel  # noqa: E402
from parquet_toolkit_spark.codecs.chunk import from_arrow  # noqa: E402
from parquet_toolkit_spark.codecs.container import _ZSTD  # noqa: E402

F0_ROWS, F0_FILES, F0_PIDS = 30_000, 64, 8
F0_SORT = ("repo", "path", "commit")


def f0_pids(seed: int, workdir: str) -> list[pa.Table]:
    """The F0 corpus of `seed`, staged as an 8-pid layout_stage does."""
    from parquet_toolkit_spark.datagen import write_corpus

    src = write_corpus(os.path.join(workdir, f"f0-{seed}"), F0_ROWS,
                       n_files=F0_FILES, seed=seed)
    table = pq.read_table(src).sort_by([(k, "ascending") for k in F0_SORT])
    per = -(-table.num_rows // F0_PIDS)
    return [table.slice(i * per, per) for i in range(F0_PIDS)]


def path_chunks(path: str) -> list[pa.Table]:
    files = (sorted(glob.glob(os.path.join(path, "*.parquet"))
                    + glob.glob(os.path.join(path, "part-*")))
             if os.path.isdir(path) else [path])
    return [pq.read_table(f) for f in sorted(set(files))]


def zsize(b: bytes) -> int:
    return len(_ZSTD.compress(b, asbytes=True))


def census_row(chunk, stats: dict) -> dict:
    """The screen's measurements, its verdict and the trial's, for one
    bin chunk."""
    data = chunk.data
    h0 = stats["byte_entropy"]
    sample = data[:sel._FSST_TRIAL_BYTES]
    head = sample[:sel._SAMPLE]
    a = b = None
    if len(head):
        head_ratio = zsize(head) / len(head)
        a = head_ratio / (h0 / 8) if h0 > 0 else None
        if len(sample) >= 4 * len(head) and head_ratio:
            b = zsize(sample) / len(sample) / head_ratio
    if stats.get("distinct_ratio", 1.0) < 0.5:
        gate = "dict"
    elif h0 >= 6.5:
        gate = "H0>=6.5"
    elif len(data) > sel.FSST_MAX_BYTES:
        gate = "size"
    else:
        gate = "fsst"
    screen = "pass"
    if sel._fsst_screen(data, h0) is None:
        lo, hi = sel._FLAT_BAND
        screen = "A" if a is not None and lo <= a < hi else "B"
    ratio = None
    if len(sample) >= 1024:
        fz = sel._fsst_trial_zstd(sample)
        ratio = fz / zsize(sample) if fz is not None else None
    return {"bytes": len(data), "H0": h0, "A": a, "B": b, "gate": gate,
            "screen": screen,
            "trial": "admit" if sel._fsst_sample_wins(data) else "reject",
            "ratio": ratio}


def census(name: str, chunks: list[tuple[int, pa.Table]]) -> list[dict]:
    rows = []
    for idx, table in chunks:
        cols = {n: table.column(n).combine_chunks()
                for n in table.schema.names
                if pa.types.is_string(table.schema.field(n).type)
                or pa.types.is_large_string(table.schema.field(n).type)
                or pa.types.is_binary(table.schema.field(n).type)
                or pa.types.is_large_binary(table.schema.field(n).type)}
        hints = sel.plan_hints(cols)
        for col, arr in cols.items():
            chunk = from_arrow(arr)
            row = census_row(chunk, sel.profile_chunk(chunk))
            rows.append({"source": name, "chunk": idx, "column": col,
                         **row, "hint": hints[col][0]})
    return rows


def fmt(v, spec: str) -> str:
    return "-" if v is None else format(v, spec)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="*")
    ap.add_argument("--f0", type=int, nargs="*", default=[],
                    metavar="SEED")
    ap.add_argument("--pids", default="",
                    help="comma-separated chunk indices to keep")
    args = ap.parse_args()
    keep = {int(p) for p in args.pids.split(",") if p}
    pick = (lambda ts: [(i, t) for i, t in enumerate(ts)
                        if not keep or i in keep])
    rows = []
    with tempfile.TemporaryDirectory() as work:
        for seed in args.f0:
            rows += census(f"f0-seed{seed}", pick(f0_pids(seed, work)))
    for path in args.paths:
        rows += census(os.path.basename(os.path.normpath(path)),
                       pick(path_chunks(path)))
    print(f"{'source':<24} {'chunk':>5} {'column':<14} {'bytes':>10} "
          f"{'H0':>5} {'A':>6} {'B':>6} {'gate':<8} {'screen':<6} "
          f"{'trial':<6} {'ratio':>6} hint")
    for r in rows:
        print(f"{r['source']:<24} {r['chunk']:>5} {r['column']:<14} "
              f"{r['bytes']:>10} {r['H0']:>5.2f} {fmt(r['A'], '6.3f')} "
              f"{fmt(r['B'], '6.3f')} {r['gate']:<8} {r['screen']:<6} "
              f"{r['trial']:<6} {fmt(r['ratio'], '6.3f')} {r['hint']}")


if __name__ == "__main__":
    main()
