#!/usr/bin/env python
"""Codec census: for every column of the given chunks, the codec the
selector chooses, its size and the size of every codec of the column's
kind; for every string column also the FSST screen's two zstd
measurements and the trial.

    python3 bench/codec_census.py PATH [PATH ...] [--pids 0,3,6]
    python3 bench/codec_census.py --f0 1 2 3 5 7 --pids 0,3,6

A PATH is a parquet file or a directory of parquet files, such as a
`layout_stage` staging dir (one `part-NNNNN` file per pid); each file is
cut into chunks of 65 536 rows. `--f0 SEED ...` writes the F0 corpus
(`datagen.write_corpus`, 30 k rows in 64 files) to a temporary dir and
stages it the way an 8-pid `layout_stage` does: sorted by (repo, path,
commit), 3750 rows per pid. `--pids` keeps only those chunk indices.

Sizes table, one row per column per chunk:
  kind     the chunk kind (int, float, bool, bin, flist, nested)
  chosen   `select_codec`'s pick with every gate applied
  size     its blob size in bytes
  hint     the plan_hints choice for the column
  sizes    codec=bytes for every codec of the kind ("-" if it cannot
           encode the chunk); a codec that never has the smallest size
           across the census does not earn its place

FSST table, one row per string column per chunk:
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
from parquet_toolkit_spark.codecs.container import (  # noqa: E402
    _ZSTD,
    encode_blob,
)
from parquet_toolkit_spark.codecs.impl import ALL_CODECS  # noqa: E402

F0_ROWS, F0_FILES, F0_PIDS = 30_000, 64, 8
F0_SORT = ("repo", "path", "commit")
CHUNK_ROWS = 65_536


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
    tables = [pq.read_table(f) for f in sorted(set(files))]
    return [t.slice(i, CHUNK_ROWS) for t in tables
            for i in range(0, max(1, t.num_rows), CHUNK_ROWS)]


def family_sizes(chunk) -> dict[str, int | None]:
    """Blob size of every codec of the chunk's kind; None where the codec
    cannot encode it."""
    sizes = {}
    for codec in sorted(ALL_CODECS):
        if codec.split("_")[0] != chunk.kind:
            continue
        try:
            sizes[codec] = len(encode_blob(chunk, codec))
        except (TypeError, ValueError):  # e.g. float_alp on float32
            sizes[codec] = None
    return sizes


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


def is_string(t: pa.DataType) -> bool:
    return (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t))


def census(name: str, chunks: list[tuple[int, pa.Table]]
           ) -> tuple[list[dict], list[dict]]:
    """(sizes rows for every column, FSST rows for the string columns)."""
    sizes, fsst = [], []
    for idx, table in chunks:
        cols = {n: table.column(n).combine_chunks()
                for n in table.schema.names}
        hints = sel.plan_hints(cols)
        for col, arr in cols.items():
            chunk = from_arrow(arr)
            chosen, blob, stats = sel.select_codec(chunk)
            where = {"source": name, "chunk": idx, "column": col}
            sizes.append({**where, "kind": chunk.kind, "chosen": chosen,
                          "size": len(blob), "hint": hints[col][0],
                          "sizes": family_sizes(chunk)})
            if is_string(arr.type):
                fsst.append({**where, **census_row(chunk, stats),
                             "hint": hints[col][0]})
    return sizes, fsst


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
    sizes, fsst = [], []

    def add(name: str, tables: list[pa.Table]) -> None:
        s_rows, f_rows = census(name, pick(tables))
        sizes.extend(s_rows)
        fsst.extend(f_rows)

    with tempfile.TemporaryDirectory() as work:
        for seed in args.f0:
            add(f"f0-seed{seed}", f0_pids(seed, work))
    for path in args.paths:
        add(os.path.basename(os.path.normpath(path)), path_chunks(path))
    print(f"{'source':<24} {'chunk':>5} {'column':<18} {'kind':<6} "
          f"{'chosen':<14} {'size':>10} {'hint':<14} sizes")
    for r in sizes:
        fam = " ".join(f"{c}={fmt(n, 'd')}" for c, n in r["sizes"].items())
        print(f"{r['source']:<24} {r['chunk']:>5} {r['column']:<18} "
              f"{r['kind']:<6} {r['chosen']:<14} {r['size']:>10} "
              f"{r['hint']:<14} {fam}")
    if not fsst:
        return
    print()
    print(f"{'source':<24} {'chunk':>5} {'column':<18} {'bytes':>10} "
          f"{'H0':>5} {'A':>6} {'B':>6} {'gate':<8} {'screen':<6} "
          f"{'trial':<6} {'ratio':>6} hint")
    for r in fsst:
        print(f"{r['source']:<24} {r['chunk']:>5} {r['column']:<18} "
              f"{r['bytes']:>10} {r['H0']:>5.2f} {fmt(r['A'], '6.3f')} "
              f"{fmt(r['B'], '6.3f')} {r['gate']:<8} {r['screen']:<6} "
              f"{r['trial']:<6} {fmt(r['ratio'], '6.3f')} {r['hint']}")

if __name__ == "__main__":
    main()
