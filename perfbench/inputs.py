"""Seeded inputs, generated in this process and cached under a tag made of
seed and size (never an mtime). The same seed gives the same inputs."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from perfbench.common import WORK

CORPUS_ROWS = 30_000
CSV_ROWS = 125_000
CSV_TYPES = {
    "l_orderkey": "long", "l_partkey": "long", "l_suppkey": "long",
    "l_linenumber": "int", "l_quantity": "double",
    "l_extendedprice": "double", "l_discount": "double", "l_tax": "double",
    "l_returnflag": "string", "l_linestatus": "string",
    "l_shipmode": "string", "l_comment": "string",
}
_CSV_NULL_P = {"l_quantity": 0.02, "l_discount": 0.01, "l_shipmode": 0.03,
               "l_comment": 0.05}


def input_dir(kind: str, seed: int, size: int, extra: str = "") -> str:
    return os.path.join(WORK, "inputs", f"{kind}-s{seed}-n{size}{extra}")


def corpus(seed: int, n_files: int, rows: int = CORPUS_ROWS) -> str:
    """The F0 source-code corpus (datagen.write_corpus: mega-repo with 30%
    of the rows, log-normal content sizes), as n_files snappy files."""
    from parquet_toolkit_spark.datagen import write_corpus

    return write_corpus(input_dir("corpus", seed, rows, f"-f{n_files}"),
                        rows, n_files=n_files, seed=seed)


def corpus_facts(path: str) -> dict:
    """Row count, file count, on-disk and decoded sizes and an
    order-independent multiset hash of a corpus directory, cached beside
    it."""
    cache = os.path.join(path, "_facts.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    t = pq.read_table(path)
    files = pq.ParquetDataset(path).files
    facts = {"rows": t.num_rows, "files": len(files),
             "disk_bytes": sum(os.path.getsize(f) for f in files),
             "arrow_bytes": t.nbytes, "row_hash": multiset_hash(t)}
    with open(cache, "w") as fh:
        json.dump(facts, fh)
    return facts


def multiset_hash(table: pa.Table) -> str:
    """Order-independent hash of a table's rows: the wrapping sum of a
    per-row 64-bit hash, with the row count."""
    import pandas as pd

    cols = sorted(table.column_names)
    h = pd.util.hash_pandas_object(table.select(cols).to_pandas(),
                                   index=False).to_numpy(np.uint64)
    with np.errstate(over="ignore"):
        return f"{table.num_rows}:{int(h.sum(dtype=np.uint64)):016x}"


def lookups(seed: int, n: int) -> list[dict]:
    """A fixed-order closed loop of decode_where predicates: prefixes on the
    mega-repo, on small repos and on paths, in rotation."""
    rng = np.random.default_rng(seed + 1)
    out = []
    for i in range(n):
        a, b = int(rng.integers(0, 12)), int(rng.integers(0, 40))
        kind = ("mega", "small", "path")[i % 3]
        if kind == "mega":
            pred = {"repo": {"prefix": "org0/repo0"},
                    "path": {"prefix": f"src/main/component_{a}/module_{b}/"}}
        elif kind == "small":
            r = int(rng.integers(1, 211))
            pred = {"repo": {"prefix": f"org{r // 37}/repo{r}"}}
        else:
            pred = {"path": {"prefix":
                             f"src/main/component_{a}/module_{b}/file_{a}"}}
        out.append({"kind": kind, "pred": pred})
    return out


def expected_lookup_rows(corpus_path: str, preds: list[dict]) -> list[int]:
    """Each lookup's row count by a pyarrow filter of the corpus itself."""
    t = pq.read_table(corpus_path, columns=["repo", "path"])
    out = []
    for p in preds:
        mask = None
        for col, spec in p["pred"].items():
            m = pc.fill_null(pc.starts_with(t[col], spec["prefix"]), False)
            mask = m if mask is None else pc.and_(mask, m)
        out.append(int(pc.sum(mask).as_py() or 0))
    return out


def lineitem_csv(seed: int, rows: int = CSV_ROWS) -> tuple[str, dict]:
    """A lineitem-shaped typed CSV with empty cells; returns its path and
    the expected per-column null counts."""
    d = input_dir("lineitem_csv", seed, rows)
    path = os.path.join(d, "lineitem.csv")
    facts_path = os.path.join(d, "_facts.json")
    if os.path.exists(facts_path):
        with open(facts_path) as fh:
            return path, json.load(fh)
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed + 2)
    words = np.array("quick brown fox slyly ironic final deposits furious "
                     "pending requests packages accounts".split())
    cols = {
        "l_orderkey": np.sort(rng.integers(1, rows // 4, rows)),
        "l_partkey": rng.integers(1, 20_000, rows),
        "l_suppkey": rng.integers(1, 1_000, rows),
        "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
        "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, rows), 2),
        "l_discount": np.round(rng.integers(0, 11, rows) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, rows) / 100, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), rows),
        "l_linestatus": rng.choice(np.array(["F", "O"]), rows),
        "l_shipmode": rng.choice(np.array(
            ["AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "REG AIR", "FOB"]), rows),
        "l_comment": np.char.add(np.char.add(rng.choice(words, rows), " "),
                                 rng.choice(words, rows)),
    }
    arrays, nulls = {}, {}
    for name, v in cols.items():
        mask = rng.random(rows) < _CSV_NULL_P.get(name, 0.0)
        arrays[name] = pa.array(v, mask=mask)
        nulls[name] = int(mask.sum())
    tmp = path + ".tmp"
    pacsv.write_csv(pa.table(arrays), tmp)
    os.replace(tmp, path)
    facts = {"rows": rows, "nulls": nulls, "bytes": os.path.getsize(path)}
    with open(facts_path, "w") as fh:
        json.dump(facts, fh)
    return path, facts
