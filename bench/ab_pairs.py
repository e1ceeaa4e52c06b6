"""Interleaved A/B of two checkouts on one perfbench workload.

    python3 bench/ab_pairs.py PARENT_DIR CHANGE_DIR \
        --workload corpus_roundtrip --seed 1 --pairs 10 [--out ab.json]

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds 12
--trace 0` once in each checkout, one after the other; the side that runs
first alternates from pair to pair, so slow host minutes fall on both
sides. Each checkout runs its own program files and its own copy of the
benchmark, and the metric list (names, better direction, bound) comes
from the parent's BENCHMARK.json.

Printed per end-to-end metric: each side's median [Q1-Q3], the change's
median against the parent's, the pairs the change won out of all pairs run
(a pair with an errored run, or a tie, is not won), and the gain rule:
"met" needs wins in at least 9/10 of the pairs and a median gain larger
than the parent's IQR; it is "not met" whenever the change's runs failed
more ops in total than the parent's; and it is "unresolved" when the
parent's IQR is wider than the metric's bound (as a share of its median)
unless every change run beats every parent run. Then, per op, each side's
median over runs of the per-run op medians (ms), and every run's
correct/attempted/failed counts and hypervisor steal seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int) -> dict:
    """One perfbench run in `checkout`: {record, result} or {error}."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "12", "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return {"error": f"exit {p.returncode}: {p.stderr[-2000:]}"}
    return {"record": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def quartiles(v: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3), as perfbench summarizes its samples."""
    if len(v) == 1:
        return v[0], v[0], v[0]
    return tuple(statistics.quantiles(sorted(v), n=4))


def report(runs: list[dict], metrics: list[dict]) -> list[str]:
    """The printed report for pairs of {"parent": run, "change": run}."""
    ok = [p for p in runs
          if "error" not in p["parent"] and "error" not in p["change"]]
    out = [f"{len(ok)} of {len(runs)} pairs completed on both sides"]
    if not ok:
        return out

    def metric(side, name):
        return [p[side]["result"]["metrics"][name]["value"] for p in ok]

    failed = {side: sum(p[side]["result"]["failed"] for p in ok)
              for side in ("parent", "change")}
    out.append("end-to-end: parent median [Q1-Q3] -> change median [Q1-Q3]"
               ", change wins of all pairs, gain rule")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a, b = metric("parent", name), metric("change", name)
        a1, am, a3 = quartiles(a)
        b1, bm, b3 = quartiles(b)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        gain = (am - bm) if lower else (bm - am)
        separated = max(b) < min(a) if lower else min(b) > max(a)
        if failed["change"] > failed["parent"]:
            rule = "not met (more failed ops)"
        elif (a3 - a1) > m["bound"] * abs(am) and not separated:
            rule = "unresolved (parent IQR wider than the bound)"
        elif wins >= 0.9 * len(runs) and gain > a3 - a1:
            rule = "met"
        else:
            rule = "not met"
        out.append(
            f"  {name:16s} {am:.5g} [{a1:.5g}-{a3:.5g}] -> "
            f"{bm:.5g} [{b1:.5g}-{b3:.5g}] ({(bm / am - 1) * 100:+.1f}%), "
            f"wins {wins}/{len(runs)}, gain rule {rule}"
            f" (bound {m['bound']:.0%})")

    ops = sorted({k for p in ok for side in ("parent", "change")
                  for k in p[side]["record"]["samples"]})
    out.append("per op: median over runs of each run's median (ms), "
               "parent -> change")
    for op in ops:
        cells = []
        for side in ("parent", "change"):
            v = [p[side]["record"]["samples"][op]["median"] * 1e3
                 for p in ok if op in p[side]["record"]["samples"]]
            cells.append(f"{statistics.median(v):.0f}" if v else "-")
        out.append(f"  {op:28s} {cells[0]} -> {cells[1]}")

    out.append("runs: pair side correct attempted failed steal_s")
    for i, p in enumerate(runs):
        for side in p["order"]:
            r = p[side]
            if "error" in r:
                out.append(f"  {i} {side} ERROR {r['error'].splitlines()[-1:]}")
                continue
            res, rec = r["result"], r["record"]
            out.append(f"  {i} {side} {res['correct']} {res['attempted']} "
                       f"{res['failed']} {rec['window_steal_s']:.2f}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out", help="write every run's record and result here")
    args = ap.parse_args()
    with open(os.path.join(args.parent, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    runs = []
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"order": order}
        for side in order:
            checkout = args.parent if side == "parent" else args.change
            pair[side] = run_once(checkout, args.workload, args.seed)
            print(f"pair {i} {side}: "
                  f"{'error' if 'error' in pair[side] else 'done'}",
                  file=sys.stderr, flush=True)
        runs.append(pair)
        if args.out:
            with open(args.out, "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "pairs": runs}, fh)
    print("\n".join(report(runs, metrics)))
    return 0 if all("error" not in p[s] for p in runs
                    for s in ("parent", "change")) else 1


if __name__ == "__main__":
    sys.exit(main())
