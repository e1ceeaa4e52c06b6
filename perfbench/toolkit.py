"""toolkit: the reference toolkit's verbs (perfbench/maintenance.py), then
one `__spark_entry__` query body per leaf family (perfbench/leaf_suite.py).
Neither half calls the codecs or the blob store.

One pass runs every verb and then every leaf; passes repeat until the
window closes. The end-to-end metrics weigh every op kind the same:
`pass_s` sums the kinds' median run times and `op_gmean_ms` is their
geometric mean.
"""

from __future__ import annotations

import statistics

from perfbench.leaf_suite import Leaves
from perfbench.maintenance import Verbs


class Workload:
    name = "toolkit"

    def __init__(self, seed: int):
        self.verbs = Verbs(seed)
        self.leaves = Leaves()
        self.parts = (self.verbs, self.leaves)

    def make_inputs(self) -> dict:
        a, b = (p.make_inputs() for p in self.parts)
        return {k: a[k] + b[k] for k in a}

    def bind(self, spark, rec, tracer):
        self.rec = rec
        for p in self.parts:
            p.bind(spark, rec, tracer)

    def run_pass(self, warm: bool) -> None:
        for p in self.parts:
            p.run_pass(warm)

    def check(self) -> None:
        for p in self.parts:
            p.check()

    def values(self) -> dict:
        med = {**self.verbs.medians(), **self.leaves.medians()}
        self.samples = {**self.verbs.samples, **self.leaves.samples}
        pass_s = sum(med.values())
        return {
            "pass_s": pass_s,
            **self.rec.pass_totals(med),
            # on-disk input bytes one pass reads, per second of the pass
            "throughput_gbps": (self.verbs.pass_bytes()
                                + self.leaves.pass_bytes()) / 1e9 / pass_s,
            "op_gmean_ms": statistics.geometric_mean(med.values()) * 1e3,
            **self.verbs.values(),
            **self.leaves.values(self.window_s),
        }

    def traced_extras(self, out: dict) -> None:
        for p in self.parts:
            p.traced_extras(out)

    def cleanup(self) -> None:
        self.leaves.cleanup()
