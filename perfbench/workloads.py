"""Workload registry."""

from __future__ import annotations

DEFAULT_SEED = 1  # confirm later claims on seed 2 as well

WHY = {
    "corpus_roundtrip": "the only workload that writes and reads the blob "
                        "store: layout shuffle, codecs and the pyarrow data "
                        "plane on the F0 corpus, plus 1v4 encode scaling",
    "toolkit": "toolkit verbs (compact, sort, split, append, CSV) and one "
               "query body per leaf family (Iceberg, dedup, streaming, "
               "vector, SQL): no codec or store call, so those read no "
               "change here",
}
NAMES = tuple(WHY)


def create(name: str, seed: int):
    if name == "corpus_roundtrip":
        from perfbench.corpus_roundtrip import Workload
    else:
        from perfbench.toolkit import Workload
    return Workload(seed)
