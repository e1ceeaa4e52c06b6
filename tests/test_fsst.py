"""FSST tests: the incremental-count build_table must return exactly the
merge list of the recount-per-round reference builder below (which fixes
every bin_fsst blob and every FSST gate verdict), and the vectorized
local-min-rank apply_merges must decode exactly and track the
sequential-greedy reference's output size.

Reference parity: the toolkit has no string codec (it defers to parquet-mr
page encodings, sort/DefaultParquetFileWriter.java:80-85); FSST is
north-rule scope, from the public VLDB 2020 paper.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from conftest import TESTDATA
from parquet_toolkit_spark.codecs import fsst as fm


def _corpus(n_words: int = 200_000, seed: int = 7) -> bytes:
    rng = random.Random(seed)
    words = ["def ", "return ", "import ", "self.", "value", "index",
             "    ", "for i in range(", "):\n", "# c\n", "spark", "col"]
    return "".join(rng.choice(words) for _ in range(n_words)).encode()


def _reference_build_table(sample: bytes, max_symbols: int = fm.MAX_SYMBOLS,
                           min_count: int = 4) -> list[tuple[int, int]]:
    """The recount-per-round builder build_table replaced: every round
    re-parses the 2-byte token buffer, recounts every eligible pair and
    applies the winner with one `bytes.replace` pass."""
    if not sample:
        return []
    max_symbols = min(max_symbols, fm.MAX_SYMBOLS)
    buf = fm._expand_to_tokens(sample)
    sym_len = np.ones(256 + max_symbols + 1, dtype=np.int64)
    merges: list[tuple[int, int]] = []
    for _ in range(max_symbols):
        toks = fm._parse_tokens(buf)
        if len(toks) < 2:
            break
        lo_a, lo_b = toks[:-1] & 255, toks[1:] & 255
        ok = (
            (sym_len[toks[:-1]] + sym_len[toks[1:]] <= fm.MAX_SYMBOL_LEN)
            & (lo_a < fm._HI_BASE)
            & (lo_b < fm._HI_BASE)
        )
        if not ok.any():
            break
        pairs = toks[:-1].astype(np.int64)[ok] * 1024 + toks[1:][ok]
        cnt = np.bincount(pairs)
        best = int(cnt.argmax())
        if int(cnt[best]) < min_count:
            break
        a, b = divmod(best, 1024)
        new_tok = 256 + len(merges)
        merges.append((a, b))
        sym_len[new_tok] = sym_len[a] + sym_len[b]
        buf = buf.replace(fm._tok2(a) + fm._tok2(b), fm._tok2(new_tok))
    return merges


def _digest(merges: list[tuple[int, int]]) -> str:
    # the bin_fsst "merges" section layout: uint16 (a, b) pairs
    return hashlib.sha256(np.asarray(merges, dtype="<u2").tobytes()).hexdigest()


# merge lists of build_table on the seeded corpora, recorded with the
# reference builder: (corpus seed, min_count) -> (n_merges, sha256)
_CORPUS_DIGESTS = {
    (7, 2): (130, "8cf11e38ccec1ed4f4a28086e1e167d9ef282a77b0cb7311fd9cd22de4f6f00d"),
    (7, 4): (121, "78381ed56a2642fea002774a894a01cdee5455c194294dfe12492b83260e4a4b"),
    (11, 2): (131, "04afd8c92f123817cfdde73e0317af449a4e9950d98fde4c411b7e7d98922469"),
    (11, 4): (122, "109075879dedb95ca3e592c88549362da601e6b767d1457b6b40fed1cf1e0851"),
    (23, 2): (133, "6b005ad161c80f80d3a6ee58c1ea813a1c28cfd4537fc30cd8513afbf73dccf6"),
    (23, 4): (125, "212088361440ca36bff62c02fa711b8c9834ee07f2ccb614354d9e7952fed858"),
}


@pytest.mark.parametrize("seed,min_count", sorted(_CORPUS_DIGESTS))
def test_build_table_pinned_digests(seed, min_count):
    merges = fm.build_table(_corpus(seed=seed)[:65536], min_count=min_count)
    assert (len(merges), _digest(merges)) == _CORPUS_DIGESTS[seed, min_count]


@pytest.mark.parametrize("data", [
    b"",
    b"a",
    b"\xfe",
    b"ab",
    *(b"a" * n for n in (2, 3, 8, 9, 16, 17, 1000, 1001)),
    b"\xfe\xff" * 500 + b"ab" * 50,
    b"a\xfea\xffa" * 300,
    b"abcdefghijklmnopq" * 400,  # symbols saturate the 8-byte cap
    "héllo wörld ∂∆ 中文🎉 ".encode() * 200,
    bytes(range(256)) * 20,
], ids=lambda d: f"{d[:6]!r}x{len(d)}")
@pytest.mark.parametrize("min_count", [1, 2, 4])
@pytest.mark.parametrize("max_symbols", [fm.MAX_SYMBOLS, 9])
def test_build_table_matches_reference_edges(data, min_count, max_symbols):
    assert (fm.build_table(data, max_symbols, min_count)
            == _reference_build_table(data, max_symbols, min_count))


_SAMPLES = st.one_of(
    st.binary(max_size=4000),
    st.integers(0, 3000).map(lambda n: b"a" * n),
    st.lists(st.sampled_from([b"a", b"b", b"ab", b"\xfe", b"\xff"]),
             max_size=2000).map(b"".join),
    st.text(alphabet="héllo wörld∂∆中文🎉 \n", max_size=1500).map(str.encode),
    st.tuples(st.binary(min_size=1, max_size=12),
              st.integers(1, 400)).map(lambda t: t[0] * t[1]),
)


@settings(max_examples=150, deadline=None)
@given(_SAMPLES, st.sampled_from([1, 2, 4]), st.sampled_from([fm.MAX_SYMBOLS, 40, 1]))
def test_build_table_matches_reference_property(data, min_count, max_symbols):
    assert (fm.build_table(data, max_symbols, min_count)
            == _reference_build_table(data, max_symbols, min_count))


# Codec gate decisions on a small staged F0 corpus, recorded before the
# incremental builder landed: the builder must change none of them.
_GATE_HINTS = {
    "repo": ["bin_plain"],
    "path": ["bin_fsst", "bin_plain"],
    "commit": ["bin_plain"],
    "lang": ["bin_dict", "bin_plain"],
    "content": ["bin_plain"],
}
_GATE_FSST_WINS = {"repo": False, "path": True, "commit": False,
                   "lang": True, "content": False}


@pytest.fixture(scope="module")
def staged_corpus_cols(tmp_path_factory):
    """A seeded F0 corpus sorted by (repo, path), as one staged pid would
    hold it — written and read with pyarrow, no Spark job."""
    from parquet_toolkit_spark.datagen import write_corpus

    src = write_corpus(str(tmp_path_factory.mktemp("corpus")), 2000,
                       n_files=4, seed=5)
    table = pq.read_table(src).sort_by([("repo", "ascending"),
                                        ("path", "ascending")])
    return {n: table.column(n).combine_chunks() for n in table.schema.names}


def test_plan_hints_pinned(staged_corpus_cols):
    from parquet_toolkit_spark.codecs.selector import plan_hints

    assert plan_hints(staged_corpus_cols) == _GATE_HINTS


def test_fsst_gate_verdicts_pinned(staged_corpus_cols):
    from parquet_toolkit_spark.codecs.chunk import from_arrow
    from parquet_toolkit_spark.codecs.selector import _fsst_sample_wins

    verdicts = {n: _fsst_sample_wins(from_arrow(a).data)
                for n, a in staged_corpus_cols.items()}
    assert verdicts == _GATE_FSST_WINS


# The FSST screen (selector._fsst_screen) may only say no: every column it
# rejects must be one the 1 MB trial rejects. Checked on every string
# column that reaches the gate, over the stores the system writes and the
# fixtures, plus the codec tests' inputs and low-entropy iid strings
# (where zstd sits far above H0 and a token stream wins).
_SF_DIRS = tuple(os.path.join(TESTDATA, sf) for sf in ("sf0.01", "sf0.1"))


def _staged_f0_pids(root: str, seed: int) -> list:
    """The 30 k-row F0 corpus of `seed` as an 8-pid layout_stage stages
    it: sorted by (repo, path, commit), 3750 rows per pid."""
    from parquet_toolkit_spark.datagen import write_corpus

    src = write_corpus(os.path.join(root, f"f0-{seed}"), 30_000,
                       n_files=64, seed=seed)
    table = pq.read_table(src).sort_by(
        [(k, "ascending") for k in ("repo", "path", "commit")])
    return [table.slice(i * 3750, 3750) for i in range(8)]


def _low_entropy_docs() -> dict:
    out = {}
    for weights in ((49, 49, 2), (9, 1), (7, 2, 1), (60, 30, 5, 5)):
        rng = random.Random(1)
        alphabet = "FOPQ"[:len(weights)]
        out[f"iid{weights}"] = ["".join(rng.choices(alphabet, weights, k=40))
                                for _ in range(20_000)]
    return out


def _gated_columns(name: str, table) -> dict:
    """(source, column) -> chunk for the string columns of `table` that
    reach the FSST step of candidate_codecs."""
    import pyarrow as pa

    from parquet_toolkit_spark.codecs.chunk import from_arrow
    from parquet_toolkit_spark.codecs.selector import (
        FSST_MAX_BYTES,
        profile_chunk,
    )

    out = {}
    for col in table.schema.names:
        if not pa.types.is_string(table.schema.field(col).type):
            continue
        chunk = from_arrow(table.column(col).combine_chunks())
        stats = profile_chunk(chunk)
        if (stats["distinct_ratio"] >= 0.5 and stats["byte_entropy"] < 6.5
                and len(chunk.data) <= FSST_MAX_BYTES):
            out[(name, col)] = (chunk, stats["byte_entropy"])
    return out


@pytest.fixture(scope="module")
def screen_corpus(tmp_path_factory, staged_corpus_cols):
    import pyarrow as pa

    root = str(tmp_path_factory.mktemp("screen"))
    cols = {}
    for seed in (1, 2):
        for pid, table in enumerate(_staged_f0_pids(root, seed)):
            cols.update(_gated_columns(f"f0-{seed}-{pid}", table))
    cols.update(_gated_columns("f0-pinned", pa.table(staged_corpus_cols)))
    for sf in _SF_DIRS:
        if os.path.isdir(sf):
            for t in ("documents", "customer", "supplier"):
                cols.update(_gated_columns(
                    f"{os.path.basename(sf)}.{t}",
                    pq.read_table(f"{sf}/{t}.parquet")))
    rng = random.Random(7)
    words = ["the", "quick", "brown", "fox", "jumps", "over", "lazy",
             "dog", "while", "reading", "spark", "manifests", "daily"]
    synthetic = {
        "word_docs": [" ".join(rng.choices(words, k=120))
                      for _ in range(1200)],
        "random_hex": ["".join(hashlib.sha256(str(i).encode()).hexdigest()
                               for i in range(4000))],
        **_low_entropy_docs(),
    }
    for name, values in synthetic.items():
        cols.update(_gated_columns(name, pa.table({"v": values})))
    return cols


def test_fsst_screen_only_rejects_what_the_trial_rejects(screen_corpus):
    from parquet_toolkit_spark.codecs.container import _ZSTD
    from parquet_toolkit_spark.codecs.selector import (
        _FSST_TRIAL_BYTES,
        _fsst_sample_wins,
        _fsst_screen,
    )

    screened = set()
    for key, (chunk, h0) in screen_corpus.items():
        plain = _fsst_screen(chunk.data, h0)
        wins = _fsst_sample_wins(chunk.data)
        if plain is None:
            screened.add(key)
            assert wins is False, f"screen rejects {key}, the trial admits"
        else:  # the size handed to the trial is the one it would compute
            sample = chunk.data[:_FSST_TRIAL_BYTES]
            assert plain == len(_ZSTD.compress(sample, asbytes=True)), key
            assert _fsst_sample_wins(chunk.data, plain) == wins, key
    f0 = {k for k in screen_corpus if k[0].startswith("f0-")}
    assert {c for _, c in screened & f0} == {"commit", "content"}
    assert {k for k in f0 if k[1] in ("commit", "content")} <= screened
    reach = set(screen_corpus) - screened
    assert {k for k in f0 if k[1] == "path"} <= reach
    assert {k for k in screen_corpus if k[1] == "text"} <= reach
    assert ("sf0.01.documents", "text") in reach
    assert ("random_hex", "v") in screened
    assert {k for k in screen_corpus if k[0].startswith("iid")} <= reach


def test_fast_apply_roundtrips_and_tracks_greedy_size():
    doc = _corpus()
    merges = fm.build_table(doc[:65536])
    assert merges, "corpus should produce a non-trivial table"
    fast = fm.apply_merges(doc, merges)
    assert fm.expand_tokens(fast, merges) == doc
    ref = fm.apply_merges_replace(doc, merges)
    assert fm.expand_tokens(ref.astype(np.int32), merges) == doc
    # local-min-rank order may differ from sequential greedy by a hair
    assert len(fast) <= len(ref) * 1.01


@pytest.mark.parametrize("data", [
    b"",
    b"a",
    b"a" * 100_001 + b"bcd",             # tie-run parity path
    (b"ab" * 3 + b"a" * 7 + b"xy") * 5000,
    bytes(random.Random(3).getrandbits(8) for _ in range(200_000)),  # hex-ish
    "héllo wörld ∂∆ " .encode() * 9000,  # multibyte utf-8
])
def test_fast_apply_edge_inputs(data):
    merges = fm.build_table(data[:65536])
    toks = fm.apply_merges(data, merges)
    assert fm.expand_tokens(toks.astype(np.int32), merges) == data


def test_fast_apply_block_boundaries():
    # buffer > one 128K block: blocks encode independently yet decode joins
    doc = _corpus(n_words=120_000)
    assert len(doc) > fm._BLK
    merges = fm.build_table(doc[:65536])
    toks = fm.apply_merges(doc, merges)
    assert fm.expand_tokens(toks, merges) == doc


def test_fast_apply_no_merges_and_tiny():
    assert fm.apply_merges(b"abc", []).tolist() == [97, 98, 99]
    doc = b"the the the the the the"
    merges = fm.build_table(doc, min_count=2)
    toks = fm.apply_merges(doc, merges)  # <=4096 bytes: replace path
    assert fm.expand_tokens(toks.astype(np.int32), merges) == doc


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=20_000))
def test_fast_apply_property_roundtrip(data):
    merges = fm.build_table(data[:4096], min_count=2)
    toks = fm.apply_merges(data, merges)
    assert fm.expand_tokens(toks.astype(np.int32), merges) == data
