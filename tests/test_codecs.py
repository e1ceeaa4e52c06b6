"""Codec round-trip tests (no Spark): decode(encode(x)) == x byte-exact.

Mirrors FIXTURES.md codec micro-fixtures: const, runs, low-card, monotonic,
random-hex, prefix strings, unicode bytes, nulls, empty/single chunks.
"""

import numpy as np
import pyarrow as pa
import pytest

from parquet_toolkit_spark.codecs import impl
from parquet_toolkit_spark.codecs.chunk import ColumnChunk, from_arrow, to_arrow
from parquet_toolkit_spark.codecs.container import decode_blob, encode_blob
from parquet_toolkit_spark.codecs.selector import profile_chunk, select_codec

rng = np.random.default_rng(42)


def _bin_chunk(values: list[bytes | None]) -> ColumnChunk:
    arr = pa.array(values, type=pa.large_binary())
    return from_arrow(arr)


def _roundtrip(chunk: ColumnChunk, codec: str) -> ColumnChunk:
    blob = encode_blob(chunk, codec)
    return decode_blob(blob)


# ------------------------------------------------------------------- ints

INT_FIXTURES = {
    "const": np.full(10_000, 7, dtype=np.int64),
    "runs": np.repeat(np.arange(37, dtype=np.int64), rng.integers(1, 5000, 37)),
    "monotonic": np.cumsum(rng.integers(0, 50, 20_000)).astype(np.int64),
    "random_wide": rng.integers(-(2**62), 2**62, 5000, dtype=np.int64),
    "negatives": rng.integers(-1000, -1, 1000, dtype=np.int64),
    "single": np.array([-(2**62)], dtype=np.int64),
    "empty": np.zeros(0, dtype=np.int64),
    "extremes": np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0], dtype=np.int64),
}


@pytest.mark.parametrize("codec", list(impl.INT_CODECS))
@pytest.mark.parametrize("name", list(INT_FIXTURES))
def test_int_roundtrip(codec, name):
    v = INT_FIXTURES[name]
    if codec in ("int_for", "int_delta") and name == "extremes":
        pytest.skip("range exceeds uint64 delta space by design; selector "
                    "guards via int_plain floor")
    chunk = ColumnChunk("int", len(v), values=v, meta={"arrow_type": "int64"})
    out = _roundtrip(chunk, codec)
    np.testing.assert_array_equal(out.values, v)


def test_int_for_full_range_guard():
    # FOR/delta on extreme spread must either round-trip or be avoided by
    # the selector; verify the selector picks a safe codec.
    v = INT_FIXTURES["extremes"]
    chunk = ColumnChunk("int", len(v), values=v, meta={"arrow_type": "int64"})
    codec, blob, _ = select_codec(chunk)
    out = decode_blob(blob)
    np.testing.assert_array_equal(out.values, v)


# ------------------------------------------------------------------ floats


@pytest.mark.parametrize("codec", list(impl.FLOAT_CODECS))
@pytest.mark.parametrize("dt", [np.float64, np.float32])
def test_float_roundtrip(codec, dt):
    if codec == "float_alp" and dt == np.float32:
        pytest.skip("float_alp is float64-only by contract; the selector "
                    "never offers it on float32 (profile gates on dtype)")
    v = rng.normal(size=5000).astype(dt)
    v[0], v[1], v[2] = np.nan, np.inf, -np.inf
    chunk = ColumnChunk("float", len(v), values=v, meta={"arrow_type": str(np.dtype(dt))})
    out = _roundtrip(chunk, codec)
    assert out.values.dtype == dt
    np.testing.assert_array_equal(
        out.values.view(np.uint8), v.view(np.uint8)
    )  # bit-exact incl. NaN payloads


def test_float_alp_decimal_and_specials():
    """ALP reconstructs decimals via small scaled ints and keeps NaN/inf/
    -0.0 bit-exact through the exception path (sign of zero dies in the
    int64 round-trip, so -0.0 MUST be an exception)."""
    v = np.round(rng.uniform(1, 1e5, 20_000), 2)
    v[0], v[1], v[2], v[3] = np.nan, np.inf, -np.inf, -0.0
    chunk = ColumnChunk("float", len(v), values=v, meta={"arrow_type": "double"})
    out = _roundtrip(chunk, "float_alp")
    np.testing.assert_array_equal(out.values.view(np.int64), v.view(np.int64))
    # decimal column: the int stream dominates, exceptions stay rare
    blob = encode_blob(chunk, "float_alp")
    assert len(blob) < len(encode_blob(chunk, "float_plain"))
    assert len(blob) < len(encode_blob(chunk, "float_shuffle"))


def test_selector_picks_alp_on_prices_and_rejects_on_entropy():
    prices = np.round(rng.uniform(1, 1e5, 50_000), 2)
    chunk = ColumnChunk("float", len(prices), values=prices,
                        meta={"arrow_type": "double"})
    codec, blob, stats = select_codec(chunk)
    assert codec == "float_alp" and stats["alp_e"] == 2
    np.testing.assert_array_equal(decode_blob(blob).values, prices)

    noise = rng.standard_normal(50_000)
    chunk = ColumnChunk("float", len(noise), values=noise,
                        meta={"arrow_type": "double"})
    codec, blob, stats = select_codec(chunk)
    assert stats["alp_e"] is None  # probe rejects: ALP trial never paid
    assert codec in ("float_shuffle", "float_plain")


def test_int_dict_beats_for_on_wide_lowcard():
    ids = rng.choice(rng.integers(0, 2**62, 1000), 200_000).astype(np.int64)
    chunk = ColumnChunk("int", len(ids), values=ids, meta={"arrow_type": "int64"})
    codec, blob, _ = select_codec(chunk)
    assert codec == "int_dict"
    assert len(blob) < len(encode_blob(chunk, "int_for"))
    np.testing.assert_array_equal(decode_blob(blob).values, ids)


def test_int_dod_beats_delta_on_regular_cadence():
    # steady 1s cadence with +-5us jitter: delta pays bit_width(step) per
    # value, dod pays bit_width(jitter)
    ts = np.arange(0, 10**10, 10**6, dtype=np.int64)
    ts = np.sort(ts + rng.integers(-5, 5, len(ts)))
    chunk = ColumnChunk("int", len(ts), values=ts, meta={"arrow_type": "int64"})
    d = encode_blob(chunk, "int_delta")
    dod = encode_blob(chunk, "int_dod")
    assert len(dod) < len(d)
    np.testing.assert_array_equal(decode_blob(dod).values, ts)


def test_bool_roundtrip():
    v = rng.integers(0, 2, 10_001).astype(bool)
    chunk = ColumnChunk("bool", len(v), values=v, meta={"arrow_type": "bool"})
    out = _roundtrip(chunk, "bool_bitmap")
    np.testing.assert_array_equal(out.values, v)


# ------------------------------------------------------------------ binary

BIN_FIXTURES = {
    "const_col": [b"same-value"] * 10_000,
    "lowcard": [f"val_{i % 64}".encode() for i in range(10_000)],
    "runs": [f"cat_{i // 500}".encode() for i in range(10_000)],
    "random_hex": [rng.bytes(20).hex().encode() for _ in range(2000)],
    "prefix_strings": [
        f"src/very/long/shared/prefix/module_{i % 40}/file_{i}.py".encode()
        for i in range(5000)
    ],
    "unicode": ["héllo🎉".encode(), "中文字符串".encode(), b"", b"\r\n", b"\xf0\x9f\x8e\x89",
                "ligne\r\nsuivante".encode()] * 500,
    "empty_strings": [b""] * 1000,
    "single": [b"x"],
    "empty": [],
    "binary_junk": [bytes([i % 256, 0xFE, 0xFF, i % 7]) for i in range(3000)],
}


@pytest.mark.parametrize("codec", list(impl.BIN_CODECS))
@pytest.mark.parametrize("name", list(BIN_FIXTURES))
def test_bin_roundtrip(codec, name):
    vals = BIN_FIXTURES[name]
    chunk = _bin_chunk(vals)
    out = _roundtrip(chunk, codec)
    arr = to_arrow(out).cast(pa.large_binary())
    assert arr.to_pylist() == vals


# ------------------------------------------------------------------- nulls


@pytest.mark.parametrize(
    "maker,codec",
    [
        (lambda: pa.array([1, None, 3, None, 5], pa.int64()), "int_for"),
        (lambda: pa.array([None] * 100, pa.int64()), "int_plain"),
        (lambda: pa.array([b"a", None, b"", b"c"], pa.large_binary()), "bin_plain"),
        (lambda: pa.array([None, 1.5, None], pa.float64()), "float_shuffle"),
        (lambda: pa.array([True, None, False], pa.bool_()), "bool_bitmap"),
    ],
)
def test_null_roundtrip(maker, codec):
    arr = maker()
    chunk = from_arrow(arr)
    out = _roundtrip(chunk, codec)
    assert to_arrow(out).cast(arr.type).to_pylist() == arr.to_pylist()


# --------------------------------------------------------------- selector


def test_selector_picks_small_and_roundtrips():
    for name, vals in BIN_FIXTURES.items():
        chunk = _bin_chunk(vals)
        codec, blob, stats = select_codec(chunk)
        out = decode_blob(blob)
        assert to_arrow(out).cast(pa.large_binary()).to_pylist() == vals, (name, codec)


def test_selector_is_size_optimal_on_lowcard():
    # the selector must never be beaten by any single codec it considered
    chunk = _bin_chunk(BIN_FIXTURES["lowcard"])
    codec, blob, _ = select_codec(chunk)
    for c in ("bin_plain", "bin_dict"):
        assert len(blob) <= len(encode_blob(chunk, c)), (codec, c)


def test_selector_prefers_dict_at_scale():
    # at partition scale the dictionary codec wins on low-card columns
    vals = [f"val_{i % 64}".encode() for i in range(300_000)]
    chunk = _bin_chunk(vals)
    codec, blob, _ = select_codec(chunk)
    assert codec == "bin_dict"
    assert len(blob) <= len(encode_blob(chunk, "bin_plain"))


def test_selector_rle_on_runs():
    v = np.repeat(np.arange(20, dtype=np.int64), 500)
    chunk = ColumnChunk("int", len(v), values=v, meta={"arrow_type": "int64"})
    codec, blob, _ = select_codec(chunk)
    assert codec in ("int_rle", "int_delta", "int_for")
    assert len(blob) < 1000  # 10k rows in under 1KB


def test_profile_has_required_stats():
    chunk = _bin_chunk(BIN_FIXTURES["prefix_strings"])
    st = profile_chunk(chunk)
    for key in ("avg_len", "distinct_ratio", "byte_entropy", "bytes"):
        assert key in st


# ----------------------------------------------------------- arrow chunk


def test_timestamp_roundtrip():
    arr = pa.array([1, None, 10**15], pa.timestamp("us"))
    chunk = from_arrow(arr)
    codec, blob, _ = select_codec(chunk)
    out = decode_blob(blob)
    assert to_arrow(out).to_pylist() == arr.to_pylist()


def test_string_type_roundtrip():
    arr = pa.array(["a", None, "", "héllo🎉"], pa.string())
    chunk = from_arrow(arr)
    blob = encode_blob(chunk, "bin_plain")
    out = to_arrow(decode_blob(blob))
    assert out.cast(pa.string()).to_pylist() == arr.to_pylist()


# -------------------------------------------------------------- flist


@pytest.mark.parametrize("codec", ["flist_shuffle", "flist_plain"])
def test_flist_roundtrip(codec):
    rng2 = np.random.default_rng(7)
    vals = [rng2.standard_normal(64).astype(np.float32).tolist()
            for _ in range(200)]
    vals[3] = []  # empty list
    arr = pa.array(vals, pa.list_(pa.float32()))
    chunk = from_arrow(arr)
    out = _roundtrip(chunk, codec)
    back = to_arrow(out)
    assert back.cast(pa.list_(pa.float32())).to_pylist() == arr.to_pylist()


def test_flist_nulls_and_selector():
    vals = [[1.5, 2.5], None, [], [3.25]]
    arr = pa.array(vals, pa.list_(pa.float32()))
    chunk = from_arrow(arr)
    codec, blob, _ = select_codec(chunk)
    assert codec.startswith("flist")
    assert to_arrow(decode_blob(blob)).cast(pa.list_(pa.float32())).to_pylist() == vals


def test_flist_int_lists():
    vals = [[1, 2, 3], [4], [5, 6]]
    arr = pa.array(vals, pa.list_(pa.int64()))
    chunk = from_arrow(arr)
    codec, blob, _ = select_codec(chunk)
    assert to_arrow(decode_blob(blob)).cast(pa.list_(pa.int64())).to_pylist() == vals


def test_flist_null_elements_roundtrip():
    # ADVICE r1: null elements inside lists must survive bit-exact (were
    # silently becoming NaN / INT64_MIN before the child-mask fix)
    cases = [
        pa.array([[1.0, None, 7.0], None, [], [None, 2.5]], pa.list_(pa.float32())),
        pa.array([[1, None, 7], [2**40, -5], None], pa.list_(pa.int64())),
        pa.array([[None], [None, None]], pa.list_(pa.float64())),
    ]
    for arr in cases:
        chunk = from_arrow(arr)
        codec, blob, _ = select_codec(chunk)
        back = to_arrow(decode_blob(blob)).cast(arr.type)
        assert back.to_pylist() == arr.to_pylist(), (codec, arr.type)


def test_date_roundtrip():
    # ADVICE r1: date32/date64 crashed on the unsupported date->int64 cast
    import datetime as dtm

    d32 = pa.array(
        [dtm.date(2020, 1, 1), None, dtm.date(1969, 12, 31), dtm.date(1, 1, 1)],
        pa.date32(),
    )
    d64 = pa.array([dtm.date(2020, 1, 1), None], pa.date64())
    for arr in (d32, d64):
        chunk = from_arrow(arr)
        codec, blob, _ = select_codec(chunk)
        back = to_arrow(decode_blob(blob))
        assert back.type == arr.type
        assert back.to_pylist() == arr.to_pylist(), codec


def test_fsst_gate_admits_big_wins_rejects_marginal():
    """The FSST admission trial mirrors the real codec shape (255-symbol
    table, bit-packed tokens, zstd) on a 1MB slice and demands a >=20%
    win over the zstd floor: homogeneous text columns (where fsst+zstd
    beats plain+zstd by 30%+) are admitted and WIN the final
    smallest-blob pick; heterogeneous multi-file buffers (zstd's
    long-range matches beat the alignment-breaking token stream) and
    random bytes are rejected before any expensive full-chunk trial."""
    import hashlib
    import random

    import pyarrow as pa

    from parquet_toolkit_spark.codecs.chunk import from_arrow
    from parquet_toolkit_spark.codecs.selector import (
        _fsst_sample_wins,
        select_codec,
    )

    rng = random.Random(7)
    words = ["the", "quick", "brown", "fox", "jumps", "over", "lazy",
             "dog", "while", "reading", "spark", "manifests", "daily"]
    docs = [" ".join(rng.choices(words, k=120)) for _ in range(1200)]
    arr = pa.array(docs, type=pa.string())
    ch = from_arrow(arr)
    assert _fsst_sample_wins(ch.data)
    name, blob, _ = select_codec(ch)
    assert name == "bin_fsst"

    # random hex: no structure, zstd floor wins, gate must reject
    rnd = "".join(hashlib.sha256(str(i).encode()).hexdigest()
                  for i in range(4000)).encode()
    assert not _fsst_sample_wins(rnd)


def test_select_codec_exclude_profile(monkeypatch):
    """exclude= drops codecs from competition but never the floor; the
    stream writers use it to skip FSST's encode cost. For every kind the
    FLOOR codec competes, last, on the gated, hinted and excluded paths,
    and a hint list the FSST size cap empties falls back to the gates."""
    import random

    import pyarrow as pa

    from parquet_toolkit_spark.codecs import decode_blob
    from parquet_toolkit_spark.codecs import selector as sel
    from parquet_toolkit_spark.codecs.chunk import from_arrow, to_arrow
    from parquet_toolkit_spark.codecs.selector import FLOOR, select_codec

    rng = random.Random(3)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    docs = [" ".join(rng.choices(words, k=80)) for _ in range(800)]
    ch = from_arrow(pa.array(docs, type=pa.string()))
    name_all, _, _ = select_codec(ch)
    assert name_all == "bin_fsst"
    name_fast, blob, _ = select_codec(ch, exclude={"bin_fsst"})
    assert name_fast != "bin_fsst"
    back = to_arrow(decode_blob(blob))
    assert back.to_pylist() == docs
    # excluding everything still leaves the plain floor
    name_floor, blob2, _ = select_codec(
        ch, exclude={"bin_fsst", "bin_dict", "bin_plain"})
    assert name_floor == "bin_plain"

    tried = []
    real_encode = sel.encode_blob
    monkeypatch.setattr(sel, "encode_blob", lambda c, name: (
        tried.append(name), real_encode(c, name))[1])

    def trials(chunk, **kw):
        tried.clear()
        select_codec(chunk, **kw)
        return list(tried)

    # kind -> (chunk, a non-floor codec of that kind to hint or exclude)
    kinds = {
        "bin": (ch, "bin_fsst"),
        "int": (from_arrow(pa.array(range(5000), pa.int64())), "int_for"),
        "float": (from_arrow(pa.array([i / 8 for i in range(5000)])),
                  "float_shuffle"),
        "flist": (from_arrow(pa.array([[1.0, 2.0]] * 500,
                                      pa.list_(pa.float32()))),
                  "flist_shuffle"),
        "bool": (from_arrow(pa.array([i % 3 == 0 for i in range(5000)])),
                 None),
        "nested": (from_arrow(pa.array([{"a": i} for i in range(500)])),
                   None),
    }
    assert set(kinds) == set(FLOOR)
    for kind, (chunk, other) in kinds.items():
        assert chunk.kind == kind
        floor = FLOOR[kind]
        assert trials(chunk)[-1] == floor, kind
        if other is None:  # the floor is the kind's only codec
            assert trials(chunk, candidates=[floor]) == [floor]
            continue
        assert trials(chunk, candidates=[other]) == [other, floor], kind
        got = trials(chunk, exclude={other})
        assert other not in got and got[-1] == floor, kind

    # a ["bin_fsst"] hint on a chunk over 4 * FSST_MAX_BYTES: the gates
    # (which never admit FSST above FSST_MAX_BYTES) choose instead
    monkeypatch.setattr(sel, "FSST_MAX_BYTES", len(ch.data) // 8)
    gated = trials(ch)
    assert "bin_fsst" not in gated and gated[-1] == "bin_plain"
    assert trials(ch, candidates=["bin_fsst"]) == gated


# ------------------------------------------------------------ front coding


def test_bin_prefix_selected_for_sorted_paths_only():
    """Selector picks front coding where adjacency pays (sorted path-like
    values) and never where it doesn't (random hex: zero shared prefix;
    the cost-aware trial must also reject marginal wins)."""
    paths = sorted(
        f"src/very/long/shared/prefix/module_{i % 40}/file_{i}.py".encode()
        for i in range(8000)
    )
    codec, blob, stats = select_codec(_bin_chunk(paths))
    assert codec == "bin_prefix"
    assert stats["prefix_gain"] > 0.3
    out = decode_blob(blob)
    assert to_arrow(out).cast(pa.large_binary()).to_pylist() == paths

    hexes = [rng.bytes(20).hex().encode() for _ in range(4000)]
    codec2, _b, stats2 = select_codec(_bin_chunk(hexes))
    assert codec2 != "bin_prefix"
    assert stats2["prefix_gain"] < 0.1


def test_bin_prefix_roundtrip_adversarial_shapes():
    """Shapes that stress the forward-fill decode: prefix chains longer
    than one hop, zero-length values interleaved, a value that is a
    strict prefix of its predecessor, and prefix lengths at the plane
    cap boundary."""
    cases = [
        # deep chain: every row extends the previous one
        [b"a" * i for i in range(1, 300)],
        # strict-prefix steps down then up
        [b"abcdef", b"abcd", b"ab", b"abcdefgh", b"", b"abc"],
        # empties between sharers
        [b"shared/one", b"", b"shared/two", b"", b"shared/three"] * 50,
        # identical values (pl == len, empty suffixes)
        [b"same-value-here"] * 1000,
        # long values crossing the uint16-row plane path
        [(b"p" * 200) + str(i).encode() for i in range(70_000)],
    ]
    for vals in cases:
        chunk = _bin_chunk(vals)
        out = _roundtrip(chunk, "bin_prefix")
        assert to_arrow(out).cast(pa.large_binary()).to_pylist() == vals


def test_decimal_roundtrip_and_refusal():
    # r5: decimal128(p<=18, s) rides the int codec family as its exact
    # int64 mantissa (VERDICT r4 missing #1); wider decimals refuse loudly
    import decimal as dcm

    D = dcm.Decimal
    arr = pa.array(
        [D("123.45"), None, D("-0.01"),
         D("9999999999999999.99"), D("-9999999999999999.99"), D("0.00")],
        pa.decimal128(18, 2),
    )
    chunk = from_arrow(arr)
    assert chunk.kind == "int"
    codec, blob, _ = select_codec(chunk)
    back = to_arrow(decode_blob(blob))
    assert back.type == arr.type
    assert back.to_pylist() == arr.to_pylist(), codec

    # monotone mantissas take a typed int codec, far under raw width
    seq = pa.array([D(i) / 100 for i in range(5000)], pa.decimal128(12, 2))
    codec2, blob2, _ = select_codec(from_arrow(seq))
    assert codec2.startswith("int_"), codec2
    assert len(blob2) < 0.1 * 8 * 5000
    assert to_arrow(decode_blob(blob2)).to_pylist() == seq.to_pylist()

    # sliced arrays honor the arrow offset
    s = seq.slice(123, 77)
    assert to_arrow(from_arrow(s)).to_pylist() == s.to_pylist()

    # r6: p in (18, 38] rides the two-word mantissa stream [lo..., hi...]
    wide = pa.array(
        [D("12345678901234567890123456.7890123456"), None,
         D("-99999999999999999999999999.9999999999"),
         D("0.0000000001"), D("123.4"),
         D("99999999999999999999999999.0000000001")],
        pa.decimal128(38, 10),
    )
    wchunk = from_arrow(wide)
    assert wchunk.kind == "int" and wchunk.meta["dec_words"] == 2
    wcodec, wblob, wstats = select_codec(wchunk)
    wback = to_arrow(decode_blob(wblob))
    assert wback.equals(wide), wcodec
    # zone maps bound the LOGICAL int128 mantissas exactly
    ctx = dcm.Context(prec=80)
    mants = [int(v.scaleb(10, ctx)) for v in wide.to_pylist() if v is not None]
    assert wstats["min"] == min(mants) and wstats["max"] == max(mants)
    assert wstats["logical"] == "dec_10"
    # a p>18 column whose VALUES all fit int64 stays one-word
    small = pa.array([D("1.0000000000"), D("-2.5000000000")],
                     pa.decimal128(38, 10))
    assert from_arrow(small).meta.get("dec_words") is None
    assert to_arrow(from_arrow(small)).equals(small)

    # beyond decimal128 refuses loudly
    with pytest.raises(TypeError, match="precision"):
        from_arrow(pa.array([D("1")], pa.decimal256(50, 0)))


def test_nested_struct_map_list_roundtrip():
    # r5: struct/map/list<non-numeric> ride the nested IPC fallback —
    # any nestable shape round-trips bit-exact, zstd floor compresses
    st = pa.array([{"a": 1, "b": "x"}, None, {"a": None, "b": "y"}],
                  pa.struct([("a", pa.int64()), ("b", pa.string())]))
    ls = pa.array([["a", "bb"], None, [], ["c", None]],
                  pa.list_(pa.string()))
    mp = pa.array([[("k1", 1)], None, []], pa.map_(pa.string(), pa.int64()))
    deep = pa.array([[{"t": ["x", None]}], None],
                    pa.list_(pa.struct([("t", pa.list_(pa.string()))])))
    for arr in (st, ls, mp, deep):
        chunk = from_arrow(arr)
        assert chunk.kind == "nested"
        codec, blob, _ = select_codec(chunk)
        back = to_arrow(decode_blob(blob))
        assert codec == "nested_ipc"
        assert back.equals(arr) and back.type == arr.type

    big = pa.array([{"a": i % 10, "b": "hello" * 5} for i in range(20000)],
                   pa.struct([("a", pa.int64()), ("b", pa.string())]))
    codec, blob, _ = select_codec(from_arrow(big))
    assert len(blob) < 0.15 * from_arrow(big).total_bytes()
    assert to_arrow(decode_blob(blob)).equals(big)
