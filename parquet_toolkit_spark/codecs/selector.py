"""Column-statistics profiler + codec auto-selector.

North rule: "codec auto-selection from profiled column statistics
(cardinality, run lengths, value ranges, string entropy)". The profile is
one vectorized numpy pass per chunk; the selector turns stats into a small
candidate list, encodes the candidates, and keeps the smallest blob — with
plain(+zstd) always in the candidate set as the floor so we never regress
above a general-purpose baseline (SURVEY.md §4.3).

The costly gate is FSST's 1 MB admission trial (`_fsst_sample_wins`). A
reject-only screen (`_fsst_screen`) settles it first from two zstd sizes,
one per failure mode of FSST-style tokens: a head zstd ratio that sits at
the order-0 entropy bound (nothing beyond byte frequencies), and a slice
zstd ratio well below the head's (long-range redundancy). On the F0 code
corpus it rejects `commit` and `content` for ~1-10 ms where the trial
took ~80-210 ms; the trial stays the only way FSST is admitted.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

from parquet_toolkit_spark.codecs.bits import bit_width
from parquet_toolkit_spark.codecs.chunk import ColumnChunk
from parquet_toolkit_spark.codecs.container import encode_blob

# FSST encode is the vectorized local-min-rank encoder (~20 MB/s/core on
# this host, see codecs/fsst.py) — admissible up to full content-column
# chunks; the sample gate below still keeps it off buffers where the zstd
# floor wins anyway, so the cap only bounds worst-case trial-encode cost.
# The gate is the screen, then the trial for columns the screen passes.
# On a staged F0 pid (4-core Xeon VM) the screen takes ~1 ms on `path`
# and `commit` and ~8-10 ms on `content` (two zstd passes: the 64 KB
# head and the 1 MB slice); the trial takes 80-125 ms on `path` (a
# table build on the 64 KB head, the token encode and one zstd pass over
# the slice, whose plain zstd size the screen hands over) and used to
# take 80-125 ms on `commit` and ~200 ms on `content`.
FSST_MAX_BYTES = 16 << 20
_SAMPLE = 65536
_ZONE_MAX_LEN = 128  # string zone maps stored only for short-key columns


def _i128_extreme(lo: np.ndarray, hi: np.ndarray, want_max: bool) -> int:
    """Exact extreme of int128 values given as (lo uint word, hi signed
    word) int64 arrays: lexicographic on (hi signed, lo unsigned)."""
    h = int(hi.max() if want_max else hi.min())
    sel = lo[hi == h].view(np.uint64)
    l_w = int(sel.max() if want_max else sel.min())
    return (h << 64) | l_w


def profile_chunk(chunk: ColumnChunk) -> dict:
    """Vectorized stats for the manifest + selector."""
    stats: dict = {
        "kind": chunk.kind,
        "nrows": chunk.nrows,
        "nvalid": chunk.nvalid,
        "bytes": chunk.total_bytes(),
    }
    if chunk.kind == "nested":
        return stats  # one IPC section; no leaf stats to profile
    if chunk.kind == "flist":
        stats["nvals"] = 0 if chunk.values is None else int(len(chunk.values))
        stats["avg_len"] = stats["nvals"] / max(1, stats["nvalid"])
        return stats
    if chunk.kind in ("int", "float", "bool"):
        v = chunk.values
        if v is None or len(v) == 0:
            stats.update(distinct=0, nruns=0)
            return stats
        if chunk.kind == "int":
            if chunk.meta.get("dec_words") == 2:
                # two-word decimal mantissa stream [lo..., hi...]: the
                # zone map must bound the logical int128 values, not the
                # raw words — lexicographic (hi signed, lo unsigned)
                # extremes, exact python ints in the JSON stats
                n = len(v) // 2
                lo, hi = v[:n], v[n:]
                stats["min"] = _i128_extreme(lo, hi, want_max=False)
                stats["max"] = _i128_extreme(lo, hi, want_max=True)
            else:
                stats["min"] = int(v.min())
                stats["max"] = int(v.max())
            # logical unit marker: int zone maps of timestamps are in the
            # source unit and dates are day numbers — a temporal filter
            # value must only be compared after conversion to the SAME
            # unit, and never against a plain int column (code-review r4:
            # epoch-µs vs day-number comparison pruned every chunk)
            if chunk.meta.get("ts_unit"):
                stats["logical"] = f"ts_{chunk.meta['ts_unit']}"
            elif chunk.meta.get("date_bits"):
                stats["logical"] = "date"
            elif chunk.meta.get("dec_precision") is not None:
                # decimal mantissa zone maps: min/max are unscaled ints;
                # range pruning must scale Decimal bounds by dec_scale
                stats["logical"] = f"dec_{chunk.meta['dec_scale']}"
            d = np.diff(v)
            stats["sortedness"] = float((d >= 0).mean()) if len(d) else 1.0
        if chunk.kind == "float":
            # float zone maps (NaN excluded; a NaN-only chunk stores no
            # bounds and always admits): lets range predicates on ALP/
            # shuffle-encoded measure columns prune pids like int keys do
            finite = v[np.isfinite(v)]
            if len(finite):
                stats["fmin"] = float(finite.min())
                stats["fmax"] = float(finite.max())
            stats["has_special"] = bool(len(finite) < len(v))
        change = np.empty(len(v), dtype=bool)
        change[0] = True
        np.not_equal(v[1:], v[:-1], out=change[1:])
        stats["nruns"] = int(change.sum())
        sample = v[:: max(1, len(v) // _SAMPLE)]
        stats["distinct"] = int(len(np.unique(sample)))
        if chunk.kind == "float" and v.dtype == np.float64:
            # decimal-exponent probe (cheap: 17 vectorized passes over a
            # 4k sample) gates the ALP candidate below
            from parquet_toolkit_spark.codecs.impl import alp_probe

            stats["alp_e"] = alp_probe(v)
        return stats

    # bin
    off = chunk.offsets if chunk.offsets is not None else np.zeros(1, np.int64)
    n = len(off) - 1
    lens = np.diff(off)
    stats["avg_len"] = float(lens.mean()) if n else 0.0
    stats["max_len"] = int(lens.max()) if n else 0
    # run count over value boundaries (cheap proxy: compare adjacent lengths
    # + first bytes; exact runs computed by dict codec when chosen)
    head = np.frombuffer(chunk.data[: int(off[min(n, len(off) - 1)])], dtype=np.uint8)
    if len(head) and n:
        first = head[off[:-1].clip(0, max(0, len(head) - 1))]
    else:
        first = np.zeros(n, np.uint8)
    if n > 1:
        same = (lens[1:] == lens[:-1]) & (first[1:] == first[:-1])
        stats["nruns_ub"] = int(n - same.sum())
    else:
        stats["nruns_ub"] = n
    # distinct estimate from a row sample via python set of slices
    step = max(1, n // 1024)
    idx = np.arange(0, n, step)
    seen = {bytes(chunk.data[off[i] : off[i + 1]]) for i in idx}
    stats["distinct_est"] = int(len(seen) * step) if step > 1 else len(seen)
    stats["distinct_ratio"] = len(seen) / max(1, len(idx))
    # front-coding probe: shared-prefix bytes between ADJACENT values
    # (adjacency is the whole signal — a strided row sample destroys it)
    # over a few contiguous windows spread across the chunk
    if n > 1:
        from parquet_toolkit_spark.codecs.impl import prefix_lengths

        shared = seen_len = 0
        win = 512
        for a in range(0, n, max(win, n // 4)):
            b = min(n, a + win)
            if b - a < 2:
                continue
            sub_off = off[a:b + 1] - off[a]
            sub = chunk.data[off[a]:off[b]]
            shared += int(prefix_lengths(sub, sub_off, wc_cap=256).sum())
            seen_len += int(sub_off[-1])
        stats["prefix_gain"] = shared / seen_len if seen_len else 0.0
    else:
        stats["prefix_gain"] = 0.0
    # byte entropy on a sample of the payload
    sb = np.frombuffer(chunk.data[:_SAMPLE], dtype=np.uint8)
    if len(sb):
        cnt = np.bincount(sb, minlength=256).astype(np.float64)
        p = cnt[cnt > 0] / len(sb)
        stats["byte_entropy"] = float(-(p * np.log2(p)).sum())
    else:
        stats["byte_entropy"] = 0.0
    # string zone map: EXACT min/max when every value is short enough to
    # store verbatim (repo/path/commit keys always are; long content
    # columns skip it — a truncated max would be an unsound upper bound).
    # Serves pids_matching_range() pruning after a sorted layout.
    if n and stats["max_len"] <= _ZONE_MAX_LEN:
        arr = pa.LargeBinaryArray.from_buffers(
            pa.large_binary(), n,
            [None, pa.py_buffer(np.ascontiguousarray(off, np.int64).tobytes()),
             pa.py_buffer(chunk.data)],
        )
        mm = pa.compute.min_max(arr)
        try:
            stats["smin"] = mm["min"].as_py().decode("utf-8")
            stats["smax"] = mm["max"].as_py().decode("utf-8")
        except UnicodeDecodeError:
            pass  # non-utf8 binary column: no string zone map
    return stats


def candidate_codecs(chunk: ColumnChunk, stats: dict,
                     exclude: set[str] | frozenset[str] | None = None
                     ) -> list[str]:
    """Stats -> ordered candidate codec names (floor codec always
    included). `exclude` is checked BEFORE expensive gating so an
    excluded codec's admission trial is never paid (the FSST 1MB trial
    is the whole point of the streaming fast profile; code-review r4)."""
    exclude = exclude or frozenset()
    k = chunk.kind
    if k == "nested":
        return ["nested_ipc"]
    if k == "bool":
        return ["bool_bitmap"]
    if k == "flist":
        return ["flist_shuffle", "flist_plain"]
    if k == "float":
        cands = []
        if stats.get("alp_e") is not None and "float_alp" not in exclude:
            cands.append("float_alp")
        cands += ["float_shuffle", "float_plain"]
        return cands
    if k == "int":
        cands = ["int_for"]
        n = max(1, stats.get("nvalid", 1))
        if stats.get("nruns", n) * 3 < n:
            cands.append("int_rle")
        if stats.get("sortedness", 0.0) > 0.9:
            cands += ["int_delta", "int_dod"]
        # dict pays off when the sampled cardinality is small relative to n
        # AND FOR's range width is large; trial-encode settles the rest
        if 0 < stats.get("distinct", n) * 8 <= n and (
            bit_width(max(0, stats.get("max", 0) - stats.get("min", 0)))
            > math.log2(max(2, stats.get("distinct", 2))) + 8
        ):
            cands.append("int_dict")
        cands.append("int_plain")
        return cands
    # bin
    cands: list[str] = []
    if stats.get("distinct_ratio", 1.0) < 0.5:
        cands.append("bin_dict")
    if (
        "bin_prefix" not in exclude
        and stats.get("prefix_gain", 0.0) > 0.3
        and _prefix_sample_wins(chunk.data, chunk.offsets)
    ):
        # sorted-layout key columns (path/repo after the range sort):
        # front coding; the size trial settles prefix-vs-dict. The gate
        # is cost-aware like FSST's: bin_prefix decodes ~25x slower than
        # plain+zstd (~50 vs ~1300 MB/s per core), so a marginal size
        # win must not buy a decode-throughput regression.
        cands.append("bin_prefix")
    payload = len(chunk.data)
    if (
        "bin_fsst" not in exclude
        and payload <= FSST_MAX_BYTES
        and stats.get("byte_entropy", 8.0) < 6.5
        and "bin_dict" not in cands
    ):
        plain_zstd = _fsst_screen(chunk.data, stats["byte_entropy"])
        if plain_zstd is not None and _fsst_sample_wins(chunk.data,
                                                        plain_zstd):
            cands.append("bin_fsst")
    cands.append("bin_plain")
    return cands


_PREFIX_TRIAL_ROWS = 4096


def _prefix_sample_wins(data: bytes, offsets) -> bool:
    """Front-coding admission trial on a contiguous row slice: encode it
    through the REAL codec sections and require a >15% zstd'd size win
    over zstd(plain slice). Cost-aware margin (see candidate_codecs):
    bin_prefix's vectorized-forward-fill decode runs ~50 MB/s/core vs
    the plain floor's ~1.3 GB/s, so marginal wins are a bad trade. The
    F0 `path` column clears the margin at 28%; `commit` (random hex,
    zero adjacency) and `lang` (dict territory) are rejected before the
    per-chunk trial encode is ever paid."""
    from parquet_toolkit_spark.codecs.container import _ZSTD
    from parquet_toolkit_spark.codecs.impl import enc_bin_prefix

    n = len(offsets) - 1
    m = min(n, _PREFIX_TRIAL_ROWS)
    if m < 64:
        return True  # tiny chunks: trial noise exceeds the signal
    sub_off = offsets[:m + 1]
    sub = data[:int(sub_off[-1])]
    if len(sub) < 1024:
        return True
    sec, _meta = enc_bin_prefix(sub, sub_off)
    pz = sum(len(_ZSTD.compress(bytes(s), asbytes=True))
             for s in (sec["suf"], sec["plens"], sec["lens"]))
    plain_z = len(_ZSTD.compress(sub, asbytes=True))
    return pz < 0.85 * plain_z


_FSST_TRIAL_BYTES = 1 << 20
# Screen thresholds (see _fsst_screen): rule A rejects inside
# _FLAT_BAND, rule B below _LONG_RANGE_RATIO.
_FLAT_BAND = (0.9, 1.2)
_LONG_RANGE_RATIO = 0.85


def _fsst_screen(data: bytes, byte_entropy: float) -> int | None:
    """Reject-only screen in front of the FSST trial, from two zstd sizes.

    Returns None when the trial cannot admit FSST, else the zstd size of
    the trial slice, which `_fsst_sample_wins` reuses. `byte_entropy` is
    H0 of the 64 KB head, as `profile_chunk` computes it. With
    A = head zstd ratio / (H0 / 8) and, when the 1 MB slice is >= 4x the
    head, B = slice zstd ratio / head zstd ratio, the two rules are the
    two failure modes of FSST-style tokens (FSST, VLDB 2020):

    A. 0.9 <= A < 1.2: zstd codes the head at its order-0 entropy bound,
       so the data has no structure beyond byte frequencies (random-hex
       commit ids) and a symbol table has nothing to add. The band is
       bounded above because far above the bound (A >= 1.4, on iid
       strings of H0 <= 1.4 bits) the loss is zstd's one-bit Huffman
       floor per literal, which a multi-byte token stream recovers: the
       trial admits those at 0.71-0.76.
    B. B < 0.85: the slice compresses much better than its head, so the
       redundancy is long-range (cross-file duplicate code), which zstd
       recovers from the plain buffer and the bit-packed token stream
       breaks.

    Census (bench/codec_census.py) over the string columns that reach the
    gate: F0 seeds 1, 2, 3, 5, 7 x pids 0, 3, 6 of an 8-pid staging
    sorted by (repo, path, commit), the seed-5 corpus tests/test_fsst.py
    pins, and the sf0.001-sf0.1 fixtures (trial = fsst/plain zstd size on
    the slice, admitted below 0.80):

      column           A            B            trial        screen
      F0 commit        1.001-1.012  -            1.07         A
      F0 content       0.545-0.568  0.736-0.800  1.23-1.31    B
      F0 path          0.223-0.285  -            0.725-0.813  pass
      documents.text   0.41-0.43    0.949        0.62-0.63    pass
      customer.c_name  0.07-0.13    0.800        1.9-7.7      B at sf0.1
      supplier.s_name  0.07-0.17    -            1.4-5.4      pass

    Every column a rule rejects is one the trial rejects, with margin on
    both sides of each threshold; `path` and `documents.text` reach the
    trial. The screen only ever says no: `_fsst_sample_wins` stays the
    only way in. tests/test_fsst.py checks this on F0, the fixtures and
    synthetic inputs. Buffers under 1 KB pass unscreened, as the trial
    admits them untried.
    """
    from parquet_toolkit_spark.codecs.container import _ZSTD

    sample = data[:_FSST_TRIAL_BYTES]
    if len(sample) < 1024:
        return len(_ZSTD.compress(sample, asbytes=True))
    head = sample[:_SAMPLE]
    head_z = len(_ZSTD.compress(head, asbytes=True))
    order0 = byte_entropy * len(head) / 8
    if _FLAT_BAND[0] * order0 <= head_z < _FLAT_BAND[1] * order0:
        return None
    if len(sample) == len(head):
        return head_z
    plain_zstd = len(_ZSTD.compress(sample, asbytes=True))
    if (len(sample) >= 4 * len(head) and plain_zstd * len(head)
            < _LONG_RANGE_RATIO * head_z * len(sample)):
        return None
    return plain_zstd


def _fsst_sample_wins(data: bytes, plain_zstd: int | None = None) -> bool:
    """1MB-slice trial: admit FSST only if the REAL codec shape — dense
    bit-packed token stream, zstd'd like the container does — beats
    zstd(plain) on the slice by >20%.

    The 20% margin is COST-aware, not just size-aware: the from-scratch
    FSST encodes 10-25x slower than the zstd floor (~10-25 vs ~250 MB/s
    per core, measured), so a marginal size win (F0 `path`:
    11% for ~25x the encode cost) would trade the north rule's throughput headline for noise.
    Columns where FSST earns its keep (homogeneous natural/structured
    text: documents `text` wins 34-38%) clear 20% comfortably.

    Two prior gates both mispredicted, in opposite directions. Comparing
    raw FSST bits (or a 96-symbol economy table) against zstd vetoed FSST
    on columns the 255-symbol codec beats the floor by 30%+. And a 32KB
    slice ADMITS it on corpora where the full chunk loses 1.6x: zstd's
    long-range match finder recovers cross-file duplicate text from the
    plain buffer, but the bit-packed token stream breaks those repeats'
    byte alignment — an effect only visible once the trial slice spans
    multiple files (measured: 256KB still mispredicts the F0 code corpus,
    1MB flips to the correct reject; a homogeneous text column keeps its
    0.62 win at every slice size). ~0.2 s per call at the 1MB cap (F0
    `content`, 4-core Xeon VM); candidate_codecs calls it only for the
    columns `_fsst_screen` passes, with the slice's plain zstd size as
    `plain_zstd`."""
    from parquet_toolkit_spark.codecs.container import _ZSTD

    sample = data[:_FSST_TRIAL_BYTES]
    if len(sample) < 1024:
        return True  # tiny buffers: trial cost is irrelevant, just compete
    fsst_zstd = _fsst_trial_zstd(sample)
    if fsst_zstd is None:
        return False
    if plain_zstd is None:
        plain_zstd = len(_ZSTD.compress(sample, asbytes=True))
    return fsst_zstd < 0.80 * plain_zstd


def _fsst_trial_zstd(sample: bytes) -> int | None:
    """zstd size of the trial slice's bit-packed token stream, or None
    when the head builds no symbol table."""
    from parquet_toolkit_spark.codecs import fsst as fsst_mod
    from parquet_toolkit_spark.codecs.bits import pack_uints
    from parquet_toolkit_spark.codecs.container import _ZSTD

    # table from the slice HEAD (enc_bin_fsst's own build policy), applied
    # across the slice — the trial must mirror what the codec will do
    merges = fsst_mod.build_table(sample[:65536])
    if not merges:
        return None
    tokens = fsst_mod.apply_merges(sample, merges)
    used = np.unique(tokens)
    remap = np.zeros(512, dtype=np.int64)
    remap[used] = np.arange(len(used))
    codes = remap[tokens].view(np.uint64)
    w = bit_width(len(used) - 1) if len(used) > 1 else 0
    packed = pack_uints(codes, w)
    return len(_ZSTD.compress(bytes(packed), asbytes=True))


def select_codec(chunk: ColumnChunk, stats: dict | None = None,
                 zstd: bool = True,
                 candidates: list[str] | None = None,
                 exclude: set[str] | frozenset[str] | None = None
                 ) -> tuple[str, bytes, dict]:
    """Encode candidates, keep the smallest blob.

    Returns (codec_name, blob, stats). Trial-encoding is bounded: the
    candidate list is 1-3 codecs, each a vectorized pass. Pass
    `candidates` (e.g. from plan_hints) to skip the per-chunk gating —
    the hoisted-gate path for large encode jobs. `exclude` drops codecs
    from consideration entirely (the encode-latency dial: streaming hot
    paths exclude bin_fsst, whose 34%-size wins cost 10-25x the floor's
    encode CPU); the plain floor can never be excluded away.
    """
    if stats is None:
        stats = profile_chunk(chunk)
    if exclude:
        floor = {"bin": "bin_plain", "int": "int_plain",
                 "flist": "flist_plain", "float": "float_plain",
                 "bool": "bool_bitmap",
                 "nested": "nested_ipc"}.get(chunk.kind)
        keep = [c for c in (candidates
                            or candidate_codecs(chunk, stats, exclude))
                if c not in exclude]
        candidates = keep or ([floor] if floor else None)
    if candidates:
        # pinned hints come from a SAMPLE partition: never let them route
        # FSST onto a pathologically large chunk (encode-cost cap)
        candidates = [
            c for c in candidates
            if not (c == "bin_fsst" and len(chunk.data) > 4 * FSST_MAX_BYTES)
        ] or None
    if candidates:
        # explicit candidate lists always compete against the plain floor
        # (hint sources — plan_hints samples, compact_store member codecs
        # — may not have seen this exact chunk)
        floor = {"bin": "bin_plain", "int": "int_plain",
                 "flist": "flist_plain", "float": "float_plain",
                 "nested": "nested_ipc"}.get(chunk.kind)
        if floor and floor not in candidates:
            candidates = candidates + [floor]
    best_name, best_blob = None, None
    for name in candidates or candidate_codecs(chunk, stats):
        blob = encode_blob(chunk, name, zstd=zstd)
        if best_blob is None or len(blob) < len(best_blob):
            best_name, best_blob = name, blob
    assert best_name is not None and best_blob is not None
    return best_name, best_blob, stats


def plan_hints(cols: dict, keep_best: int = 1) -> dict[str, list[str]]:
    """Column -> candidate codec list, decided ONCE on a sample partition.

    Runs the full gated selection (profile + trials + all candidates) on
    one representative partition and keeps each column's winning codec
    (plus the plain floor if it wasn't the winner). Per-partition encode
    then skips re-gating: the codec family of a column is stable across
    partitions of the same table, while the per-chunk floor comparison
    still guards pathological partitions."""
    from parquet_toolkit_spark.codecs.chunk import from_arrow

    hints: dict[str, list[str]] = {}
    for name, arr in cols.items():
        chunk = from_arrow(arr)
        stats = profile_chunk(chunk)
        cands = candidate_codecs(chunk, stats)
        if len(cands) > 1:  # a lone candidate wins without a trial encode
            cands = [c for _, c in sorted(
                (len(encode_blob(chunk, c)), c) for c in cands)]
        chosen = cands[:keep_best]
        floor = {"bin": "bin_plain", "int": "int_plain",
                 "flist": "flist_plain",
                 "nested": "nested_ipc"}.get(chunk.kind)
        if floor and floor not in chosen:
            chosen.append(floor)
        hints[name] = chosen
    return hints
