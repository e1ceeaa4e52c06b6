"""Column-statistics profiler + codec auto-selector.

North rule: "codec auto-selection from profiled column statistics
(cardinality, run lengths, value ranges, string entropy)". The profile is
one vectorized numpy pass per chunk; the selector turns stats into a small
candidate list, encodes the candidates, and keeps the smallest blob — with
plain(+zstd) always in the candidate set as the floor so we never regress
above a general-purpose baseline (SURVEY.md §4.3).
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
# The gate itself costs 0.05-0.14 s per column of an F0 pid on a 4-core
# Xeon VM: a ~40 ms table build on the 64 KB slice head, then the encode
# and two zstd passes over a slice of at most 1 MB.
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
        and _fsst_sample_wins(chunk.data)
    ):
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


def _fsst_sample_wins(data: bytes) -> bool:
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
    0.62 win at every slice size). ~0.13 s per gate call at the 1MB cap
    (F0 `content`, 4-core Xeon VM), paid once per job on the plan_hints
    sample partition."""
    from parquet_toolkit_spark.codecs import fsst as fsst_mod
    from parquet_toolkit_spark.codecs.bits import bit_width, pack_uints
    from parquet_toolkit_spark.codecs.container import _ZSTD

    sample = data[:_FSST_TRIAL_BYTES]
    if len(sample) < 1024:
        return True  # tiny buffers: trial cost is irrelevant, just compete
    # table from the slice HEAD (enc_bin_fsst's own build policy), applied
    # across the slice — the trial must mirror what the codec will do
    merges = fsst_mod.build_table(sample[:65536])
    if not merges:
        return False
    tokens = fsst_mod.apply_merges(sample, merges)
    used = np.unique(tokens)
    remap = np.zeros(512, dtype=np.int64)
    remap[used] = np.arange(len(used))
    codes = remap[tokens].view(np.uint64)
    w = bit_width(len(used) - 1) if len(used) > 1 else 0
    packed = pack_uints(codes, w)
    fsst_zstd = len(_ZSTD.compress(bytes(packed), asbytes=True))
    plain_zstd = len(_ZSTD.compress(sample, asbytes=True))
    return fsst_zstd < 0.80 * plain_zstd


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
        sizes: list[tuple[int, str]] = []
        for cand in candidate_codecs(chunk, stats):
            sizes.append((len(encode_blob(chunk, cand)), cand))
        sizes.sort()
        chosen = [c for _, c in sizes[:keep_best]]
        floor = {"bin": "bin_plain", "int": "int_plain",
                 "flist": "flist_plain",
                 "nested": "nested_ipc"}.get(chunk.kind)
        if floor and floor not in chosen:
            chosen.append(floor)
        hints[name] = chosen
    return hints
