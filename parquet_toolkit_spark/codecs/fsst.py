"""FSST-style symbol-table string compression (from scratch, vectorized).

Public-literature basis: "FSST: Fast Random Access String Compression"
(Boncz, Neumann, Leis — VLDB 2020). Like FSST we build a greedy table of at
most ~255 multi-byte symbols (each <= 8 bytes) per partition by iteratively
concatenating the most frequent adjacent symbol pairs over generations, and
replace occurrences with one code. Unlike the C implementation (escape byte
+ sequential longest-match), our code stream is the dense-remapped token ids
bit-packed to ceil(log2(n_codes)) bits — typically 8-9 bits — which keeps
both encode and decode fully vectorized in numpy.

TABLE BUILD (build_table) keeps the sample as an int32 token array and
one dense count table of its adjacent eligible pairs, keyed a*512+b (ids
are < 510, so argmax's first-max tie-break picks the smallest (a, b)).
Each round merges the most frequent pair: its positions are replaced
greedily left-to-right without overlap (only a run of an (a, a) pair can
overlap itself; every second position of such a run merges), and the
counts change only around those positions — the pairs that touched a
merged position are subtracted, the pairs around each new token added.
A round is one scan for the pair plus work in proportion to its hits,
not a recount of every pair: the 40 column samples (64 KB each) of an F0
corpus build in ~1.6 s in total on a 4-core Xeon VM, ~5x less than with a
recount per round. Tokens whose lo byte is 0xFE/0xFF (the literals 254
and 255) never merge, so every merged id keeps a lo byte < 0xFE (see the
reference encoder below).

REFERENCE ENCODE (apply_merges_replace) uses a 2-byte token representation
[lo, hi] with lo = t & 0xFF and hi = 0xFE | (t >> 8) (so hi is always 0xFE
or 0xFF); lo leads so that `bytes.replace`'s memchr anchors on an
infrequent data byte, not the always-present hi marker. No merge pattern
contains an 0xFE/0xFF lo byte, and a misaligned (odd-offset) match would
require a pattern lo byte to equal an hi byte — impossible — hence each
merge rule is one C-speed `bytes.replace` pass, which is exactly greedy
left-to-right non-overlapping pair replacement, the order build_table
merges in.

ENCODE (apply_merges) does NOT replay the merges one `bytes.replace` pass
each — that is O(n_merges * n) and measured ~4 MB/s/core here. Instead it
runs vectorized "local-minimum rank" rounds over an int32 token array
(the strategy fast BPE encoders use): each round finds every position
whose merge rank beats both neighbors' ranks and applies ALL of them in
one shot, repeating until no pair in the table remains. Any replacement
order is decode-exact (token expansion is context-free), and the local-min
order tracks greedy within ~0.05% of output tokens while running ~5x
faster (~20 MB/s/core on this host, higher on a sane memory subsystem).
Rounds run on cache-sized blocks (BLK tokens) so the 10-15 passes stay
L2-resident instead of streaming the whole buffer each round; blocks are
encoded independently (a pair straddling a block boundary stays unmerged —
<= 7 bytes of lost compression per 128 KB block).

Reference parity note: the reference toolkit has no string codec at all —
it defers to parquet-mr page encodings (sort writer even disables dictionary
encoding, sort/DefaultParquetFileWriter.java:80-85). This module is
north-rule scope.
"""

from __future__ import annotations

import numpy as np

MAX_SYMBOLS = 254  # merged ids 256..509 keep lo byte < 0xFE
MAX_SYMBOL_LEN = 8
_HI_BASE = 0xFE


def _tok2(t: int) -> bytes:
    return bytes((t & 0xFF, _HI_BASE | (t >> 8)))


def _expand_to_tokens(data: bytes) -> bytes:
    """Raw bytes -> 2-byte token stream of literal tokens."""
    a = np.frombuffer(data, dtype=np.uint8)
    out = np.empty((len(a), 2), dtype=np.uint8)
    out[:, 0] = a
    out[:, 1] = _HI_BASE
    return out.tobytes()


def _parse_tokens(buf: bytes) -> np.ndarray:
    a = np.frombuffer(buf, dtype=np.uint8).reshape(-1, 2)
    return (a[:, 1].astype(np.int32) & 1) * 256 + a[:, 0].astype(np.int32)


_KEY = 512  # pair key a*_KEY+b: ids are < 510, so key order is (a, b) order


def _greedy_runs(hits: np.ndarray) -> np.ndarray:
    """Left-to-right non-overlapping subset of the sorted positions of an
    (a, a) pair: a run of consecutive positions is a run of a's, of which
    every second position (from the run start) merges."""
    idx = np.arange(len(hits))
    starts = np.ones(len(hits), dtype=bool)
    starts[1:] = np.diff(hits) != 1
    first = np.maximum.accumulate(np.where(starts, idx, 0))
    return hits[(idx - first) % 2 == 0]


def build_table(sample: bytes, max_symbols: int = MAX_SYMBOLS,
                min_count: int = 4) -> list[tuple[int, int]]:
    """Greedy pair-merge table from a sample buffer.

    Returns the ordered merge list [(a, b), ...]; merge i defines token
    256+i = concat(expansion(a), expansion(b)).
    """
    if not sample:
        return []
    max_symbols = min(max_symbols, MAX_SYMBOLS)
    toks = np.frombuffer(sample, dtype=np.uint8).astype(np.int32)
    # symbol length per token id; the literals 0xFE/0xFF count as full
    # length, so no pair that holds one is ever eligible (alignment safety)
    sym_len = np.ones(256 + max_symbols + 1, dtype=np.int32)
    sym_len[_HI_BASE:256] = MAX_SYMBOL_LEN

    def eligible_keys(left: np.ndarray, right: np.ndarray) -> np.ndarray:
        ok = sym_len[left] + sym_len[right] <= MAX_SYMBOL_LEN
        return left[ok] * _KEY + right[ok]

    cnt = np.bincount(eligible_keys(toks[:-1], toks[1:]),
                      minlength=_KEY * _KEY).astype(np.int32)
    one = np.int32(1)  # cnt's dtype keeps ufunc.at on numpy's fast path
    merges: list[tuple[int, int]] = []
    for _ in range(max_symbols):
        n_ids = 256 + len(merges)
        best = int(cnt[: n_ids * _KEY].argmax())
        if int(cnt[best]) < max(min_count, 1):  # 0: no eligible pair left
            break
        a, b = divmod(best, _KEY)
        hits = np.flatnonzero((toks[:-1] == a) & (toks[1:] == b))
        if a == b:
            hits = _greedy_runs(hits)
        # un-count every pair that touches a merged position ...
        n = len(toks)
        gone = np.unique(np.concatenate((hits - 1, hits, hits + 1)))
        gone = gone[(gone >= 0) & (gone < n - 1)]
        np.subtract.at(cnt, eligible_keys(toks[gone], toks[gone + 1]), one)
        merges.append((a, b))
        sym_len[n_ids] = sym_len[a] + sym_len[b]
        toks[hits] = n_ids
        keep = np.ones(n, dtype=bool)
        keep[hits + 1] = False
        toks = toks[keep]
        # ... and count the pairs around each new token in its place
        at = hits - np.arange(len(hits))
        born = np.unique(np.concatenate((at - 1, at)))
        born = born[(born >= 0) & (born < len(toks) - 1)]
        np.add.at(cnt, eligible_keys(toks[born], toks[born + 1]), one)
    return merges


def symbol_expansions(merges: list[tuple[int, int]]) -> list[bytes]:
    """Token id -> byte expansion for all 256 + len(merges) tokens."""
    syms = [bytes([i]) for i in range(256)]
    for a, b in merges:
        syms.append(syms[a] + syms[b])
    return syms


def apply_merges_replace(data: bytes, merges: list[tuple[int, int]]) -> np.ndarray:
    """Sequential-greedy encode via one `bytes.replace` pass per merge.

    Exactly the greedy order build_table merges in — kept as the reference
    implementation (tests compare the fast path's decode against it) and
    for tiny buffers where pass cost is irrelevant."""
    buf = _expand_to_tokens(data)
    for i, (a, b) in enumerate(merges):
        buf = buf.replace(_tok2(a) + _tok2(b), _tok2(256 + i))
    return _parse_tokens(buf)


_RANK_INF = np.int32(2**31 - 1)
_BLK = 128 << 10  # tokens per cache-resident block


def _rank_table(merges: list[tuple[int, int]]) -> np.ndarray:
    """Dense (a*1024+b) -> merge rank lookup (4 MB, cache-warm)."""
    rank = np.full(1024 * 1024, _RANK_INF, dtype=np.int32)
    keys = np.array([a * 1024 + b for a, b in merges], dtype=np.int64)
    rank[keys] = np.arange(len(merges), dtype=np.int32)
    return rank


class _Scratch:
    """Per-call reusable round buffers (alloc once, not once per round —
    fresh large allocations fault pathologically slowly on this host)."""

    def __init__(self, blk: int):
        self.toks = np.empty(blk, np.int32)
        self.pk = np.empty(blk, np.int32)
        self.r = np.empty(blk, np.int32)
        self.win = np.empty(blk, bool)
        self.keep = np.empty(blk, bool)
        self.idx = np.arange(blk, dtype=np.int32)


def _apply_block(raw: np.ndarray, rank: np.ndarray, s: _Scratch) -> np.ndarray:
    """Local-min-rank rounds over one block; returns its token ids."""
    n = len(raw)
    toks = s.toks[: n]
    toks[:] = raw
    while n >= 2:
        m = n - 1
        pk, r, win, keep = s.pk[:m], s.r[:m], s.win[:m], s.keep[:n]
        np.multiply(toks[:m], np.int32(1024), out=pk)
        np.add(pk, toks[1:n], out=pk)
        np.take(rank, pk, out=r)
        np.not_equal(r, _RANK_INF, out=win)
        if not win.any():
            break
        # a match survives iff its rank beats the left neighbor strictly
        # (left priority on ties) and the right neighbor non-strictly
        win[1:] &= r[1:] < r[: m - 1]
        win[: m - 1] &= r[: m - 1] <= r[1:]
        # equal ADJACENT ranks are runs of one repeated pair (ranks are
        # unique per pair): alternate positions from the run start merge,
        # matching greedy left-to-right on "aaaa..." runs
        tie = (r[1:] == r[: m - 1]) & (r[1:] != _RANK_INF)
        if tie.any():
            idx = s.idx[:m]
            tie_full = np.zeros(m, bool)
            tie_full[np.flatnonzero(tie) + 1] = True
            start = np.maximum.accumulate(np.where(~tie_full, idx, 0))
            add = tie_full & (((idx - start) & 1) == 0) & (r != _RANK_INF)
            add[: m - 1] &= r[: m - 1] <= r[1:]
            win |= add
            adj = win[: m - 1] & win[1:]
            if adj.any():  # overlap guard: the left win keeps its tokens
                win[1:][adj] = False
        if not win.any():
            break
        wi = np.flatnonzero(win)
        toks[wi] = r[wi] + np.int32(256)
        keep.fill(True)
        keep[wi + 1] = False
        nn = n - len(wi)
        toks[:nn] = toks[:n][keep]
        n = nn
    return toks[:n].copy()


def apply_merges(data: bytes, merges: list[tuple[int, int]]) -> np.ndarray:
    """Encode raw bytes into the token id stream (np.int32), vectorized.

    Cache-blocked local-min-rank rounds (see module docstring); decode via
    expand_tokens is exact for ANY replacement order, and output size
    tracks the sequential-greedy reference within ~0.05%."""
    if not merges:
        return np.frombuffer(data, np.uint8).astype(np.int32)
    if len(data) <= 4096:
        return apply_merges_replace(data, merges)
    rank = _rank_table(merges)
    raw = np.frombuffer(data, np.uint8)
    s = _Scratch(min(_BLK, len(raw)))
    outs = [
        _apply_block(raw[i: i + _BLK], rank, s)
        for i in range(0, len(raw), _BLK)
    ]
    return np.concatenate(outs)


def expand_tokens(tokens: np.ndarray, merges: list[tuple[int, int]]) -> bytes:
    """Decode token id stream back to the original bytes (vectorized)."""
    if len(tokens) == 0:
        return b""
    syms = symbol_expansions(merges)
    lens = np.array([len(s) for s in syms], dtype=np.int64)
    symcat = np.frombuffer(b"".join(syms), dtype=np.uint8)
    symoff = np.zeros(len(syms), dtype=np.int64)
    np.cumsum(lens[:-1], out=symoff[1:])
    tl = lens[tokens]
    starts = symoff[tokens]
    cum = np.cumsum(tl)
    total = int(cum[-1])
    out_idx = np.arange(total, dtype=np.int64) - np.repeat(cum - tl, tl) + np.repeat(starts, tl)
    return symcat[out_idx].tobytes()
