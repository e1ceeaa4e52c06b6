"""Per-chunk bloom filters for point-lookup pid pruning.

Zone maps (min/max) prune range queries on SORTED layouts; a needle
lookup on a column the layout was NOT sorted by still touches every
partition. A small per-(pid, column) bloom closes that gap: the manifest
answers "which pids might contain value v" in O(pids) driver time, and
decode touches only those — the blob-store analogue of parquet
column-index bloom filters, built vectorized at encode time.

Hashing: one 64-bit value hash per row (splitmix64 for ints, a
polynomial hash in closed form with modular inverses for strings —
whole-batch numpy, zero per-row Python), double-hashed into
K=4 bit positions of an M=32768-bit (4 KB) filter. At the default chunk
size (~250k rows of a key column) that is ~8 bits/row -> ~2-3% false
positives; false NEGATIVES are impossible, so pruning is always sound.
"""

from __future__ import annotations

import base64

import numpy as np

BLOOM_BITS = 1 << 15  # 32768 bits = 4 KB per (pid, column)
_K = 4

# polynomial-hash constants shared with the scalar probe
_BASE = np.uint64(1099511628211)        # FNV-ish odd multiplier
_OFFSET = np.uint64(14695981039346656037)
# modular inverse of _BASE mod 2^64 (odd -> invertible)
_INV_BASE = np.uint64(pow(1099511628211, -1, 1 << 64))


def _splitmix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _poly_hash_batch(data: bytes, offsets: np.ndarray) -> np.ndarray:
    """One polynomial hash per value over the concatenated buffer,
    equal to _poly_hash_one of each value.

    Per value: h = offset*B^n + sum_j b_j * B^(n-1-j)  (mod 2^64). With
    global position p in a value starting at s (local j = p - s),
    B^(n-1-j) = B^(end-1) * B^(-p), so h = offset*B^n + B^(end-1) *
    sum_p b_p * invB^p: two cumprods, one elementwise multiply and one
    segment reduceat over the whole buffer."""
    off = np.asarray(offsets, np.int64)
    lens = np.diff(off)
    buf = np.frombuffer(data, np.uint8).astype(np.uint64)
    total = len(buf)
    with np.errstate(over="ignore"):
        powB = np.full(total + 1, _BASE, np.uint64)
        powB[0] = 1
        np.cumprod(powB, out=powB)
        powI = np.full(max(total, 1), _INV_BASE, np.uint64)
        powI[0] = 1
        np.cumprod(powI, out=powI)
        c = buf * powI[:total]
        cpad = np.concatenate([c, np.zeros(1, np.uint64)])
        seg = np.add.reduceat(cpad, off[:-1].clip(0, total)) \
            if len(off) > 1 else np.zeros(0, np.uint64)
        last = np.where(lens > 0, off[1:] - 1, 0)
        h = _OFFSET * powB[lens] + powB[last] * seg
        return np.where(lens > 0, h, _OFFSET)


def _poly_hash_one(value: bytes) -> np.uint64:
    h = _OFFSET
    with np.errstate(over="ignore"):
        for b in value:
            h = h * _BASE + np.uint64(b)
    return h


def value_hashes(chunk) -> np.ndarray | None:
    """uint64 hash per row of a ColumnChunk (nulls hash as 0 and are
    never probed); None for kinds blooms don't support."""
    if chunk.kind == "int":
        v = chunk.values
        if v is None:
            return None
        if chunk.meta.get("dec_words") == 2:
            # two-word decimal mantissas: the stream interleaves lo/hi
            # halves, and probe values exceed int64 — no bloom
            return None
        return _splitmix64(v.astype(np.int64).view(np.uint64))
    if chunk.kind == "bin":
        if chunk.offsets is None:
            return None
        return _poly_hash_batch(chunk.data, chunk.offsets)
    return None


def _positions(h: np.ndarray) -> tuple[np.ndarray, ...]:
    h2 = _splitmix64(h) | np.uint64(1)
    with np.errstate(over="ignore"):
        return tuple(
            ((h + np.uint64(i) * h2) % np.uint64(BLOOM_BITS)).astype(np.int64)
            for i in range(_K)
        )


def build_bloom(chunk) -> str | None:
    """Base64 bloom of the chunk's values, or None if unsupported."""
    h = value_hashes(chunk)
    if h is None:
        return None
    bits = np.zeros(BLOOM_BITS // 8, np.uint8)
    for pos in _positions(h):
        np.bitwise_or.at(bits, pos >> 3,
                         np.left_shift(np.uint8(1),
                                       (pos & 7).astype(np.uint8)))
    return base64.b64encode(bits.tobytes()).decode("ascii")


def _hash_value(value, kind: str) -> np.uint64:
    if kind == "int":
        return _splitmix64(
            np.array([value], np.int64).view(np.uint64))[0]
    raw = value.encode("utf-8", "surrogatepass") \
        if isinstance(value, str) else bytes(value)
    return _poly_hash_one(raw)


def bloom_might_contain(bloom_b64: str, value, kind: str) -> bool:
    """Sound membership probe: False means definitely absent."""
    bits = np.frombuffer(base64.b64decode(bloom_b64), np.uint8)
    h = np.array([_hash_value(value, kind)], np.uint64)
    for pos in _positions(h):
        p = int(pos[0])
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False
    return True
