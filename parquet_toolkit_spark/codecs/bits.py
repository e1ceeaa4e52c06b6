"""Bit-level primitives: n-bit packing, zigzag, width narrowing, and the
vectorized Murmur3 hash.

All functions operate on numpy arrays and return bytes/arrays; they are the
shared substrate for the frame-of-reference, delta, RLE and dictionary
codecs (reference counterpart: none — the reference toolkit delegates all
encoding to parquet-mr page encodings; here we own the encodings per the
north rule).
"""

from __future__ import annotations

import numpy as np

_CHUNK = 1 << 20  # cap temp memory of pack/unpack at ~width MB per block


def bit_width(max_value: int) -> int:
    """Bits needed for values in [0, max_value]. 0 for max_value == 0."""
    return int(max_value).bit_length() if max_value > 0 else 0


def pack_uints(values: np.ndarray, width: int) -> bytes:
    """Pack unsigned ints into `width` bits each, little-endian bit order.

    width == 0 means all values are zero: nothing is stored. Implemented as
    two C-level bit-matrix ops (unpackbits on the u64 little-endian bytes,
    column-slice to `width`, packbits) — no per-element Python arithmetic.
    """
    if width == 0 or len(values) == 0:
        return b""
    if width > 64:
        raise ValueError(f"width {width} > 64")
    v = np.ascontiguousarray(values, dtype="<u8")
    out = []
    for i in range(0, len(v), _CHUNK):
        blk = v[i : i + _CHUNK]
        bits = np.unpackbits(
            blk.view(np.uint8).reshape(len(blk), 8), bitorder="little", axis=1
        )[:, :width]
        out.append(np.packbits(bits.ravel(), bitorder="little").tobytes())
    # per-block packbits pads to byte boundary only if block bits % 8 != 0;
    # _CHUNK * width % 8 == 0 for every width because _CHUNK is a multiple of 8.
    return b"".join(out)


def unpack_uints(buf: bytes, width: int, count: int) -> np.ndarray:
    """Inverse of pack_uints -> np.uint64 array of length `count`."""
    if width == 0 or count == 0:
        return np.zeros(count, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    out = np.empty(count, dtype="<u8")
    out_u8 = out.view(np.uint8).reshape(count, 8)
    done = 0
    byte_per_blk = _CHUNK * width // 8
    blk_i = 0
    while done < count:
        n = min(_CHUNK, count - done)
        blk = raw[blk_i * byte_per_blk : blk_i * byte_per_blk + (n * width + 7) // 8]
        bits = np.unpackbits(blk, bitorder="little", count=n * width).reshape(n, width)
        full = np.zeros((n, 64), dtype=np.uint8)
        full[:, :width] = bits
        out_u8[done : done + n] = np.packbits(full, bitorder="little", axis=1)
        done += n
        blk_i += 1
    return out


def zigzag_encode(values: np.ndarray) -> np.ndarray:
    """Signed int64 -> unsigned zigzag (small magnitudes -> small uints)."""
    v = values.astype(np.int64)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    u = values.astype(np.uint64)
    return ((u >> np.uint64(1)).astype(np.int64)) ^ -(u & np.uint64(1)).astype(np.int64)


def pack_mask(mask: np.ndarray) -> bytes:
    """Validity mask (True == valid) -> packed bits."""
    return np.packbits(mask.astype(np.uint8), bitorder="little").tobytes()


def unpack_mask(buf: bytes, count: int) -> np.ndarray:
    return np.unpackbits(
        np.frombuffer(buf, dtype=np.uint8), bitorder="little", count=count
    ).astype(bool)


def murmur3_32_blocks(blocks: np.ndarray, seed: int) -> np.ndarray:
    """Murmur3_x86_32 of n keys of 4k bytes each, given as an (n, k) array
    of their little-endian uint32 blocks (no tail bytes); uint32 results.
    One vectorized pass per block column: Spark's `hashInt` is k = 1 with
    seed 42, an Iceberg bucket of a long is k = 2 with seed 0."""
    blocks = np.asarray(blocks, dtype=np.uint32)
    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    h = np.full(len(blocks), seed, dtype=np.uint32)
    with np.errstate(over="ignore"):
        for i in range(blocks.shape[1]):
            k = blocks[:, i] * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k *= c2
            h ^= k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(4 * blocks.shape[1])
        h ^= h >> np.uint32(16)
        h *= np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h *= np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h
