"""Self-describing binary container for one encoded column chunk.

Layout (all little-endian):

    magic 'PTSC' | u8 version | u32 header_len | header_json(utf-8) |
    sections... (raw bytes, order given by header["sections"])

header_json = {
  "codec": str, "nrows": int, "nvalid": int, "kind": str,
  "meta": chunk.meta (arrow type info), "cmeta": codec meta,
  "has_mask": bool,
  "sections": [[name, comp, raw_len, stored_len], ...]   # comp: "" | "zstd"
}

Each section is independently zstd-compressed (pyarrow's bundled zstd)
when that shrinks it — this is the general-purpose floor that keeps total
encoded size <= a Parquet-snappy baseline even on low-redundancy columns
(SURVEY.md §4.3 "selector floor").
"""

from __future__ import annotations

import json
import struct

import numpy as np
import pyarrow as pa

from parquet_toolkit_spark.codecs import impl
from parquet_toolkit_spark.codecs.bits import pack_mask, unpack_mask
from parquet_toolkit_spark.codecs.chunk import ColumnChunk

MAGIC = b"PTSC"
VERSION = 1
_MIN_COMPRESS = 64  # don't bother compressing tiny sections
# zstd-3 vs zstd-1 on the source-code corpus: ~2x smaller at the SAME
# compress throughput (~290 MB/s/core measured; the bigger match window
# pays for itself on repetitive text). Decompress is level-agnostic.
_ZSTD_LEVEL = 3
_ZSTD = pa.Codec("zstd", compression_level=_ZSTD_LEVEL)


def _maybe_zstd(raw: bytes) -> tuple[bytes, str]:
    if len(raw) < _MIN_COMPRESS:
        return raw, ""
    comp = _ZSTD.compress(raw, asbytes=True)
    if len(comp) < len(raw) * 0.98:
        return comp, "zstd"
    return raw, ""


def encode_blob(chunk: ColumnChunk, codec: str) -> bytes:
    """Encode a ColumnChunk with `codec` into one self-describing blob."""
    enc, _ = impl.ALL_CODECS[codec]
    if chunk.kind == "bin":
        off = chunk.offsets if chunk.offsets is not None else np.zeros(1, np.int64)
        sections, cmeta = enc(chunk.data, off)
    elif chunk.kind == "flist":
        off = chunk.offsets if chunk.offsets is not None else np.zeros(1, np.int64)
        sections, cmeta = enc(chunk.values, off)
    elif chunk.kind == "nested":
        sections, cmeta = enc(chunk.data)
    else:
        sections, cmeta = enc(chunk.values)

    if chunk.mask is not None:
        sections = {**sections, "_mask": pack_mask(chunk.mask)}
    if chunk.child_mask is not None:
        sections = {**sections, "_cmask": pack_mask(chunk.child_mask)}

    names, blobs, sec_index = [], [], []
    for name, raw in sections.items():
        stored, comp = _maybe_zstd(raw)
        names.append(name)
        blobs.append(stored)
        sec_index.append([name, comp, len(raw), len(stored)])

    header = {
        "codec": codec,
        "nrows": chunk.nrows,
        "nvalid": chunk.nvalid,
        "kind": chunk.kind,
        "meta": chunk.meta,
        "cmeta": cmeta,
        "has_mask": chunk.mask is not None,
        "n_child": len(chunk.child_mask) if chunk.child_mask is not None else 0,
        "sections": sec_index,
    }
    hj = json.dumps(header, separators=(",", ":")).encode()
    return b"".join(
        [MAGIC, struct.pack("<BI", VERSION, len(hj)), hj, *blobs]
    )


def decode_blob(blob) -> ColumnChunk:
    """Inverse of encode_blob — bit-identical ColumnChunk.

    Accepts any buffer (bytes, memoryview, pyarrow.Buffer): uncompressed
    sections are ZERO-COPY views into the input (VERDICT r1: decode was
    copying whole blobs through to_pylist), so a memory-mapped blob file
    flows to the output arrays without an intermediate copy.
    """
    mv = memoryview(blob)
    if mv[:4] != MAGIC:
        raise ValueError("not a PTSC blob")
    version, hlen = struct.unpack_from("<BI", mv, 4)
    if version != VERSION:
        raise ValueError(f"unsupported PTSC version {version}")
    header = json.loads(bytes(mv[9 : 9 + hlen]).decode())
    pos = 9 + hlen
    sections: dict[str, bytes | memoryview] = {}
    for name, comp, raw_len, stored_len in header["sections"]:
        raw = mv[pos : pos + stored_len]
        pos += stored_len
        if comp == "zstd":
            raw = pa.decompress(raw, decompressed_size=raw_len, codec="zstd", asbytes=True)
        sections[name] = raw

    nrows, nvalid = header["nrows"], header["nvalid"]
    mask = unpack_mask(sections["_mask"], nrows) if header["has_mask"] else None
    _, dec = impl.ALL_CODECS[header["codec"]]
    kind = header["kind"]
    if kind == "bin":
        data, offsets = dec(sections, header["cmeta"], nvalid)
        return ColumnChunk(kind, nrows, data=data, offsets=offsets,
                           mask=mask, meta=header["meta"])
    if kind == "nested":
        data = dec(sections, header["cmeta"], nvalid)
        return ColumnChunk(kind, nrows, data=data, meta=header["meta"])
    if kind == "flist":
        values, offsets = dec(sections, header["cmeta"], nvalid)
        n_child = header.get("n_child", 0)
        cmask = unpack_mask(sections["_cmask"], n_child) if n_child else None
        return ColumnChunk(kind, nrows, values=values, offsets=offsets,
                           mask=mask, meta=header["meta"], child_mask=cmask)
    # two-word decimal mantissas (r6): the int value stream holds
    # [lo..., hi...] — 2 words per valid row
    words = 2 if header["meta"].get("dec_words") == 2 else 1
    values = dec(sections, header["cmeta"], nvalid * words)
    if kind == "bool":
        values = values.astype(np.bool_)
    if kind == "float":
        pass  # dtype restored by codec
    return ColumnChunk(kind, nrows, values=values, mask=mask, meta=header["meta"])
