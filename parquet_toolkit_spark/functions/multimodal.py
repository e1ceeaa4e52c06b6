"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata. The decoders and featurizers below are pure numpy over
one payload's bytes, for callers to run inside their own Arrow-batched
UDFs (the media_features query decodes WAV this way).

REAL decoders (pure numpy + struct — no external media libs needed):
  - audio/wav  RIFF/WAVE PCM16 parse -> int16 samples; features: duration,
               RMS, zero-crossing rate, FFT spectral centroid
  - image/bmp  BI_RGB 24-bit parse (padded bottom-up rows) -> (H, W, 3)
               uint8; nearest-neighbor resize; features: per-channel
               mean/std + 8-bin luminance histogram
  - image/ppm  P6 binary parse -> (H, W, 3) uint8 (same feature path)

COMPRESSED codecs (png/jpeg/h264/aac...) genuinely need codec libraries
that are not in this container; those kinds raise NotImplementedError
with the library names, and the deterministic sha-seeded fake feature
keeps the downstream pipeline (schema, batching, ANN handoff) testable
for them.

Schema convention:
    media(media_id: long, kind: string, meta: string(json), payload: binary)
"""

from __future__ import annotations

import hashlib
import json
import struct

import numpy as np

from pyspark.sql import DataFrame, SparkSession

MEDIA_SCHEMA = "media_id LONG, kind STRING, meta STRING, payload BINARY"
FEATURE_DIM = 16  # all kinds emit a fixed-width vector (ANN-ready)


# ------------------------------------------------------------- WAV (PCM16)


def encode_wav_pcm16(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16 mono samples -> RIFF/WAVE bytes (the test-fixture writer)."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav_pcm16(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM16 mono/stereo -> (float samples in [-1, 1], rate)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, bits, data = 12, None, 1, 16, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt != 1 or bits != 16:
                raise NotImplementedError(
                    f"only PCM16 WAV is decodable without codec libs "
                    f"(got fmt={fmt}, bits={bits})"
                )
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    s = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
    if channels > 1:
        s = s[: len(s) - len(s) % channels].reshape(-1, channels).mean(axis=1)
    return s, rate


def audio_features(samples: np.ndarray, rate: int,
                   dim: int = FEATURE_DIM) -> np.ndarray:
    """duration, rms, zero-crossing rate, spectral centroid + 12-bin
    log-spaced FFT band energies — one vectorized pass."""
    n = len(samples)
    out = np.zeros(max(dim, 16), dtype=np.float32)
    if n == 0:
        return out[:dim]
    out[0] = n / rate  # duration s
    out[1] = float(np.sqrt(np.mean(samples**2)))  # rms
    out[2] = float(np.mean(np.abs(np.diff(np.signbit(samples))))) if n > 1 else 0.0
    spec = np.abs(np.fft.rfft(samples))
    freqs = np.fft.rfftfreq(n, d=1.0 / rate)
    tot = spec.sum()
    out[3] = float((freqs * spec).sum() / tot) if tot > 0 else 0.0  # centroid
    # 12 log-spaced band energies (normalized)
    edges = np.logspace(np.log10(20), np.log10(max(rate / 2, 40)), 13)
    idx = np.searchsorted(freqs, edges)
    for b in range(12):
        lo, hi = idx[b], max(idx[b + 1], idx[b] + 1)
        out[4 + b] = float(spec[lo:hi].sum() / tot) if tot > 0 else 0.0
    return out[:dim]


# ---------------------------------------------------------- BMP / PPM RGB


def encode_bmp(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> 24-bit BI_RGB BMP bytes (fixture writer)."""
    h, w, _ = img.shape
    row = w * 3
    pad = (-row) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        body += img[y, :, ::-1].tobytes() + b"\x00" * pad  # BGR
    data = bytes(body)
    off = 14 + 40
    hdr = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    return hdr + info + data


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit BI_RGB BMP -> (H, W, 3) uint8 RGB."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    hsize, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bits = struct.unpack_from("<HH", payload, 26)
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bits != 24 or comp != 0:
        raise NotImplementedError(
            f"only 24-bit BI_RGB BMP is decodable without codec libs "
            f"(got bits={bits}, compression={comp})"
        )
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    raw = np.frombuffer(payload, dtype=np.uint8,
                        count=stride * h, offset=off)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    img = rows[::-1] if flip else rows
    return img[:, :, ::-1].copy()  # BGR -> RGB


def decode_ppm(payload: bytes) -> np.ndarray:
    """P6 binary PPM (maxval 255) -> (H, W, 3) uint8 RGB."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header: P6 <w> <h> <maxval> single-whitespace separated (no comments
    # in our fixtures; comment lines are skipped for robustness)
    toks, pos = [], 2
    while len(toks) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        toks.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxv = toks
    if maxv != 255:
        raise NotImplementedError("only maxval=255 PPM supported")
    return np.frombuffer(payload, np.uint8, count=w * h * 3,
                         offset=pos).reshape(h, w, 3).copy()


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize — pure index sampling, exact and fast."""
    h, w = img.shape[:2]
    yi = (np.arange(out_h) * (h / out_h)).astype(np.int64).clip(0, h - 1)
    xi = (np.arange(out_w) * (w / out_w)).astype(np.int64).clip(0, w - 1)
    return img[yi[:, None], xi[None, :]]


def image_features(img: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """per-channel mean/std + 8-bin luminance histogram + aspect ratio."""
    out = np.zeros(max(dim, 16), dtype=np.float32)
    f = img.astype(np.float32) / 255.0
    out[0:3] = f.mean(axis=(0, 1))
    out[3:6] = f.std(axis=(0, 1))
    lum = f @ np.array([0.299, 0.587, 0.114], dtype=np.float32)
    hist, _ = np.histogram(lum, bins=8, range=(0.0, 1.0))
    out[6:14] = hist / max(1, lum.size)
    out[14] = img.shape[0] / max(1, img.shape[1])  # aspect
    out[15] = float(img.shape[0] * img.shape[1]) / 1e6  # megapixels
    return out[:dim]


# ----------------------------------------------------------- decode entry


def real_decode(payload: bytes, kind: str):
    """Decode a payload by MIME kind. Real for wav/bmp/ppm; compressed
    codecs need libraries absent from this container and raise."""
    if kind == "audio/wav":
        return decode_wav_pcm16(payload)
    if kind == "image/bmp":
        return decode_bmp(payload)
    if kind == "image/ppm":
        return decode_ppm(payload)
    raise NotImplementedError(
        f"decoding {kind!r} requires a codec library (PIL/libav/ffmpeg) "
        "not installed in this container; wav/bmp/ppm decode natively"
    )


def _fake_feature(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in feature for codec-gated kinds: sha256-seeded
    pseudo-embedding keeps the downstream pipeline testable."""
    digest = hashlib.sha256(payload).digest()
    seed = int.from_bytes(digest[:8], "little")
    rng = np.random.default_rng(seed)
    return rng.standard_normal(dim).astype(np.float32)


def payload_feature(payload: bytes, kind: str, dim: int = FEATURE_DIM,
                    allow_fake: bool = True) -> np.ndarray:
    try:
        decoded = real_decode(payload, kind)
    except NotImplementedError:
        if not allow_fake:
            raise
        return _fake_feature(payload, dim)
    if kind == "audio/wav":
        samples, rate = decoded
        return audio_features(samples, rate, dim)
    return image_features(decoded, dim)


# ------------------------------------------------------------ fixtures


def make_media_df(spark: SparkSession, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic media table with REAL wav/bmp payloads (decodable by
    the numpy codecs above) plus codec-gated mp4 rows."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        kind = ["image/bmp", "audio/wav", "video/mp4"][i % 3]
        if kind == "image/bmp":
            h, w = int(rng.integers(8, 48)), int(rng.integers(8, 48))
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            payload = encode_bmp(img)
            meta = json.dumps({"width": w, "height": h, "codec": "bi_rgb24"})
        elif kind == "audio/wav":
            rate = 8000
            dur = int(rng.integers(400, 4000))
            t = np.arange(dur, dtype=np.float32)
            freq = float(rng.uniform(100, 1000))
            sig = 0.5 * np.sin(2 * np.pi * freq * t / rate)
            payload = encode_wav_pcm16((sig * 32767).astype(np.int16), rate)
            meta = json.dumps({"duration_ms": int(1000 * dur / rate),
                               "codec": "pcm16", "rate": rate})
        else:
            payload = rng.integers(0, 256, int(rng.integers(256, 2048)),
                                   dtype=np.uint8).tobytes()
            meta = json.dumps({"duration_ms": int(rng.integers(100, 60000)),
                               "codec": "h264"})
        rows.append((i, kind, meta, bytearray(payload)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# ------------------------------------------------------- Spark operators
