"""WAV (RIFF/WAVE, PCM 16-bit) audio codec — stdlib struct + numpy.

Completes the real-codec set (PNG/JPEG/G4 images, now PCM audio) for the
multimodal binary columns: WAV is the interchange format a training
pipeline actually receives for speech corpora, and PCM is lossless, so
feature extraction over decoded samples is SQL-oracle-able the same way
the flat-JPEG/G4 gates are. Non-PCM encodings (float, ADPCM, ...) raise
ValueError — the per-row failure accounting records them.
"""

from __future__ import annotations

import struct

import numpy as np


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Encode int16 samples — shape (n,) or (n, channels) — as PCM WAV."""
    samples = np.asarray(samples, dtype=np.int16)
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.ndim != 2 or samples.shape[0] == 0 or samples.shape[1] == 0:
        raise ValueError("need non-empty (n,) or (n, channels) int16 samples")
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()  # interleaved little-endian
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    out = b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(data)) + data
    return out


def decode_wav(data: bytes) -> tuple[np.ndarray, dict]:
    """Decode PCM-16 WAV -> ((n, channels) int16, {rate, channels,
    n_samples}). Raises ValueError for malformed or non-PCM-16 input."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    samples = None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if len(body) != size:
            raise ValueError("truncated chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            tag, ch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if tag != 1 or bits != 16:
                raise ValueError("only PCM 16-bit supported")
            if ch == 0 or rate == 0:
                raise ValueError("zero channels/rate")
            fmt = (ch, rate)
        elif cid == b"data":
            samples = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    ch, rate = fmt
    if len(samples) % (2 * ch):
        raise ValueError("data chunk not a whole number of frames")
    arr = np.frombuffer(samples, dtype="<i2").reshape(-1, ch).astype(np.int16)
    return arr, {"rate": rate, "channels": ch, "n_samples": arr.shape[0]}
