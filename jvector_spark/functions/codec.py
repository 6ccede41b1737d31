"""LEB128 varint kernels for the segment format, numpy-vectorized.

The analog of the reference's compression operators (SURVEY §2.8):
ProductQuantization encode/decode (quantization/ProductQuantization.java:
418-450 — vector -> compact codes -> approximate vector) becomes here
*lossless* docid-gap compression (postings must decode exactly; BM25 is
exact, unlike ANN). The segment encoder (sources/segment.
encode_postings_frame) uses these for its varint streams and byte
offsets; FOR bit-packing and the block layout live there.

No per-value Python loops: encode is <=10 masked scatter passes, decode
a flatnonzero/segment-sum.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_SEVEN = _U64(7)


def varint_nbytes(vals: np.ndarray) -> np.ndarray:
    """Per-value LEB128 encoded byte count (vectorized) — lets callers compute
    section offsets into a stream without encoding section-by-section."""
    vals = np.ascontiguousarray(vals, dtype=_U64)
    nb = np.ones(len(vals), dtype=np.int64)
    for i in range(1, 10):
        nb += (vals >= (_U64(1) << _U64(7 * i))).astype(np.int64)
    return nb


def varint_encode(vals: np.ndarray) -> bytes:
    """LEB128 encode an array of uint64, fully vectorized."""
    vals = np.ascontiguousarray(vals, dtype=_U64)
    n = len(vals)
    if n == 0:
        return b""
    nb = varint_nbytes(vals)
    offsets = np.concatenate(([0], np.cumsum(nb)[:-1]))
    out = np.zeros(int(nb.sum()), dtype=np.uint8)
    for pos in range(10):
        mask = nb > pos
        if not mask.any():
            break
        byte = ((vals[mask] >> _U64(7 * pos)) & _U64(0x7F)).astype(np.uint8)
        cont = (nb[mask] - 1 > pos).astype(np.uint8) << 7
        out[offsets[mask] + pos] = byte | cont
    return out.tobytes()


def varint_decode(buf: bytes, n: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes -> uint64 array, vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(0, dtype=_U64)
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lens = ends - starts + 1
    pos = np.arange(len(b), dtype=np.int64) - np.repeat(starts, lens)
    vid = np.repeat(np.arange(len(ends), dtype=np.int64), lens)
    out = np.zeros(len(ends), dtype=_U64)
    np.add.at(out, vid, (b & 0x7F).astype(_U64) << (pos.astype(_U64) * _SEVEN))
    if n is not None and len(out) != n:
        raise ValueError(f"varint_decode: expected {n} values, got {len(out)}")
    return out
