"""Byte-stream-split for float columns (absent in the reference, which
stores floats raw-LE only — src/Orc/Serial/Binary/Striped.hs float path;
our raw mode is that exact layout).

BSS transposes the column's byte matrix: all 0th bytes of every value,
then all 1st bytes, ... (the Parquet BYTE_STREAM_SPLIT layout). It is
size-neutral alone but groups the nearly-constant sign/exponent bytes
into long runs for the outer block codec.

Read only: stripes no longer write BSS (it won one column-stripe of a
census while its trial cost a third of every float sample; ROADMAP
D12). ``bss_decode`` reads stored v3 stripes; ``bss_encode``, its exact
inverse, builds such stripes in tests.
"""

from __future__ import annotations

import numpy as np


def bss_encode(vals: np.ndarray) -> bytes:
    """Transpose an f4/f8 (little-endian) value array into per-byte
    planes. Empty input encodes to b''."""
    if vals.size == 0:
        return b""
    raw = np.ascontiguousarray(vals).view(np.uint8)
    return raw.reshape(vals.size, vals.dtype.itemsize).T.tobytes()


def bss_decode(buf: bytes | np.ndarray, n: int, itemsize: int) -> np.ndarray:
    """Inverse transpose -> little-endian f4/f8 values."""
    dt = np.dtype("<f4") if itemsize == 4 else np.dtype("<f8")
    if n == 0:
        return np.empty(0, dt)
    planes = np.frombuffer(buf, np.uint8, count=n * itemsize)
    return np.ascontiguousarray(
        planes.reshape(itemsize, n).T).view(dt).reshape(n)
