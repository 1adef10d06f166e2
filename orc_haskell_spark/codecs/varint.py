"""Base-128 (LEB128) varints, fully vectorized in numpy.

Reference semantics: src/Orc/Serial/Binary/Internal/Integers.hs:80-135
(getBase128Varint / putBase128Varint) and csrc/integers.c:16-36.

The reference zigzags inside the varint for signed types (OrcNum class);
here signedness is handled by the caller (see rle1.py / rle2.py) — these
kernels move raw uint64 payloads, exactly like the C writer.

Encoding is little-endian 7-bit groups with a continuation MSB; a uint64
needs at most 10 bytes.
"""

from __future__ import annotations

import numpy as np

_U7 = np.uint64(7)
_U0x7F = np.uint64(0x7F)


def encoded_lengths(u: np.ndarray) -> np.ndarray:
    """Byte length of each value's varint encoding (int64 array)."""
    u = np.ascontiguousarray(u, dtype=np.uint64)
    nb = np.ones(u.size, dtype=np.int64)
    tmp = u >> _U7
    while tmp.any():  # ≤ 9 iterations for uint64
        nb += tmp != 0
        tmp = tmp >> _U7
    return nb


def encode_unsigned(u: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode a uint64 array to concatenated varints.

    Returns (payload bytes, per-value byte lengths) — the lengths let the
    RLE encoders split a pre-encoded literal stretch at group boundaries
    without re-encoding.
    """
    u = np.ascontiguousarray(u, dtype=np.uint64)
    n = u.size
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nb = encoded_lengths(u)
    total = int(nb.sum())
    out = np.zeros(total, dtype=np.uint8)
    off = np.cumsum(nb) - nb  # start offset of each value
    for k in range(10):
        mask = nb > k
        if not mask.any():
            break
        vals = ((u[mask] >> np.uint64(7 * k)) & _U0x7F).astype(np.uint8)
        cont = (nb[mask] - 1 > k).astype(np.uint8) << 7
        out[off[mask] + k] = vals | cont
    return out.tobytes(), nb


def decode_unsigned(
    buf: np.ndarray, offset: int, count: int
) -> tuple[np.ndarray, int]:
    """Decode ``count`` varints from uint8 array ``buf`` starting at ``offset``.

    Returns (uint64 values, bytes consumed). Vectorized: terminator bytes
    (MSB clear) delimit groups; per-group contributions are OR-composed via
    ``add.reduceat`` (bit ranges never overlap, so add == or).
    """
    if count == 0:
        return np.zeros(0, dtype=np.uint64), 0
    b = buf[offset:]
    term = np.flatnonzero(b < 0x80)
    if term.size < count:
        raise ValueError(
            f"varint stream truncated: need {count} terminators, found {term.size}"
        )
    ends = term[:count]
    starts = np.empty(count, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    if lens.max() > 10:
        raise ValueError("varint longer than 10 bytes")
    total = int(ends[-1]) + 1
    pos = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
    contrib = (b[:total].astype(np.uint64) & _U0x7F) << (
        pos.astype(np.uint64) * _U7
    )
    vals = np.add.reduceat(contrib, starts)
    return vals, total
