"""ALP: adaptive lossless floating-point compression (Afroozeh & Boncz,
"ALP: Adaptive Lossless floating-Point Compression", SIGMOD 2023).

Decimal-like doubles (prices, rates, quantities — most real-world
numeric columns) are decimals that happened to be stored as IEEE754:
``x == round(x * 10^e / 10^f) * 10^f / 10^e`` for some small exponent
pair. ALP finds that pair, stores the integers (which then ride the
existing RLEv2 stream — frame-of-reference + bit-packing + delta, the
same machinery the int columns use), and keeps the values the pair
cannot represent as bit-exact *exceptions* (raw IEEE754 + positions).
Decode is one fused multiply per value plus an exception scatter, so
roundtrips are verified bit-identical AT ENCODE TIME — any value whose
reconstruction differs in even one bit becomes an exception, which
makes the codec lossless by construction (NaN payloads, -0.0, inf and
denormals all take the exception path).

The hot loops run in C (codecs/alp_kernel.c) with the numpy code here
as their twin, used under ORC_HS_NO_NATIVE=1 or when the build fails:
the (e, f) pair search (``alp_choose_pair``), the encode transform and
the ALP-RD split. Each twin gives the same bytes and raises the same
errors.

Deviation from the paper: the pair is chosen once per stripe from a
strided sample (the paper re-picks per 1024-value vector); column-
uniform scales — the common case this codec targets — lose nothing,
and mixed-scale columns simply measure poorly in the selector and fall
back to raw. The reference stores floats raw-LE only
(src/Orc/Serial/Binary/Striped.hs float path); ALP is an engine
addition like FSST.
"""

from __future__ import annotations

import ctypes

import numpy as np

from . import native

# 10^k is exactly representable in float64 for k <= 22; int64 verify
# cuts off near 2^62 anyway, so 18 digits is the useful ceiling.
E_MAX = 18
F10 = np.power(10.0, np.arange(E_MAX + 1))          # exact
IF10 = np.power(10.0, -np.arange(E_MAX + 1).astype(np.float64))

_SAMPLE = 2048  # pair-selection sample size


def _try_pair(vals64: np.ndarray, bits_native: np.ndarray,
              e: int, f: int, width: int):
    """Transform under (e, f): returns (ints, good_mask).

    ``bits_native`` is the original values' bit pattern in their native
    width (u32 view for f4, u64 for f8); goodness is BIT equality of
    the reconstruction, so -0.0 != +0.0 and NaNs always fail.
    """
    with np.errstate(invalid="ignore", over="ignore"):
        d = vals64 * F10[e] * IF10[f]
        in_range = np.isfinite(d) & (np.abs(d) < float(2 ** 62))
        d = np.where(in_range, d, 0.0)
        ints = np.rint(d).astype(np.int64)
        rec = ints.astype(np.float64) * F10[f] * IF10[e]
    if width == 4:
        rec_bits = rec.astype(np.float32).view(np.uint32)
    else:
        rec_bits = rec.view(np.uint64)
    good = in_range & (rec_bits == bits_native)
    return ints, good


def _native_bits(vals: np.ndarray) -> np.ndarray:
    return vals.view(np.uint32 if vals.dtype.itemsize == 4 else np.uint64)


_PAIRS = [(e, f) for e in range(E_MAX + 1) for f in range(e + 1)]
_ENC_FAC = np.array([F10[e] * IF10[f] for e, f in _PAIRS])
_DEC_F = np.array([F10[f] for _, f in _PAIRS])
_DEC_E = np.array([IF10[e] for e, _ in _PAIRS])


def _pair_stats(s64: np.ndarray, bits_native: np.ndarray,
                width: int):
    """numpy twin of the C ``alp_choose_pair`` scan: per candidate pair,
    (n_good, hi, lo) over the sample, hi/lo over good values only.

    All 190 candidate pairs are evaluated in one (pairs × sample)
    broadcast; the reconstruction uses the same two-multiply order as
    ``decode`` so goodness here predicts goodness there.
    """
    with np.errstate(invalid="ignore", over="ignore"):
        d = s64[None, :] * _ENC_FAC[:, None]
        in_range = np.isfinite(d) & (np.abs(d) < float(2 ** 62))
        ints = np.rint(np.where(in_range, d, 0.0)).astype(np.int64)
        rec = ints.astype(np.float64) * _DEC_F[:, None] * _DEC_E[:, None]
    if width == 4:
        rec_bits = rec.astype(np.float32).view(np.uint32)
    else:
        rec_bits = rec.view(np.uint64)
    good = in_range & (rec_bits == bits_native[None, :])
    n_good = good.sum(axis=1)
    hi = np.where(good, ints, np.int64(-(2 ** 62))).max(axis=1)
    lo = np.where(good, ints, np.int64(2 ** 62)).min(axis=1)
    return n_good, hi, lo


def _pick_pair(n_good: np.ndarray, hi: np.ndarray, lo: np.ndarray,
               n: int, width: int) -> tuple[int, int] | None:
    """The cost model shared by both scans: estimated bytes per pair,
    first minimum wins (like ``np.argmin``)."""
    span = np.maximum((hi - lo).astype(np.float64), 1.0)
    # float log2, not integer bit length: they differ for spans >= 2^48
    bits = np.floor(np.log2(span)) + 1.0
    exc_cost = width + 4  # raw value + u32 position
    cost = n * bits / 8 + (n - n_good) * exc_cost
    cost[n_good < n // 2] = np.inf
    # sub-ULP grids (e.g. e=16 over random mantissas) roundtrip "losslessly"
    # at ~native width — refuse any pair that can't beat the raw layout
    cost[cost >= n * width] = np.inf
    k = int(np.argmin(cost))
    return _PAIRS[k] if np.isfinite(cost[k]) else None


def choose_pair(vals: np.ndarray) -> tuple[int, int] | None:
    """Pick the (e, f) pair minimizing estimated encoded bytes on a
    strided sample; None when fewer than half the sampled values are
    exactly representable under every pair (ALP is hopeless there and
    the full-column transform isn't worth running).

    The scan runs in C (``alp_choose_pair``, which also abandons a pair
    once half the sample has failed) with ``_pair_stats`` as its numpy
    twin; both feed the same ``_pick_pair``.
    """
    if vals.size == 0:
        return None
    step = max(1, vals.size // _SAMPLE)
    s = np.ascontiguousarray(vals[::step][:_SAMPLE])
    width = s.dtype.itemsize
    s64 = s.astype(np.float64) if width == 4 else s
    lib = native.load()
    # the kernel reads native-order f4/f8 only
    if lib is None or s.dtype not in (np.float32, np.float64):
        n_good, hi, lo = _pair_stats(s64, _native_bits(s), width)
    else:
        n_good = np.empty(len(_PAIRS), np.int64)
        hi = np.empty(len(_PAIRS), np.int64)
        lo = np.empty(len(_PAIRS), np.int64)
        lib.alp_choose_pair(
            native.ptr(s64, ctypes.c_double), s.ctypes.data,
            width, s.size, native.ptr(_ENC_FAC, ctypes.c_double),
            native.ptr(_DEC_F, ctypes.c_double),
            native.ptr(_DEC_E, ctypes.c_double), len(_PAIRS),
            native.ptr(n_good, ctypes.c_int64),
            native.ptr(lo, ctypes.c_int64), native.ptr(hi, ctypes.c_int64))
    return _pick_pair(n_good, hi, lo, s.size, width)


def encode(vals: np.ndarray, pair: tuple[int, int] | None = None):
    """f4/f8 column -> (e, f, ints, exc_pos, exc_vals) or None.

    ``ints`` carries round(x * 10^e / 10^f) with exception slots filled
    by the good minimum (adds nothing to the FOR bit width);
    ``exc_vals`` keeps the irrepresentable values' exact bit patterns.
    """
    if pair is None:
        pair = choose_pair(vals)
    if pair is None:
        return None
    e, f = pair
    vals = np.ascontiguousarray(vals)
    lib = native.load()
    if lib is not None and vals.size:
        # one fused C pass: transform + bit-verify + exception stream +
        # fill back-patch (the numpy twin below is ~10 array passes)
        width = vals.dtype.itemsize
        ints = np.empty(vals.size, np.int64)
        exc_pos = np.empty(vals.size, np.uint64)
        exc_vals = np.empty(vals.size, vals.dtype)
        fn = lib.alp_encode_f4 if width == 4 else lib.alp_encode_f8
        vt = ctypes.c_float if width == 4 else ctypes.c_double
        n_exc = fn(native.ptr(vals, vt), vals.size,
                   float(F10[e]), float(IF10[f]), float(F10[f]),
                   float(IF10[e]),
                   native.ptr(ints, ctypes.c_int64),
                   native.ptr(exc_pos, ctypes.c_uint64),
                   native.ptr(exc_vals, vt))
        return e, f, ints, exc_pos[:n_exc].copy(), exc_vals[:n_exc].copy()
    v64 = vals.astype(np.float64) if vals.dtype.itemsize == 4 else vals
    ints, good = _try_pair(v64, _native_bits(vals), e, f,
                           vals.dtype.itemsize)
    exc_pos = np.flatnonzero(~good).astype(np.uint64)
    exc_vals = vals[~good]
    fill = ints[good].min() if good.any() else np.int64(0)
    ints = np.where(good, ints, fill)
    return e, f, ints, exc_pos, exc_vals


def decode(ints: np.ndarray, e: int, f: int, exc_pos: np.ndarray,
           exc_buf: bytes | np.ndarray, dtype: np.dtype) -> np.ndarray:
    """Inverse transform + exception scatter -> bit-exact values."""
    dtype = np.dtype(dtype)
    vals = ints.astype(np.float64) * F10[f] * IF10[e]
    if dtype.itemsize == 4:
        vals = vals.astype(np.float32)
    if len(exc_pos):
        vals[exc_pos.astype(np.int64)] = np.frombuffer(
            exc_buf, dtype=dtype, count=len(exc_pos))
    return vals


# ------------------------------------------------------------- ALP-RD
# The paper's second mode, for "real doubles" — full-precision values
# (embeddings, sensor readings) whose mantissas defeat the decimal
# transform. The IEEE754 bit pattern splits at a cut point: the LEFT
# part (sign + exponent + top mantissa bits, at most 16 bits) repeats
# heavily and dictionary-encodes into 3-bit codes; the RIGHT part is
# incompressible mantissa noise stored bit-packed at its exact width.
# Left patterns outside the 8-entry dictionary become exceptions
# (u16 pattern + position). Lossless by construction: encode splits
# bits, decode reassembles them — no arithmetic ever touches values.

RD_DICT_BITS = 3    # 8-entry left dictionary (paper default)
RD_MAX_LEFT = 16    # left parts are at most 16 bits (fit u16 exceptions)


def rd_choose(vals: np.ndarray):
    """Pick (right_width, left_dictionary) minimizing estimated encoded
    bytes on a strided sample; None when no cut beats the raw layout
    by >=5% (hash-like bit patterns with no repeating left parts)."""
    if vals.size == 0:
        return None
    total = vals.dtype.itemsize * 8
    step = max(1, vals.size // _SAMPLE)
    s = _native_bits(np.ascontiguousarray(vals[::step][:_SAMPLE]))
    best = None
    best_cost = np.inf
    for left_bits in range(1, RD_MAX_LEFT + 1):
        r = total - left_bits
        left = (s >> r).astype(np.uint16)
        uniq, counts = np.unique(left, return_counts=True)
        top = np.argsort(counts)[::-1][: 1 << RD_DICT_BITS]
        covered = int(counts[top].sum())
        cost = (s.size * (RD_DICT_BITS + r) / 8
                + (s.size - covered) * (2 + 4))
        if cost < best_cost:
            best_cost = cost
            best = (r, np.sort(uniq[top]).astype(np.uint16))
    if best is None or best_cost >= 0.95 * s.size * vals.dtype.itemsize:
        return None
    return best


def rd_encode(vals: np.ndarray, plan=None):
    """f4/f8 column -> (r, dict, codes, right, exc_pos, exc_left) or
    None. ``codes`` indexes ``dict`` (exception slots point at entry
    0); ``right`` holds the low ``r`` bits verbatim."""
    if plan is None:
        plan = rd_choose(vals)
    if plan is None:
        return None
    r, dict_left = plan
    lib = native.load()
    if lib is not None and vals.size:
        # one fused C pass: bit-split + 8-entry dict lookup + exception
        # stream (the numpy twin below is ~6 array passes)
        vals = np.ascontiguousarray(vals)
        dict_left = np.ascontiguousarray(dict_left, np.uint16)
        codes = np.empty(vals.size, np.uint64)
        right = np.empty(vals.size, np.uint64)
        exc_pos = np.empty(vals.size, np.uint64)
        exc_left = np.empty(vals.size, np.uint16)
        fn = (lib.alp_rd_encode_f4 if vals.dtype.itemsize == 4
              else lib.alp_rd_encode_f8)
        vt = ctypes.c_float if vals.dtype.itemsize == 4 else ctypes.c_double
        n_exc = fn(native.ptr(vals, vt), vals.size, int(r),
                   native.ptr(dict_left, ctypes.c_uint16), len(dict_left),
                   native.ptr(codes, ctypes.c_uint64),
                   native.ptr(right, ctypes.c_uint64),
                   native.ptr(exc_pos, ctypes.c_uint64),
                   native.ptr(exc_left, ctypes.c_uint16))
        return (r, dict_left, codes, right,
                exc_pos[:n_exc].copy(), exc_left[:n_exc].copy())
    bits = _native_bits(np.ascontiguousarray(vals)).astype(np.uint64)
    left = (bits >> np.uint64(r)).astype(np.uint16)
    right = bits & np.uint64((1 << r) - 1)
    code = np.searchsorted(dict_left, left)
    code = np.minimum(code, len(dict_left) - 1)
    good = dict_left[code] == left
    codes = np.where(good, code, 0).astype(np.uint64)
    exc_pos = np.flatnonzero(~good).astype(np.uint64)
    return r, dict_left, codes, right, exc_pos, left[~good]


def _bad_rd_codes(n_bad: int, dn: int) -> ValueError:
    return ValueError(f"corrupt ALP-RD stripe: {n_bad} dictionary code(s) "
                      f"outside the {dn}-entry left dictionary")


def rd_decode(codes: np.ndarray, right: np.ndarray, r: int,
              dict_left: np.ndarray, exc_pos: np.ndarray,
              exc_buf: bytes | np.ndarray, dtype: np.dtype) -> np.ndarray:
    """Reassemble (dict[code] << r) | right, scatter left exceptions.
    A code outside the dictionary raises ValueError on both paths."""
    dtype = np.dtype(dtype)
    lib = native.load()
    if lib is not None and codes.size:
        dl = np.ascontiguousarray(dict_left, np.uint16)
        codes = np.ascontiguousarray(codes, np.uint64)
        right = np.ascontiguousarray(right, np.uint64)
        bits = np.empty(codes.size, np.uint64)
        n_bad = lib.alp_rd_decode(native.ptr(codes, ctypes.c_uint64),
                                  native.ptr(right, ctypes.c_uint64), int(r),
                                  native.ptr(dl, ctypes.c_uint16), dl.size,
                                  codes.size,
                                  native.ptr(bits, ctypes.c_uint64))
        if n_bad:
            raise _bad_rd_codes(n_bad, dl.size)
        if len(exc_pos):
            p = exc_pos.astype(np.int64)
            excl = np.frombuffer(exc_buf, np.uint16,
                                 count=len(exc_pos)).astype(np.uint64)
            bits[p] = (excl << np.uint64(r)) | right[p]
        if dtype.itemsize == 4:
            return bits.astype(np.uint32).view(np.float32)
        return bits.view(np.float64)
    dl = np.asarray(dict_left, np.uint16)
    n_bad = int(np.count_nonzero(codes >= dl.size))
    if n_bad:
        raise _bad_rd_codes(n_bad, dl.size)
    left = dl[codes.astype(np.int64)].astype(np.uint64)
    if len(exc_pos):
        left[exc_pos.astype(np.int64)] = np.frombuffer(
            exc_buf, np.uint16, count=len(exc_pos)).astype(np.uint64)
    bits = (left << np.uint64(r)) | right
    if dtype.itemsize == 4:
        return bits.astype(np.uint32).view(np.float32)
    return bits.view(np.float64)
