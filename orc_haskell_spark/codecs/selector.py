"""Per-column codec auto-selection.

The reference has exactly one data-dependent encoding decision: strings
use a dictionary iff distinct < 0.5 × total (putStringColumn,
src/Orc/Serial/Binary/Striped.hs:826-835); everything else is hardwired
DIRECT + RLEv1 (:681-747). Its only other adaptive behavior is the
per-chunk store-if-incompressible escape (Internal/Compression.hs:160-166).

This module generalizes both: estimate encoded bytes per candidate codec
from cheap column statistics (and small samples for FSST), pick argmin.
Integer mode selection is already exact inside rle2 (per-512 window);
here we choose between string representations and outer compression.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

DICT_CARDINALITY_GATE = 0.5  # reference threshold (Striped.hs:828-830)
FSST_MIN_BYTES = 65536  # below this, symbol table overhead dominates
SAMPLE_BYTES = 1 << 19  # 512 KiB measurement sample
FC_MIN_BYTES = 256  # no front-coding trial on smaller value streams


def outer_size(b: bytes, compression: str,
               compression_level: int | None = None) -> int:
    """The bytes ``b`` takes under the outer block codec: the one size
    every trial and front-coding check compares."""
    if compression == "none" or not b:
        return len(b)
    from . import block

    return len(block.compress(b, compression, compression_level))


def front_code_wins(plain: "np.ndarray", coded: "np.ndarray",
                    prefix: bytes, compression: str,
                    compression_level: int | None = None) -> bool:
    """Front-coded bytes plus their prefix-length stream beat the plain
    stream by 5% under the outer codec (``direct_trial``'s rule, for a
    stream the encoder already front-coded)."""
    return (outer_size(coded.tobytes(), compression, compression_level)
            + len(prefix) < 0.95 * outer_size(plain.tobytes(), compression,
                                              compression_level))


def direct_trial(data: "np.ndarray", lengths: "np.ndarray",
                 compression: str = "none",
                 compression_level: int | None = None):
    """(front_code, estimate) from a row-aligned ~512 KiB value prefix:
    does front-coding the value stream win by 5% under the outer codec
    (None when too small to measure), and the whole direct value
    stream's estimated bytes in the layout that verdict picks. The
    payoff case is a sorted key column (``sort_within`` layouts), whose
    prefix is the same distribution as the run."""
    from . import rle2
    from .strings import front_code

    lens = lengths.astype(np.int64)
    csum = np.cumsum(lens)
    k = int(np.searchsorted(csum, SAMPLE_BYTES, side="right")) + 1
    k = min(len(lens), max(2, k))
    nb = int(csum[k - 1]) if k else 0
    if nb == 0:
        return None, 0.0
    size = plain = outer_size(data[:nb].tobytes(), compression,
                              compression_level)
    fc = None
    if len(lens) >= 2 and data.nbytes >= FC_MIN_BYTES:
        plens, sdata = front_code(lens[:k], data[:nb])
        coded = (outer_size(sdata.tobytes(), compression, compression_level)
                 + len(rle2.encode(plens, False)))
        fc = coded < 0.95 * plain
        if fc:
            size = coded
    return fc, size * (data.nbytes / nb)


def choose_string_codec(arr: pa.Array, data: "np.ndarray",
                        allowed: tuple[str, ...],
                        compression: str = "none",
                        compression_level: int | None = None):
    """Pick 'dict' | 'fsst' | 'direct' for a no-null string/binary array.

    Returns (choice, fsst_table_or_None, front_code): the FSST trial's
    trained symbol table (training dominates a cold task's cost) and
    ``direct_trial``'s verdict come back for the encoder to reuse.

    Measured three-way argmin on a sample: every eligible candidate's
    encoded size (including the outer block codec) is estimated from
    ~512 KiB of the column and the smallest wins. The reference's
    cardinality gate (distinct < 0.5 x total) remains the dict
    ELIGIBILITY test; the dict-vs-fsst decision is measured, not
    assumed — a low-cardinality column of long compressible values can
    still be cheaper under FSST.
    """
    n = len(arr)
    data_nbytes = int(data.nbytes)
    if n == 0 or data_nbytes == 0:
        return "direct", None, None
    from . import fsst, rle2
    from .strings import dictionary_encode_sorted, front_code, string_parts

    outer = functools.partial(outer_size, compression=compression,
                              compression_level=compression_level)
    # direct may carry a front-coded value stream: the estimate sees
    # it, or sorted key columns (sort_within layouts) would mis-route
    # to FSST
    fc, direct = direct_trial(data, string_parts(arr)[1], compression,
                              compression_level)
    est: dict[str, float] = {"direct": direct}

    if "dict" in allowed:
        distinct = pc.count_distinct(arr).as_py()
        if distinct < DICT_CARDINALITY_GATE * n:
            # measured on a row sample: sorted-dict payload and RLEv2
            # indices, both outer-compressed like the other estimates
            k = max(1, min(n, int(n * (SAMPLE_BYTES / data_nbytes))
                           if data_nbytes > SAMPLE_BYTES else n))
            idx, dlens, ddata = dictionary_encode_sorted(arr.slice(0, k))
            idx_bytes = outer(rle2.encode(idx.astype(np.int64), False))
            # dictionary payload: plain vs front-coded, whichever the
            # stripe encoder would pick (it re-measures on the full dict)
            plens, sdata = front_code(dlens, ddata)
            payload = min(outer(ddata.tobytes()),
                          outer(sdata.tobytes())
                          + len(rle2.encode(plens, False)))
            # the dictionary is paid once per stripe, indices per row
            est["dict"] = (payload + len(dlens) * 1.2
                           + idx_bytes * (n / k))
    fsst_table = None
    if "fsst" in allowed and data_nbytes >= FSST_MIN_BYTES:
        sample = data[:SAMPLE_BYTES]
        fsst_table = fsst.train(sample)
        table, payload = fsst.compress(sample, fsst_table)
        est["fsst"] = ((outer(bytes(payload)) + len(table))
                       * (data_nbytes / sample.nbytes))

    # 5% hysteresis toward the simpler codec (direct < dict < fsst)
    order = {"direct": 0, "dict": 1, "fsst": 2}
    best = min(est, key=lambda c: (est[c], order[c]))
    if best != "direct" and est[best] >= 0.95 * est["direct"]:
        best = "direct"
    return best, (fsst_table if best == "fsst" else None), fc


FLOAT_TRIAL_MIN_BYTES = 4096  # below this the measurement is noise


def choose_float_codec(vals: "np.ndarray", compression: str = "none",
                       compression_level: int | None = None,
                       return_artifacts: bool = False):
    """Pick 'raw' | 'alp' | 'alp_rd' for an f4/f8 column.

    All candidates are measured on the same prefix sample under the
    configured outer codec and the smallest wins, with the string
    chooser's 5% hysteresis toward the simpler layout. ALP and ALP-RD
    shrink on their own (integers and right parts bit-pack below the
    IEEE754 width), so they compete even uncompressed. Byte-stream-
    split is not a candidate: it won one column-stripe of a fixture
    census while its trial compressed a third of every float sample
    (ROADMAP D12).
    """
    if vals.nbytes < FLOAT_TRIAL_MIN_BYTES:
        return ("raw", {}) if return_artifacts else "raw"
    from . import alp, bitpack, rle2

    outer = functools.partial(outer_size, compression=compression,
                              compression_level=compression_level)
    k = min(len(vals), max(1, SAMPLE_BYTES // vals.dtype.itemsize))
    sample = np.ascontiguousarray(vals[:k])
    full = k == len(vals)
    arts: dict = {}
    est: dict[str, float] = {"raw": outer(sample.tobytes())}
    enc = alp.encode(sample)
    if enc is not None:
        _e, _f, ints, pos, exc = enc
        est["alp"] = (outer(rle2.encode(ints, True))
                      + len(rle2.encode(pos, False))
                      + exc.nbytes)
        if full:
            arts["alp"] = enc
    enc_rd = alp.rd_encode(sample)
    if enc_rd is not None:
        r, dl, codes, right, pos, excl = enc_rd
        est["alp_rd"] = (outer(bitpack.pack_width(right, r))
                         + len(bitpack.pack_width(codes,
                                                  alp.RD_DICT_BITS))
                         + len(rle2.encode(pos, False))
                         + excl.nbytes + 2 * len(dl))
        if full:
            arts["alp_rd"] = enc_rd
    order = {"raw": 0, "alp": 1, "alp_rd": 2}
    best = min(est, key=lambda c: (est[c], order[c]))
    if best != "raw" and est[best] >= 0.95 * est["raw"]:
        best = "raw"
    return (best, arts) if return_artifacts else best
