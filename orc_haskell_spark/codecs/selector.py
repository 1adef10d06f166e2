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

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

DICT_CARDINALITY_GATE = 0.5  # reference threshold (Striped.hs:828-830)
FSST_MIN_BYTES = 65536  # below this, symbol table overhead dominates
SAMPLE_BYTES = 1 << 19  # 512 KiB measurement sample


def choose_string_codec(arr: pa.Array, data: "np.ndarray",
                        allowed: tuple[str, ...],
                        compression: str = "none",
                        compression_level: int | None = None):
    """Pick 'dict' | 'fsst' | 'direct' for a no-null string/binary array.

    Returns (choice, fsst_table_or_None): the FSST trial's trained
    symbol table comes back so the caller can seed its per-task cache —
    the trial sample is the same distribution the column encodes, and
    training dominates a cold task's cost with the C compressor.

    Measured three-way argmin on a sample: every eligible candidate's
    encoded size (including the outer block codec) is estimated from
    the same ~512 KiB sample and the smallest wins. The reference's
    cardinality gate (distinct < 0.5 x total) remains the dict
    ELIGIBILITY test; the dict-vs-fsst decision is measured, not
    assumed — a low-cardinality column of long compressible values can
    still be cheaper under FSST.
    """
    n = len(arr)
    data_nbytes = int(data.nbytes)
    if n == 0 or data_nbytes == 0:
        return "direct", None
    from . import block, fsst, rle2

    def outer(b: bytes) -> int:
        if compression == "none" or not b:
            return len(b)
        return len(block.compress(b, compression, compression_level))

    sample = data[:SAMPLE_BYTES]
    scale = data_nbytes / sample.nbytes
    est: dict[str, float] = {"direct": outer(sample.tobytes()) * scale}

    # direct may carry a front-coded value stream (stripe.py re-measures
    # on the full stream) — let the estimate see that, or sorted key
    # columns (sort_within layouts) would mis-route to FSST
    k_fc = max(1, min(n, int(n * (SAMPLE_BYTES / data_nbytes))
                      if data_nbytes > SAMPLE_BYTES else n))
    from .strings import front_code, string_parts

    fc_data, fc_lens = string_parts(arr.slice(0, k_fc))
    if fc_data.nbytes:
        plens, fdata = front_code(fc_lens.astype(np.int64), fc_data)
        # scale by BYTES covered (like est["direct"]), not rows: with
        # skewed string lengths the first k_fc rows can cover far more
        # or fewer bytes than SAMPLE_BYTES and a row scale would bias
        # the estimate, mis-routing dict/fsst columns
        est["direct"] = min(
            est["direct"],
            (outer(fdata.tobytes()) + len(rle2.encode(plens, False)))
            * (data_nbytes / fc_data.nbytes))

    if "dict" in allowed:
        distinct = pc.count_distinct(arr).as_py()
        if distinct < DICT_CARDINALITY_GATE * n:
            # measured on a row sample: sorted-dict payload and RLEv2
            # indices, both outer-compressed like the other estimates
            k = max(1, min(n, int(n * (SAMPLE_BYTES / data_nbytes))
                           if data_nbytes > SAMPLE_BYTES else n))
            s_arr = arr.slice(0, k)
            from .strings import dictionary_encode_sorted

            idx, dlens, ddata = dictionary_encode_sorted(s_arr)
            idx_bytes = outer(rle2.encode(idx.astype(np.int64), False))
            row_scale = n / k
            # dictionary payload: plain vs front-coded, whichever the
            # stripe encoder would pick (it re-measures on the full dict)
            from .strings import front_code

            plens, sdata = front_code(dlens, ddata)
            payload = min(outer(ddata.tobytes()),
                          outer(sdata.tobytes())
                          + len(rle2.encode(plens, False)))
            # the dictionary is paid once per stripe, indices per row
            est["dict"] = (payload + len(dlens) * 1.2
                           + idx_bytes * row_scale)
    fsst_table = None
    if "fsst" in allowed and data_nbytes >= FSST_MIN_BYTES:
        fsst_table = fsst.train(sample)
        table, payload = fsst.compress(sample, fsst_table)
        est["fsst"] = (outer(bytes(payload)) + len(table)) * scale

    # 5% hysteresis toward the simpler codec (direct < dict < fsst)
    order = {"direct": 0, "dict": 1, "fsst": 2}
    best = min(est, key=lambda c: (est[c], order[c]))
    if best != "direct" and est[best] >= 0.95 * est["direct"]:
        return "direct", None
    return best, (fsst_table if best == "fsst" else None)


FLOAT_BSS_MIN_BYTES = 4096  # below this the measurement is noise


def choose_float_codec(vals: "np.ndarray", compression: str = "none",
                       compression_level: int | None = None,
                       return_artifacts: bool = False):
    """Pick 'raw' | 'bss' | 'alp' for an f4/f8 column.

    All candidates are measured on the same prefix sample under the
    configured outer codec and the smallest wins, with the string
    chooser's 5% hysteresis toward the simpler layout. Byte-stream-
    split is size-neutral without an outer codec so it only competes
    when compression is on; ALP shrinks on its own (integers bit-pack
    below the IEEE754 width) so it competes even uncompressed. Random-
    mantissa data (embeddings, measurements at full precision) fails
    ALP's encodability gate and falls through to raw/BSS.
    """
    if vals.nbytes < FLOAT_BSS_MIN_BYTES:
        return ("raw", {}) if return_artifacts else "raw"
    from . import alp, bitpack, block, floats, rle2

    def outer(b: bytes) -> int:
        if compression == "none" or not b:
            return len(b)
        return len(block.compress(b, compression, compression_level))

    k = min(len(vals), max(1, SAMPLE_BYTES // vals.dtype.itemsize))
    sample = np.ascontiguousarray(vals[:k])
    full = k == len(vals)
    arts: dict = {}
    est: dict[str, float] = {"raw": outer(sample.tobytes())}
    if compression != "none":
        est["bss"] = outer(floats.bss_encode(sample))
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
    order = {"raw": 0, "bss": 1, "alp": 2, "alp_rd": 3}
    best = min(est, key=lambda c: (est[c], order[c]))
    if best != "raw" and est[best] >= 0.95 * est["raw"]:
        best = "raw"
    return (best, arts) if return_artifacts else best
