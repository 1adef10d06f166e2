"""Pure-Python ORC v1 file reader over the engine's codec kernels.

The whole-file analog of the reference reader
(/root/reference/src/Orc/Serial/Binary/Base.hs:78-159 `withOrcFileLifted`
/ `checkOrcFile`): parse PostScript -> Footer -> per-stripe
StripeFooter, then decode every column's streams (PRESENT / DATA /
LENGTH / DICTIONARY_DATA / SECONDARY) with the same RLEv1/RLEv2 /
byte-RLE / bit-pack / varint kernels the Spark engine uses. Produces
pyarrow Tables; cross-validated against pyarrow's bundled C++ ORC
implementation (the one orc-haskell declares compatibility with,
/root/reference/optimised-row-columnar.cabal:8-11).

Scale note: this module is deliberately single-file/driver-friendly;
the distributed path is spark_source.read_orc_distributed, which fans
stripes out to executors via mapInArrow (stripes are the reference's
own parallelism unit: self-contained, ~64 MB).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

from orc_haskell_spark.codecs import bitpack, byte_rle, rle1, rle2
from orc_haskell_spark.codecs.strings import (build_string_array,
                                              dictionary_decode)
from . import proto
from .compression import decompress_stream

ORC_EPOCH_SECONDS = 1420070400  # 2015-01-01 UTC, reference Time.hs:84-86

_DATA_KINDS = ("PRESENT", "DATA", "LENGTH", "DICTIONARY_DATA", "SECONDARY")


def parse_tail(tail: bytes) -> tuple[dict, dict]:
    """(postscript, footer) from the file tail bytes."""
    ps_len = tail[-1]
    ps = proto.decode("PostScript", tail[-1 - ps_len:-1])
    if ps.get("magic") != "ORC":
        raise ValueError("not an ORC file (bad magic)")
    comp_id = ps.get("compression", 0)
    comp = proto.COMPRESSION_NAME.get(comp_id)
    # fail at OPEN time with the codec's name, like the reference's
    # explicit unsupported-codec error (Internal/Compression.hs:95-118),
    # instead of a KeyError deep in the first stream decode
    if comp is None:
        raise ValueError(f"unknown ORC compression kind {comp_id}")
    if comp in ("LZO", "BROTLI"):
        raise ValueError(
            f"ORC compression {comp} is not supported by this reader")
    flen = ps["footerLength"]
    raw = tail[-1 - ps_len - flen:-1 - ps_len]
    footer = proto.decode("Footer", decompress_stream(raw, comp))
    return ps, footer


def arrow_type(types: list[dict], col: int) -> pa.DataType:
    t = types[col]
    kind = proto.KIND_NAME[t.get("kind", 0)]
    if kind == "BOOLEAN":
        return pa.bool_()
    if kind == "BYTE":
        return pa.int8()
    if kind == "SHORT":
        return pa.int16()
    if kind == "INT":
        return pa.int32()
    if kind == "LONG":
        return pa.int64()
    if kind == "FLOAT":
        return pa.float32()
    if kind == "DOUBLE":
        return pa.float64()
    if kind in ("STRING", "VARCHAR", "CHAR"):
        return pa.string()
    if kind == "BINARY":
        return pa.binary()
    if kind == "TIMESTAMP":
        return pa.timestamp("ns")
    if kind == "TIMESTAMP_INSTANT":
        return pa.timestamp("ns", tz="UTC")
    if kind == "DATE":
        return pa.date32()
    if kind == "DECIMAL":
        return pa.decimal128(t.get("precision", 38), t.get("scale", 0))
    if kind == "LIST":
        return pa.list_(arrow_type(types, t["subtypes"][0]))
    if kind == "MAP":
        return pa.map_(arrow_type(types, t["subtypes"][0]),
                       arrow_type(types, t["subtypes"][1]))
    if kind == "STRUCT":
        return pa.struct([
            pa.field(name, arrow_type(types, sub))
            for name, sub in zip(t.get("fieldNames", []),
                                 t.get("subtypes", []))])
    if kind == "UNION":
        # match the C++ adapter's convention: sparse union, children
        # named _union_<i>, positional type codes
        return pa.union(
            [pa.field(f"_union_{i}", arrow_type(types, sub))
             for i, sub in enumerate(t.get("subtypes", []))],
            mode="sparse",
            type_codes=list(range(len(t.get("subtypes", [])))))
    raise NotImplementedError(f"ORC type {kind} not supported")


def arrow_schema(footer: dict) -> pa.Schema:
    root = arrow_type(footer["types"], 0)
    if not pa.types.is_struct(root):
        raise ValueError("ORC root type must be STRUCT")
    return pa.schema(list(root))


def _int_rle(buf: bytes, enc: str, signed: bool,
             limit: int | None = None) -> np.ndarray:
    arr = np.frombuffer(buf, dtype=np.uint8)
    if enc in ("DIRECT_V2", "DICTIONARY_V2"):
        return rle2.decode(arr, signed, limit)
    return rle1.decode(arr, signed, limit)


def _present_mask(streams: dict, n: int, bit_skip: int = 0
                  ) -> np.ndarray | None:
    """Validity (True = non-null) for n values, or None if no PRESENT.
    ``bit_skip`` drops leading bits (row-group seek: the positioned
    byte-RLE suffix starts mid-run / mid-byte)."""
    buf = streams.get("PRESENT")
    if buf is None:
        return None
    bytes_ = byte_rle.decode(np.frombuffer(buf, dtype=np.uint8),
                             limit=(bit_skip + n + 7) // 8)
    bits = bitpack.unpack_bools(bytes_, bit_skip + n)
    return bits[bit_skip:]


class _StripeReader:
    def __init__(self, types: list[dict], encodings: list[dict],
                 streams: dict[tuple[int, str], bytes], n_rows: int,
                 tz: str, skips: dict | None = None):
        self.types = types
        self.encodings = encodings
        self.streams = streams
        self.n_rows = n_rows
        self.tz = tz
        # (col, stream_kind) -> leading values (bits for PRESENT/BOOLEAN
        # data) to drop; set by the row-group seek path where streams
        # are positioned suffixes whose first run predates the boundary
        self.skips = skips or {}

    def _sk(self, col: int, kind: str) -> int:
        return self.skips.get((col, kind), 0)

    def column(self, col: int, n: int) -> pa.Array:
        """Decode column `col` producing n entries (parent-present)."""
        t = self.types[col]
        kind = proto.KIND_NAME[t.get("kind", 0)]
        enc = proto.ENCODING_NAME[self.encodings[col].get("kind", 0)]
        st = {k: v for (c, k), v in self.streams.items() if c == col}
        valid = _present_mask(st, n, self._sk(col, "PRESENT"))
        m = n if valid is None else int(valid.sum())
        null_mask = None if valid is None else ~valid

        def expand(vals: np.ndarray, fill=0) -> np.ndarray:
            if valid is None:
                return vals
            out = np.full(n, fill, dtype=vals.dtype)
            out[valid] = vals
            return out

        typ = arrow_type(self.types, col)

        if kind == "STRUCT":
            children, names = [], t.get("fieldNames", [])
            for sub in t.get("subtypes", []):
                children.append(self.column(sub, m if valid is None else m))
            # children carry entries only where the struct is present
            if valid is not None:
                children = [_expand_array(c, valid) for c in children]
            return pa.StructArray.from_arrays(
                children, names=names,
                mask=pa.array(null_mask) if null_mask is not None else None)

        if kind == "UNION":
            # TAG byte stream + per-variant children, exactly the
            # reference's Union layout (src/Orc/Table/Striped.hs:33,
            # decode :387-397). Arrow unions carry no top-level nulls,
            # so null rows follow the C++ reader's convention (verified
            # against a crafted null-union file): tag 0 with a null
            # child-0 value. The tag stream holds PRESENT rows only.
            tags_p = byte_rle.decode(
                np.frombuffer(st["DATA"], np.uint8))[:m].view(np.int8)
            if valid is None:
                tags = tags_p
            else:
                tags = np.zeros(n, dtype=np.int8)
                tags[valid] = tags_p
            children = []
            for i, sub in enumerate(t.get("subtypes", [])):
                sel = tags == np.int8(i)
                if valid is not None:
                    sel &= valid
                cnt = int(sel.sum())
                child = self.column(sub, cnt)
                if cnt == 0:
                    children.append(pa.nulls(n, arrow_type(self.types, sub)))
                    continue
                # scatter to full length; unselected (and null) slots
                # take a NULL index -> null, matching the C++ output
                ix = np.full(n, -1, dtype=np.int64)
                ix[sel] = np.arange(cnt)
                take = pa.array(ix, pa.int64(), mask=ix < 0)
                children.append(child.take(take))
            return pa.UnionArray.from_sparse(
                pa.array(tags, pa.int8()), children,
                [f"_union_{i}" for i in range(len(children))],
                list(range(len(children))))

        if kind in ("LIST", "MAP"):
            lengths = _int_rle(st["LENGTH"], enc, signed=False)[:m]
            offsets = np.zeros(n + 1, dtype=np.int64)
            if valid is None:
                np.cumsum(lengths, out=offsets[1:])
            else:
                per = np.zeros(n, dtype=np.int64)
                per[valid] = lengths
                np.cumsum(per, out=offsets[1:])
            n_child = int(offsets[-1])
            if kind == "LIST":
                child = self.column(t["subtypes"][0], n_child)
                off = pa.array(offsets.astype(np.int32))
                arr = pa.ListArray.from_arrays(
                    off, child,
                    mask=pa.array(null_mask) if null_mask is not None else None)
                return arr
            keys = self.column(t["subtypes"][0], n_child)
            items = self.column(t["subtypes"][1], n_child)
            if null_mask is not None and null_mask.any():
                # a null START offset marks entry i null (null entries
                # contribute 0 length, so values stay aligned)
                omask = np.zeros(n + 1, dtype=bool)
                omask[:n] = null_mask
                off = pa.array(offsets.astype(np.int32), pa.int32(),
                               mask=omask)
                return pa.MapArray.from_arrays(off, keys, items)
            return pa.MapArray.from_arrays(
                pa.array(offsets.astype(np.int32)), keys, items)

        if kind == "BOOLEAN":
            bsk = self._sk(col, "DATA")
            bytes_ = byte_rle.decode(np.frombuffer(st["DATA"], np.uint8),
                                     limit=(bsk + m + 7) // 8)
            vals = bitpack.unpack_bools(bytes_, bsk + m)[bsk:]
            return pa.array(expand(vals, False),
                            type=pa.bool_(), mask=null_mask)

        if kind == "BYTE":
            sk = self._sk(col, "DATA")
            vals = byte_rle.decode(np.frombuffer(st["DATA"], np.uint8),
                                   limit=sk + m)[sk:]
            return pa.array(expand(vals.view(np.int8)), type=pa.int8(),
                            mask=null_mask)

        if kind in ("SHORT", "INT", "LONG"):
            sk = self._sk(col, "DATA")
            vals = _int_rle(st["DATA"], enc, True, sk + m)[sk:]
            return pa.array(expand(vals), type=pa.int64(),
                            mask=null_mask).cast(typ)

        if kind == "DATE":
            sk = self._sk(col, "DATA")
            vals = _int_rle(st["DATA"], enc, True, sk + m)[sk:]
            return pa.array(expand(vals.astype(np.int32)),
                            type=pa.date32(), mask=null_mask)

        if kind in ("FLOAT", "DOUBLE"):
            dt = np.dtype("<f4") if kind == "FLOAT" else np.dtype("<f8")
            vals = np.frombuffer(st["DATA"], dtype=dt, count=m)
            return pa.array(expand(vals), type=typ, mask=null_mask)

        if kind in ("TIMESTAMP", "TIMESTAMP_INSTANT"):
            sk = self._sk(col, "DATA")
            ssk = self._sk(col, "SECONDARY")
            secs = _int_rle(st["DATA"], enc, True, sk + m)[sk:]
            nanos = _decode_nanos_signed(
                _int_rle(st["SECONDARY"], enc, False, ssk + m)[ssk:])
            if kind == "TIMESTAMP" and self.tz not in ("UTC", "GMT", "") \
                    and m:
                # non-UTC writer: values are relative to 2015-01-01
                # 00:00:00 IN THE WRITER ZONE, and the wall reading
                # shifts by that zone's UTC offset AT each instant
                # (DST-aware). Formula matched against the C++ reader:
                # wall = stored + epoch(tz) + gmtOffset(tz, stored+epoch).
                secs = _writer_zone_wall(self.tz, secs)
            else:
                secs = secs + ORC_EPOCH_SECONDS
            # Java-writer convention: non-negative nanos with
            # truncated-toward-zero seconds, so pre-1970 values with
            # sub-second digits need one second subtracted. (C++ files
            # store negative nanos instead — no adjustment fires.)
            secs = secs - ((secs < 0) & (nanos > 0))
            ns = secs * 1_000_000_000 + nanos
            return pa.array(expand(ns), type=pa.int64(),
                            mask=null_mask).cast(typ)

        if kind in ("STRING", "VARCHAR", "CHAR", "BINARY"):
            base = pa.binary() if kind == "BINARY" else pa.string()
            if enc in ("DICTIONARY", "DICTIONARY_V2"):
                sk = self._sk(col, "DATA")
                idx = _int_rle(st["DATA"], enc, False, sk + m)[sk:]
                dlen = _int_rle(st["LENGTH"], enc, signed=False)
                ddata = np.frombuffer(st.get("DICTIONARY_DATA", b""),
                                      np.uint8)
                vals = dictionary_decode(idx.astype(np.int64), dlen, ddata,
                                         base)
            else:
                lsk = self._sk(col, "LENGTH")
                lens = _int_rle(st["LENGTH"], enc, False, lsk + m)[lsk:]
                data = np.frombuffer(st["DATA"], np.uint8)
                vals = build_string_array(data, lens, base)
            if valid is not None:
                vals = _expand_array(vals, valid)
                return _with_validity(vals, ~null_mask)
            return vals

        if kind == "DECIMAL":
            scale = t.get("scale", 0)
            # SECONDARY carries per-value scales; with a fixed column
            # scale they all equal t.scale, but honor them anyway
            ssk = self._sk(col, "SECONDARY")
            scales = _int_rle(st["SECONDARY"], enc, True, ssk + m)[ssk:]
            vals = _decode_decimal_fast(
                st["DATA"], m, scales, scale, t.get("precision", 38), typ)
            if vals is None:  # >64-bit mantissas or scale-down rounding
                mantissa = _decode_decimal_mantissas(st["DATA"], m)
                import decimal as _d

                py = [_d.Decimal(int(v)).scaleb(int(-s)).quantize(
                          _d.Decimal(1).scaleb(-scale))
                      for v, s in zip(mantissa, scales)]
                vals = pa.array(py, type=typ)
            if valid is not None:
                vals = _expand_array(vals, valid)
                return _with_validity(vals, ~null_mask)
            return vals

        raise NotImplementedError(f"ORC column kind {kind}")


def _decode_nanos_signed(raw: np.ndarray) -> np.ndarray:
    """ORC nano decode tolerating the C++ writer's signed remainders.

    The C++ writer decomposes t into (trunc seconds, remainder nanos),
    so pre-1970 sub-second values carry NEGATIVE nanos in two's
    complement through the 'unsigned' RLE stream. Arithmetic shift +
    low-3-bit zero count decodes both signs.
    """
    v = raw.astype(np.int64)
    zeros = (v & 7).astype(np.int64)
    base = v >> 3
    # code k>0 means k+1 trailing decimal zeros were stripped
    # (golden: 0x0a -> base 1, code 2 -> 1000)
    mul = np.array([1] + [10 ** (k + 2) for k in range(7)], dtype=np.int64)
    return base * mul[zeros]


def _tzif_transitions(tzname: str):
    """(transition_instants, utc_offsets) parsed from the zone's TZif
    file — the EXACT transition list, so no probing heuristic can miss
    closely-spaced rule changes (e.g. America/Recife 2000 enacted and
    repealed DST 7 days apart; Africa/Freetown 1939 flips in 4 days).

    Reads the 64-bit (v2+) data block per RFC 8536; returns arrays such
    that offset(t) = offs[searchsorted(starts, t, 'right') - 1], with
    starts[0] = -inf sentinel carrying the pre-first-transition offset.
    """
    import struct

    base = os.environ.get("TZDIR", "/usr/share/zoneinfo")
    path = os.path.join(base, *tzname.split("/"))
    if not os.path.realpath(path).startswith(os.path.realpath(base)):
        raise ValueError(f"bad timezone name {tzname!r}")
    with open(path, "rb") as f:
        data = f.read()
    if data[:4] != b"TZif":
        raise ValueError(f"{tzname}: not a TZif file")

    def parse_block(buf, pos, tsize, tfmt):
        (isutcnt, isstdcnt, leapcnt, timecnt, typecnt, charcnt) = \
            struct.unpack(">6I", buf[pos + 20: pos + 44])
        p = pos + 44
        times = np.frombuffer(buf, dtype=tfmt, count=timecnt, offset=p)
        p += timecnt * tsize
        idx = np.frombuffer(buf, dtype=np.uint8, count=timecnt, offset=p)
        p += timecnt
        ttinfo = []
        for i in range(typecnt):
            ut, dst, ab = struct.unpack(">iBB", buf[p + 6 * i: p + 6 * i + 6])
            ttinfo.append((ut, dst))
        p += 6 * typecnt + charcnt + leapcnt * (tsize + 4) \
            + isstdcnt + isutcnt
        return times.astype(np.int64), idx, ttinfo, p

    version = data[4:5]
    times, idx, ttinfo, end = parse_block(data, 0, 4, ">i4")
    if version in (b"2", b"3", b"4"):
        times, idx, ttinfo, _ = parse_block(data, end, 8, ">i8")
    if not ttinfo:
        raise ValueError(f"{tzname}: empty TZif")
    offs_by_type = np.array([t[0] for t in ttinfo], dtype=np.int64)
    # pre-first-transition offset: the C++ ORC reader applies the FIRST
    # TRANSITION'S TARGET type to ancient times (verified empirically on
    # LA 1850 -> PST -28800, Recife 1906 -> -03:00 — NOT the zone's LMT,
    # which zoneinfo would give); fall back to the first standard type
    if len(times):
        first_off = offs_by_type[int(idx[0])]
    else:
        first_off = offs_by_type[
            next((i for i, t in enumerate(ttinfo) if t[1] == 0), 0)]
    starts = np.concatenate(([np.iinfo(np.int64).min], times))
    offs = np.concatenate(([first_off],
                           offs_by_type[idx.astype(np.int64)]))
    return starts, offs


def _writer_zone_wall(tzname: str, stored: np.ndarray) -> np.ndarray:
    """UTC-naive wall seconds for TIMESTAMP values written in ``tzname``
    (see kind == TIMESTAMP above for the rule, derived from and verified
    bit-identical against the C++ ORC reader)."""
    import datetime as dt

    try:
        from zoneinfo import ZoneInfo

        zone = ZoneInfo(tzname)
        starts, offs = _tzif_transitions(tzname)
    except Exception as e:  # unknown zone name: fail loudly, like C++
        raise ValueError(f"unknown ORC writer timezone {tzname!r}") from e
    epoch = int(dt.datetime(2015, 1, 1, tzinfo=zone).timestamp())
    inst = stored.astype(np.int64) + epoch
    hi = int(inst.max())
    if hi > int(starts[-1]):
        # beyond the explicit transition list the POSIX TZ footer rule
        # applies (a regular annual pattern — C++ readers evaluate it);
        # zoneinfo implements the same rule, and in this region
        # transitions are months apart, so 20-day probing is exact
        ext_s, ext_o = _probe_offsets(zone, int(starts[-1]) + 1,
                                      hi + 86400 * 400)
        keep = ext_s > starts[-1]
        starts = np.concatenate((starts, ext_s[keep]))
        offs = np.concatenate((offs, ext_o[keep]))
    idx = np.searchsorted(starts, inst, side="right") - 1
    return inst + offs[idx]


def _probe_offsets(zone, lo: int, hi: int):
    """Piecewise-constant offsets over [lo, hi] by 20-day probing with
    per-transition binary search. ONLY valid where transitions are far
    apart (the POSIX-footer extension region); the historical list comes
    from _tzif_transitions, which is exact."""
    import datetime as dt

    def off(s: int) -> int:
        s = min(max(s, -62135500000), 253402200000)  # datetime year 1..9999
        return int(dt.datetime.fromtimestamp(
            s, zone).utcoffset().total_seconds())

    seg = 86400 * 20
    starts, offs = [lo], [off(lo)]
    a = lo
    while a < hi:
        b = min(a + seg, hi)
        if off(a) == off(b):
            a = b
            continue
        oa = off(a)
        x, y = a, b  # first change point in (a, b]
        while y - x > 1:
            mid = (x + y) // 2
            if off(mid) == oa:
                x = mid
            else:
                y = mid
        starts.append(y)
        offs.append(off(y))
        a = y
    return np.array(starts, dtype=np.int64), np.array(offs, dtype=np.int64)


def _decode_decimal_fast(buf: bytes, m: int, scales: np.ndarray,
                         scale: int, precision: int, typ) -> "pa.Array | None":
    """Vectorized DECIMAL decode for the int64-mantissa case
    (precision <= 18 — the overwhelming majority of real columns).

    Varints are decoded with the codecs.varint kernel, unzigzagged and
    scale-adjusted in numpy, and the decimal128 storage is built
    directly (lo limb = value, hi limb = sign extension). Returns None
    when the per-row fallback is required: mantissas wider than 64 bits
    (varint > 10 bytes), scale-DOWN adjustments (need rounding), or a
    multiply that would overflow int64.
    """
    from orc_haskell_spark.codecs import varint

    if precision > 18 or m == 0:
        return None if m else pa.array([], type=typ)
    try:
        u, consumed = varint.decode_unsigned(
            np.frombuffer(buf, np.uint8), 0, m)
    except ValueError:
        return None  # a varint exceeded 10 bytes: wide mantissas
    v = (u >> np.uint64(1)).astype(np.int64) ^ -(
        (u & np.uint64(1)).astype(np.int64))
    diff = np.int64(scale) - scales.astype(np.int64)
    if (diff < 0).any() or int(diff.max(initial=0)) > 18:
        return None
    p10 = np.power(np.int64(10), diff)
    if (np.abs(v) > np.int64(10 ** 18) // p10).any():
        return None  # scaling up would overflow the int64 mantissa
    v = v * p10
    pair = np.empty((m, 2), dtype="<i8")
    pair[:, 0] = v
    pair[:, 1] = v >> np.int64(63)
    return pa.Array.from_buffers(typ, m, [None, pa.py_buffer(pair.tobytes())])


def _decode_decimal_mantissas(buf: bytes, m: int) -> list[int]:
    """Unbounded zigzag base-128 varints (python ints: may exceed 64b)."""
    out, pos = [], 0
    for _ in range(m):
        shift, acc = 0, 0
        while True:
            b = buf[pos]
            pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        out.append((acc >> 1) ^ -(acc & 1))
    return out


def _expand_array(arr: pa.Array, valid: np.ndarray) -> pa.Array:
    """Scatter m present values into n slots (None where absent)."""
    idx = np.full(valid.size, -1, dtype=np.int64)
    idx[valid] = np.arange(int(valid.sum()))
    take = pa.array(idx, type=pa.int64())
    take = pa.compute.if_else(pa.array(valid), take, pa.nulls(valid.size, pa.int64()))
    return arr.take(take)


def _with_validity(arr: pa.Array, valid: np.ndarray) -> pa.Array:
    return pa.compute.if_else(pa.array(valid), arr, pa.nulls(len(arr), arr.type))


def _subtree_cols(types: list[dict], col: int, acc: set[int]) -> None:
    acc.add(col)
    for sub in types[col].get("subtypes", []):
        _subtree_cols(types, sub, acc)


def read_stripe_tables(data: bytes, info: dict, footer: dict,
                       comp: str, columns: list[str] | None = None
                       ) -> pa.RecordBatch:
    """Decode one stripe given its raw bytes (offset already applied).

    ``columns`` projects top-level fields: only their subtree streams
    are decompressed and decoded (column pruning at the byte level —
    a projected scan of a wide table touches a fraction of the IO).
    """
    root = footer["types"][0]
    names = root.get("fieldNames", [])
    subtypes = root.get("subtypes", [])
    if columns is None:
        picked = list(range(len(subtypes)))
    else:
        by_name = {n: i for i, n in enumerate(names)}
        picked = [by_name[c] for c in columns]
    wanted: set[int] = set()
    for i in picked:
        _subtree_cols(footer["types"], subtypes[i], wanted)

    flen = info["footerLength"]
    sfoot = proto.decode("StripeFooter",
                         decompress_stream(data[-flen:], comp))
    streams: dict[tuple[int, str], bytes] = {}
    pos = 0
    for s in sfoot.get("streams", []):
        kind = proto.STREAM_KIND_NAME[s.get("kind", 0)]
        col = s.get("column", 0)
        ln = s.get("length", 0)
        if kind in _DATA_KINDS and col in wanted:
            streams[(col, kind)] = decompress_stream(
                data[pos:pos + ln], comp)
        pos += ln
    encodings = sfoot.get("columns", [])
    n_rows = info["numberOfRows"]
    rd = _StripeReader(footer["types"], encodings, streams, n_rows,
                       sfoot.get("writerTimezone", ""))
    arrays = [rd.column(subtypes[i], n_rows) for i in picked]
    full = arrow_schema(footer)
    schema = pa.schema([full.field(i) for i in picked])
    arrays = [a.cast(f.type) if a.type != f.type else a
              for a, f in zip(arrays, schema)]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _stream_spans(sfoot: dict) -> dict[tuple[int, str], tuple[int, int]]:
    """(col, kind) -> (start, length) byte spans inside the stripe,
    walked from the start of the stream list (ROW_INDEX included)."""
    spans = {}
    pos = 0
    for s in sfoot.get("streams", []):
        kind = proto.STREAM_KIND_NAME[s.get("kind", 0)]
        col = s.get("column", 0)
        ln = s.get("length", 0)
        spans[(col, kind)] = (pos, ln)
        pos += ln
    return spans


def _positioned(data: bytes, span: tuple[int, int], comp: str,
                spos: tuple) -> bytes:
    """Suffix of a stream from a recorded position: with compression,
    (compressed chunk offset, offset in decompressed chunk); without,
    (byte offset,). Decompresses only from the positioned chunk on —
    the prefix is never inflated."""
    start, ln = span
    raw = data[start:start + ln]
    if comp == "NONE":
        return raw[spos[0]:]
    return decompress_stream(raw[spos[0]:], comp)[spos[1]:]


# The ROW_INDEX position layout, shared by the writer and the
# positioned reader: per column kind, the streams a RowIndexEntry
# positions, in order, each with the number of skip values after its
# cursor ([chunk, offset] with compression, [offset] without). One skip
# is an RLE value count; two are the byte and bit skips of a bit-packed
# stream. PRESENT (when the column has one) comes first. A dictionary
# column positions only its index DATA: the dictionary is whole-stripe.
# (Order and shapes follow the ORC spec's index section and the C++
# readers; validated against C++-written files in tests/test_orcfile.py.)
_PRESENT_LAYOUT = (("PRESENT", 2),)
_DICTIONARY_LAYOUT = (("DATA", 1),)
ROW_INDEX_LAYOUT: dict[str, tuple[tuple[str, int], ...]] = {
    "BOOLEAN": (("DATA", 2),),
    **dict.fromkeys(("BYTE", "SHORT", "INT", "LONG", "DATE"),
                    (("DATA", 1),)),
    **dict.fromkeys(("FLOAT", "DOUBLE"), (("DATA", 0),)),
    **dict.fromkeys(("TIMESTAMP", "TIMESTAMP_INSTANT"),
                    (("DATA", 1), ("SECONDARY", 1))),
    **dict.fromkeys(("STRING", "VARCHAR", "CHAR", "BINARY"),
                    (("DATA", 0), ("LENGTH", 1))),
    "DECIMAL": (("DATA", 0), ("SECONDARY", 1)),
}
_DICTIONARY_ENCODINGS = ("DICTIONARY", "DICTIONARY_V2")


def row_index_layout(kind: str, enc: str, has_present: bool
                     ) -> tuple[tuple[str, int], ...]:
    """(stream, skip count) pairs of one column's RowIndexEntry
    positions, in order (see ROW_INDEX_LAYOUT)."""
    if kind not in ROW_INDEX_LAYOUT:
        raise NotImplementedError(
            f"row-group reads of {kind} columns are not supported")
    body = (_DICTIONARY_LAYOUT if enc in _DICTIONARY_ENCODINGS
            else ROW_INDEX_LAYOUT[kind])
    return (_PRESENT_LAYOUT if has_present else ()) + body


def _seek_streams(data: bytes, comp: str, spans: dict, col: int,
                  kind: str, enc: str, positions: list[int]
                  ) -> tuple[dict, dict]:
    """Positioned (streams, skips) for one FLAT column at one row-group
    boundary, consuming ``positions`` per row_index_layout. A skip is
    in values for RLE streams and in bits for bit-packed ones."""
    it = iter(positions)
    streams: dict = {}
    skips: dict = {}
    for skind, n_skips in row_index_layout(kind, enc,
                                           (col, "PRESENT") in spans):
        cursor = (next(it), next(it)) if comp != "NONE" else (next(it),)
        sk = [next(it) for _ in range(n_skips)]
        streams[(col, skind)] = _positioned(data, spans[(col, skind)],
                                            comp, cursor)
        if n_skips:
            skips[(col, skind)] = sk[0] * 8 + sk[1] if n_skips == 2 \
                else sk[0]
    if enc in _DICTIONARY_ENCODINGS:
        for skind in ("LENGTH", "DICTIONARY_DATA"):
            if (col, skind) in spans:
                s0, ln0 = spans[(col, skind)]
                streams[(col, skind)] = decompress_stream(
                    data[s0:s0 + ln0], comp)
    return streams, skips


class ORCFile:
    """Random-access ORC reader (file path or bytes).

    Path mode is RANGE-BASED: only the tail (postscript + footer +
    metadata, a few KB) is read at open, and read_stripe pulls exactly
    its stripe's byte range — a one-stripe task against a multi-GB
    file touches stripe_bytes of IO, not the whole file. (The
    reference reader has the same property via its stream-offset seeks,
    src/Orc/Serial/Binary/Base.hs:78-159.)
    """

    _TAIL_GUESS = 256 * 1024

    def __init__(self, source):
        self._path = None
        self._buf = None
        self._meta_cache: dict = {}
        self._index_cache: dict = {}
        if isinstance(source, (bytes, bytearray)):
            self._buf = bytes(source)
            tail = self._buf[-min(len(self._buf), 16 * 1024 * 1024):]
        else:
            self._path = source
            self._size = os.path.getsize(source)
            tail = self._read_range(max(0, self._size - self._TAIL_GUESS),
                                    min(self._size, self._TAIL_GUESS))
            # grow if postscript+footer+metadata exceed the guess
            ps_len = tail[-1]
            ps = proto.decode("PostScript", tail[-1 - ps_len:-1])
            need = (1 + ps_len + ps.get("footerLength", 0)
                    + ps.get("metadataLength", 0))
            if need > len(tail):
                tail = self._read_range(self._size - need, need)
        self.postscript, self.footer = parse_tail(tail)
        self.compression = proto.COMPRESSION_NAME[
            self.postscript.get("compression", 0)]
        self.schema = arrow_schema(self.footer)
        self.stripes = self.footer.get("stripes", [])
        self.num_rows = self.footer.get("numberOfRows", 0)
        # file Metadata (per-stripe column statistics), if present:
        # located immediately before the footer
        self.stripe_stats: list[list[dict]] = []
        mlen = self.postscript.get("metadataLength", 0)
        if mlen:
            ps_len = tail[-1]
            flen = self.postscript["footerLength"]
            raw = tail[-1 - ps_len - flen - mlen:-1 - ps_len - flen]
            meta = proto.decode("Metadata",
                                decompress_stream(raw, self.compression))
            self.stripe_stats = [s.get("colStats", [])
                                 for s in meta.get("stripeStats", [])]

    def prune_stripes(self, column: str, lo=None, hi=None) -> list[int]:
        """Stripe indices that may contain values of `column` in
        [lo, hi] per the file's stripe statistics — min/max stripe
        skipping, the reference ORC reader's row-group elimination at
        stripe granularity. Returns all stripes when stats are absent
        (never wrong, only less selective)."""
        if not self.stripe_stats:
            return list(range(len(self.stripes)))
        root = self.footer["types"][0]
        col_id = root["subtypes"][root["fieldNames"].index(column)]
        keep = []
        for i, cs in enumerate(self.stripe_stats):
            if col_id >= len(cs):
                keep.append(i)
                continue
            st = cs[col_id]
            s = st.get("intStatistics") or st.get("doubleStatistics") \
                or st.get("stringStatistics") or {}
            mn, mx = s.get("minimum"), s.get("maximum")
            if mn is None or mx is None:
                keep.append(i)
                continue
            if (lo is None or mx >= lo) and (hi is None or mn <= hi):
                keep.append(i)
        return keep

    def _read_range(self, start: int, length: int) -> bytes:
        if self._buf is not None:
            return self._buf[start:start + length]
        with open(self._path, "rb") as f:
            f.seek(start)
            return f.read(length)

    def read_stripe(self, i: int,
                    columns: list[str] | None = None) -> pa.RecordBatch:
        info = self.stripes[i]
        start = info["offset"]
        length = info.get("indexLength", 0) + info["dataLength"] \
            + info["footerLength"]
        # stream offsets in read_stripe_tables are walked from the
        # start of the stream list, which includes ROW_INDEX entries —
        # pass the full stripe slice
        return read_stripe_tables(self._read_range(start, length), info,
                                  self.footer, self.compression, columns)

    def _stripe_meta(self, i: int):
        """(StripeFooter dict, stream spans) for stripe i — a ranged
        read of the stripe FOOTER only, memoized (pruning then reading
        the same stripe parses it once)."""
        hit = self._meta_cache.get(i)
        if hit is not None:
            return hit
        info = self.stripes[i]
        start = info["offset"] + info.get("indexLength", 0) \
            + info["dataLength"]
        raw = self._read_range(start, info["footerLength"])
        sfoot = proto.decode("StripeFooter",
                             decompress_stream(raw, self.compression))
        out = (sfoot, _stream_spans(sfoot))
        self._meta_cache = {i: out}  # keep exactly one stripe
        return out

    def _index_region(self, i: int, spans: dict) -> tuple[bytes, int]:
        """(bytes, base) covering every ROW_INDEX stream of stripe i.
        Spec files put index streams first, so this is a ranged read of
        indexLength bytes; nonconforming layouts fall back to the whole
        stripe. Memoized like _stripe_meta."""
        hit = self._index_cache.get(i)
        if hit is not None:
            return hit
        info = self.stripes[i]
        ilen = info.get("indexLength", 0)
        ri_end = max((st + ln for (c, k), (st, ln) in spans.items()
                      if k in ("ROW_INDEX", "BLOOM_FILTER",
                               "BLOOM_FILTER_UTF8")), default=0)
        length = ilen if ri_end <= ilen else (ilen + info["dataLength"])
        out = (self._read_range(info["offset"], length), 0)
        self._index_cache = {i: out}
        return out

    def read_row_index(self, i: int,
                       columns: list[str] | None = None
                       ) -> dict[int, list[dict]]:
        """col_id -> RowIndexEntry list (positions + statistics, one
        entry per rowIndexStride rows) for stripe ``i``. Requires the
        writer to have emitted ROW_INDEX streams (rowIndexStride > 0)."""
        if not self.footer.get("rowIndexStride"):
            raise ValueError("file has no row index (rowIndexStride=0)")
        sfoot, spans = self._stripe_meta(i)
        data, base = self._index_region(i, spans)
        root = self.footer["types"][0]
        if columns is None:
            wanted = None
        else:
            by_name = dict(zip(root.get("fieldNames", []),
                               root.get("subtypes", [])))
            wanted = set()
            for c in columns:
                _subtree_cols(self.footer["types"], by_name[c], wanted)
        out: dict[int, list[dict]] = {}
        for (col, kind), (start, ln) in spans.items():
            if kind != "ROW_INDEX" or (wanted is not None
                                       and col not in wanted):
                continue
            ri = proto.decode("RowIndex", decompress_stream(
                data[start - base:start - base + ln], self.compression))
            out[col] = ri.get("entry", [])
        return out

    def read_bloom_index(self, i: int, column: str) -> list:
        """Per-row-group BloomFilterUtf8 list for ``column`` in stripe
        ``i`` (entries may be None), or [] when the column carries no
        bloom stream. Index-region IO only."""
        from . import bloom as bloom_mod

        sfoot, spans = self._stripe_meta(i)
        root = self.footer["types"][0]
        col = root["subtypes"][root["fieldNames"].index(column)]
        # UTF8 streams ONLY: legacy BLOOM_FILTER strings were hashed in
        # the writer JVM's default charset (the bug ORC-101 fixed), so
        # probing them with utf-8 hashes could false-negative and drop
        # matching groups
        span = spans.get((col, "BLOOM_FILTER_UTF8"))
        if span is None:
            return []
        data, base = self._index_region(i, spans)
        start, ln = span
        bfi = proto.decode("BloomFilterIndex", decompress_stream(
            data[start - base:start - base + ln], self.compression))
        return [bloom_mod.BloomFilterUtf8.from_proto(m)
                for m in bfi.get("bloomFilter", [])]

    def prune_row_groups_eq(self, i: int, column: str, value
                            ) -> list[int]:
        """Row groups that may contain column == value: min/max stat
        elimination INTERSECTED with bloom-filter membership when the
        file carries BLOOM_FILTER_UTF8 streams (hash semantics
        calibrated bit-exact against the C++ implementation — zero
        false negatives guaranteed, so intersection is safe)."""
        keep = self.prune_row_groups(i, column, value, value)
        blooms = self.read_bloom_index(i, column)
        if not blooms:
            return keep
        # coerce the probe into the COLUMN's hash domain (the writer
        # hashed column values, not query-literal types): an int probe
        # of a DOUBLE column must hash as a double, and vice versa
        root = self.footer["types"][0]
        col = root["subtypes"][root["fieldNames"].index(column)]
        kind = proto.KIND_NAME[self.footer["types"][col].get("kind", 0)]
        try:
            if kind in ("BYTE", "SHORT", "INT", "LONG", "DATE"):
                if isinstance(value, float) and not value.is_integer():
                    return []  # a non-integral literal matches no int
                value = int(value)
            elif kind in ("FLOAT", "DOUBLE"):
                value = float(value)
            elif kind in ("STRING", "VARCHAR", "CHAR"):
                if not isinstance(value, str):
                    return keep  # unexpected literal: stats only
            elif kind == "BINARY":
                if not isinstance(value, (bytes, bytearray)):
                    return keep
            else:
                return keep  # timestamps etc: probe domain ambiguous
        except (TypeError, ValueError):
            return keep
        out = []
        for g in keep:
            b = blooms[g] if g < len(blooms) else None
            try:
                if b is None or b.might_contain(value):
                    out.append(g)
            except TypeError:
                out.append(g)  # unhashable type for blooms: keep
        return out

    def prune_row_groups(self, i: int, column: str, lo=None, hi=None
                         ) -> list[int]:
        """Row-group ids (rowIndexStride granularity) of stripe ``i``
        that may contain `column` values in [lo, hi], per the ROW_INDEX
        entry statistics. Groups without usable stats are kept."""
        stride = self.footer.get("rowIndexStride", 0)
        info = self.stripes[i]
        n_groups = -(-info["numberOfRows"] // stride) if stride else 1
        root = self.footer["types"][0]
        col_id = root["subtypes"][root["fieldNames"].index(column)]
        entries = self.read_row_index(i, [column]).get(col_id, [])
        if len(entries) < n_groups:
            return list(range(n_groups))
        keep = []
        for g in range(n_groups):
            st = entries[g].get("statistics", {})
            s = st.get("intStatistics") or st.get("doubleStatistics") \
                or st.get("stringStatistics") or {}
            mn, mx = s.get("minimum"), s.get("maximum")
            try:
                if mn is None or mx is None or (
                        (lo is None or mx >= lo)
                        and (hi is None or mn <= hi)):
                    keep.append(g)
            except TypeError:
                keep.append(g)
        return keep

    def read_stripe_row_groups(self, i: int, row_groups: list[int],
                               columns: list[str] | None = None
                               ) -> pa.RecordBatch:
        """Decode ONLY the given row groups of stripe ``i`` — the
        reference reader's row-level index seek (the part of S2 that
        skips ROW_INDEX; here we use it): per-stream positions from the
        RowIndexEntry place every cursor at the group boundary, the
        compressed prefix is never inflated and the skipped rows are
        never decoded. Flat (primitive) columns only."""
        stride = self.footer.get("rowIndexStride", 0)
        if not stride:
            raise ValueError("file has no row index (rowIndexStride=0)")
        info = self.stripes[i]
        n_rows = info["numberOfRows"]
        n_groups = -(-n_rows // stride)
        if any(g < 0 or g >= n_groups for g in row_groups):
            raise ValueError(f"row group out of range 0..{n_groups - 1}")
        sfoot, spans = self._stripe_meta(i)
        # data region only (index region never touched for the decode):
        # spans are relative to the stream-list start, so rebase them.
        # Nonconforming layouts that interleave data streams BEFORE
        # index streams would rebase negative — read the full stripe
        # range unrebased instead (correctness over the IO saving).
        ilen = info.get("indexLength", 0)
        data_spans = {k: v for k, v in spans.items()
                      if k[1] != "ROW_INDEX"}
        if all(st >= ilen for st, _ in data_spans.values()):
            data = self._read_range(info["offset"] + ilen,
                                    info["dataLength"])
            spans = {k: (st - ilen, ln)
                     for k, (st, ln) in data_spans.items()}
        else:
            data = self._read_range(
                info["offset"], ilen + info["dataLength"])
            spans = data_spans
        types = self.footer["types"]
        root = types[0]
        names = root.get("fieldNames", [])
        subtypes = root.get("subtypes", [])
        picked = (list(range(len(subtypes))) if columns is None
                  else [names.index(c) for c in columns])
        for pi in picked:
            k = proto.KIND_NAME[types[subtypes[pi]].get("kind", 0)]
            if k not in ROW_INDEX_LAYOUT:
                raise NotImplementedError(
                    f"row-group reads of {k} columns are not supported")
        index = {col: ents for col, ents in
                 self.read_row_index(i, [names[pi] for pi in picked])
                 .items()}
        encodings = sfoot.get("columns", [])
        tz = sfoot.get("writerTimezone", "")

        # contiguous runs decode in one positioned pass each
        runs = []
        for g in sorted(set(row_groups)):
            if runs and g == runs[-1][1]:
                runs[-1][1] = g + 1
            else:
                runs.append([g, g + 1])

        full = arrow_schema(self.footer)
        schema = pa.schema([full.field(pi) for pi in picked])
        batches = []
        for g0, g1 in runs:
            n = min(g1 * stride, n_rows) - g0 * stride
            streams: dict = {}
            skips: dict = {}
            for pi in picked:
                col = subtypes[pi]
                kind = proto.KIND_NAME[types[col].get("kind", 0)]
                enc = proto.ENCODING_NAME[
                    encodings[col].get("kind", 0)]
                pos = index[col][g0].get("positions", [])
                s, k = _seek_streams(data, self.compression, spans,
                                     col, kind, enc, pos)
                streams.update(s)
                skips.update(k)
            rd = _StripeReader(types, encodings, streams, n, tz, skips)
            arrays = [rd.column(subtypes[pi], n) for pi in picked]
            arrays = [a.cast(f.type) if a.type != f.type else a
                      for a, f in zip(arrays, schema)]
            batches.append(
                pa.RecordBatch.from_arrays(arrays, schema=schema))
        if not batches:
            return pa.RecordBatch.from_pylist([], schema=schema)
        return pa.Table.from_batches(batches).combine_chunks() \
            .to_batches()[0]

    def read_stripe_pruned(self, i: int, ranges=(),
                           columns: list[str] | None = None
                           ) -> pa.RecordBatch:
        """Stripe ``i`` narrowed by ROW_INDEX row-group elimination:
        ``ranges`` [(column, lo, hi)] (None = unbounded) keep only the
        groups whose statistics may hold a match, and an equality range
        (lo == hi) also probes the column's bloom filter. Only the
        surviving groups of ``columns`` are decoded; when none survive
        the batch is empty. Unindexed files, nested columns and index
        failures read the whole stripe: pruning is an optimization,
        never a correctness dependency (callers re-apply the filters)."""
        stride = self.footer.get("rowIndexStride", 0)
        if ranges and stride:
            try:
                total = -(-self.stripes[i]["numberOfRows"] // stride)
                keep = set(range(total))
                for col, lo, hi in ranges:
                    keep &= set(
                        self.prune_row_groups_eq(i, col, lo)
                        if lo is not None and lo == hi
                        else self.prune_row_groups(i, col, lo, hi))
                if len(keep) < total:
                    return self.read_stripe_row_groups(i, sorted(keep),
                                                       columns)
            except Exception:
                pass  # unsupported type / no index entries: full read
        return self.read_stripe(i, columns)

    def read(self, columns: list[str] | None = None) -> pa.Table:
        if not self.stripes:
            schema = self.schema if columns is None else pa.schema(
                [self.schema.field(c) for c in columns])
            return schema.empty_table()
        return pa.Table.from_batches(
            [self.read_stripe(i, columns) for i in range(len(self.stripes))])


def read_orc(source, columns: list[str] | None = None) -> pa.Table:
    return ORCFile(source).read(columns)
