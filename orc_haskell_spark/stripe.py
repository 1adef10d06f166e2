"""Stripe layer: Arrow RecordBatch ↔ per-column ORC-style streams.

One Arrow RecordBatch == one reference "stripe" (README.md:40-45: stripes
are gathered whole into columnar memory). Per column we emit 1-3 streams
tagged like the reference's StreamKind (src/Orc/Schema/Types.hs:214-223):
PRESENT (null bitmap), DATA, LENGTH, DICTIONARY_DATA, SECONDARY — laid
out by type exactly as the reference reader/writer does
(src/Orc/Serial/Binary/Striped.hs:304-426 decode, :679-793 encode):

| type               | streams                                              |
|--------------------|------------------------------------------------------|
| boolean            | DATA = bit-packed + byte-RLE                          |
| int8..64 / date    | DATA = RLEv2 (RLEv1 still read)                       |
| float / double     | DATA = raw IEEE754 LE, or ALP / ALP-RD streams        |
|                    | (selector-measured; stored BSS planes still read)     |
| string/binary      | direct: DATA concat + LENGTH RLE; dict: DATA indices  |
|                    | + LENGTH dict lens + DICTIONARY_DATA; fsst: DATA      |
|                    | compressed + LENGTH RLE + FSST_TABLE                  |
| timestamp          | DATA = seconds-since-2015 RLE, SECONDARY = packed ns  |
| list / map         | LENGTH = int RLE, then child column(s)                |
| struct             | child columns                                        |
| any nullable       | PRESENT prepended; values compacted (nulls stripped)  |

Null compaction matches the reference (withPresence, Striped.hs:199-219):
the inner streams hold only present values; Arrow's keep-slots-for-null
representation is compacted on encode and re-expanded via a null-masked
take on decode (S4 in SURVEY.md §2.2).

Each stream may carry an outer block-compression layer (block.py) chosen
by actual benefit — the store-if-smaller escape generalized per stream.

Codec trials run in codecs/selector.py; this module applies their
verdicts, caches them per (column, task), and re-checks a sampled
front-coding verdict once against a full stripe.
"""

from __future__ import annotations

import base64
from typing import Any

import numpy as np
import pyarrow as pa

from .codecs import (alp, bitpack, block, byte_rle, floats, rle1, rle2,
                     selector, timestamps)
from .codecs import fsst as fsst_codec
from .codecs.strings import (
    build_string_array,
    dictionary_decode,
    dictionary_encode_sorted,
    front_code,
    front_decode,
    string_parts,
)

# bump on any incompatible change to the stripe payload layout (v2 =
# FSST piece framing); decode_stripe rejects other versions loudly
STRIPE_FORMAT_VERSION = 2
BSS_FORMAT_VERSION = 3      # v2 + byte-stream-split floats (read only)
ALP_FORMAT_VERSION = 4      # v3 + ALP float payloads (codecs/alp.py)

DEFAULT_CONFIG: dict[str, Any] = {
    "string_codec": "auto",       # "direct" | "dict" | "fsst" | "auto"
    "float_codec": None,    # None=measured | "raw" | "alp" | "alp_rd"
    "compression": "zstd",        # outer block layer; "none" to disable
    "compression_level": 3,
    "bloom_columns": [],          # per-stripe blooms for point lookups
    "sort_within": [],            # stripe-local clustering sort (engine.py)
}
STRING_CODECS = ("auto", "direct", "dict", "fsst")
FLOAT_CODECS = (None, "raw", "alp", "alp_rd")

COMPRESSION_MIN_BYTES = 256  # don't frame tiny streams

# fixed bloom geometry (engine.bloom_prune_stripes refuses to prune a
# stripe whose stored geometry differs — forward-compatible by design)
BLOOM_M = 1024   # bits (16 int64 words)
BLOOM_K = 4      # probes per value

_U8 = np.uint8


def _buf(b: bytes) -> np.ndarray:
    return np.frombuffer(b, dtype=np.uint8)


# ------------------------------------------------------------------ ints


# written RLEv2; RLEv1 (the reference writer's layout) is still read
_INT_DECODERS = {"rle1": rle1.decode, "rle2": rle2.decode}


def _encode_int_stream(vals: np.ndarray) -> tuple[str, bytes]:
    return "rle2", rle2.encode(vals, True)


def _encode_uint_stream(vals: np.ndarray) -> tuple[str, bytes]:
    return "rle2", rle2.encode(vals, False)


def _decode_int_stream(buf: np.ndarray, codec: str, n: int,
                       signed: bool = True) -> np.ndarray:
    """The first ``n`` values (the footer's count): the C kernel then
    fills a buffer of that size instead of guessing and re-decoding."""
    if codec not in _INT_DECODERS:
        raise ValueError(f"unknown integer stream codec {codec!r}")
    return _INT_DECODERS[codec](buf, signed, n)


def _decode_uint_stream(buf: np.ndarray, codec: str, n: int) -> np.ndarray:
    return _decode_int_stream(buf, codec, n, False)


# ------------------------------------------------------------------ column encode

def encode_column(name: str, arr: pa.Array, cfg: dict,
                  cache: dict | None = None) -> tuple[dict, dict[str, bytes]]:
    """Encode one (possibly nullable) column -> (encoding meta, streams)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    streams: dict[str, bytes] = {}
    meta: dict[str, Any] = {"n": n}
    if arr.null_count > 0:
        present = ~np.asarray(arr.is_null())
        streams["PRESENT"] = byte_rle.encode(_buf(bitpack.pack_bools(present)))
        meta["nullable"] = True
        arr = arr.drop_null()
    inner_meta, inner_streams = _encode_values(arr, cfg, cache, name)
    meta.update(inner_meta)
    streams.update(inner_streams)
    return meta, streams


def _encode_values(arr: pa.Array, cfg: dict, cache: dict | None = None,
                   name: str = "") -> tuple[dict, dict[str, bytes]]:
    typ = arr.type
    if pa.types.is_boolean(typ):
        mask = np.asarray(arr)
        data = byte_rle.encode(_buf(bitpack.pack_bools(mask)))
        return {"kind": "bool"}, {"DATA": data}

    if pa.types.is_integer(typ) or pa.types.is_date32(typ) or pa.types.is_date64(typ):
        if pa.types.is_date32(typ):
            arr = arr.view(pa.int32())
        elif pa.types.is_date64(typ):
            arr = arr.view(pa.int64())
        vals = np.asarray(
            arr.cast(pa.int64()) if arr.type != pa.int64() else arr
        ).astype(np.int64, copy=False)
        codec, data = _encode_int_stream(vals)
        return {"kind": "int", "codec": codec}, {"DATA": data}

    if pa.types.is_floating(typ):
        # decode assumes f4/f8; refuse float16 at encode time so a
        # corrupt stripe is never persisted
        if not (pa.types.is_float32(typ) or pa.types.is_float64(typ)):
            raise NotImplementedError(f"float type {typ} not supported (f4/f8 only)")
        vals = np.asarray(arr).astype(
            np.asarray(arr).dtype.newbyteorder("<"), copy=False)
        # raw LE (the reference layout) vs ALP vs ALP-RD, measured
        # under the configured outer compression (selector.py).
        # The choice is cached per (column, task) like the string codec,
        # and when the trial's sample covered the whole column its
        # alp/alp_rd transform is reused — the trial IS the encode then
        # (the duplicate transform was ~45% of a lineitem double
        # column's encode cost).
        arts: dict = {}
        fkey = ("floatchoice", name)
        fcodec = cfg.get("float_codec")
        if fcodec not in FLOAT_CODECS:
            raise ValueError(f"unknown float_codec {fcodec!r}")
        if fcodec is None and cache is not None:
            fcodec = cache.get(fkey)
        if fcodec is None:
            fcodec, arts = selector.choose_float_codec(
                vals, cfg.get("compression", "none"),
                cfg.get("compression_level"), return_artifacts=True)
            # a stripe below the trial floor gets "raw" unmeasured:
            # caching that would pin raw for the rest of the task
            if (cache is not None
                    and vals.nbytes >= selector.FLOAT_TRIAL_MIN_BYTES):
                cache[fkey] = fcodec
        if fcodec == "alp_rd":
            enc = arts.get("alp_rd") or alp.rd_encode(vals)
            if enc is None:  # forced ALP-RD on an incompressible column
                fcodec = "raw"
            else:
                r, dl, codes, right, pos, excl = enc
                pcodec, pstream = _encode_uint_stream(pos)
                return ({"kind": "float", "codec": "alp_rd", "r": r,
                         "dict": [int(x) for x in dl], "pcodec": pcodec,
                         "n_exc": len(pos)},
                        {"DATA": bitpack.pack_width(right, r),
                         "RD_CODES": bitpack.pack_width(
                             codes, alp.RD_DICT_BITS),
                         "RD_EXC_POS": pstream,
                         "RD_EXC": excl.tobytes()})
        if fcodec == "alp":
            enc = arts.get("alp") or alp.encode(vals)
            if enc is None:  # forced ALP on an inexpressible column
                fcodec = "raw"
            else:
                e, f, ints, pos, exc = enc
                icodec, data = _encode_int_stream(ints)
                pcodec, pstream = _encode_uint_stream(pos)
                return ({"kind": "float", "codec": "alp", "e": e, "f": f,
                         "icodec": icodec, "pcodec": pcodec,
                         "n_exc": len(pos)},
                        {"DATA": data, "ALP_POS": pstream,
                         "ALP_EXC": exc.tobytes()})
        return {"kind": "float", "codec": "raw"}, {"DATA": vals.tobytes()}

    if pa.types.is_timestamp(typ):
        us = np.asarray(arr.cast(pa.int64())).astype(np.int64, copy=False)
        secs, nanos = timestamps.split_micros(us)
        codec, data = _encode_int_stream(secs)
        packed = timestamps.encode_nanos(nanos)
        ncodec, sec_stream = _encode_uint_stream(packed)
        return (
            {"kind": "timestamp", "codec": codec, "ncodec": ncodec},
            {"DATA": data, "SECONDARY": sec_stream},
        )

    if pa.types.is_string(typ) or pa.types.is_large_string(typ) \
            or pa.types.is_binary(typ) or pa.types.is_large_binary(typ):
        return _encode_string(arr, cfg, cache, name)

    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        n = len(arr)
        odt = np.int64 if pa.types.is_large_list(typ) else np.int32
        bufs = arr.buffers()
        off = np.frombuffer(bufs[1], dtype=odt, count=n + 1,
                            offset=arr.offset * np.dtype(odt).itemsize).astype(np.int64)
        lengths = np.diff(off)
        child = arr.values[off[0]: off[-1]] if n else arr.values[:0]
        lcodec, lstream = _encode_uint_stream(lengths.view(np.uint64))
        cmeta, cstreams = encode_column(f"{name}.item", child, cfg, cache)
        streams = {"LENGTH": lstream}
        for k, v in cstreams.items():
            streams[f"item.{k}"] = v
        return {"kind": "list", "lcodec": lcodec, "child": cmeta}, streams

    if pa.types.is_map(typ):
        # reference MAP layout: LENGTH = entries per map, then key and
        # value child columns (src/Orc/Serial/Binary/Striped.hs:399-426)
        n = len(arr)
        bufs = arr.buffers()
        off = np.frombuffer(bufs[1], dtype=np.int32, count=n + 1,
                            offset=arr.offset * 4).astype(np.int64)
        lengths = np.diff(off)
        keys = arr.keys[off[0]: off[-1]] if n else arr.keys[:0]
        items = arr.items[off[0]: off[-1]] if n else arr.items[:0]
        lcodec, lstream = _encode_uint_stream(lengths.view(np.uint64))
        kmeta, kstreams = encode_column(f"{name}.key", keys, cfg, cache)
        vmeta, vstreams = encode_column(f"{name}.value", items, cfg, cache)
        streams = {"LENGTH": lstream}
        for k, v in kstreams.items():
            streams[f"key.{k}"] = v
        for k, v in vstreams.items():
            streams[f"value.{k}"] = v
        return ({"kind": "map", "lcodec": lcodec, "key": kmeta,
                 "value": vmeta}, streams)

    if pa.types.is_struct(typ):
        streams: dict[str, bytes] = {}
        children = []
        for i, field in enumerate(typ):
            cmeta, cstreams = encode_column(f"{name}.{field.name}", arr.field(i), cfg, cache)
            children.append({"name": field.name, "meta": cmeta})
            for k, v in cstreams.items():
                streams[f"{field.name}.{k}"] = v
        return {"kind": "struct", "children": children}, streams

    if pa.types.is_union(typ):
        # reference analog: Union tags + per-variant children
        # (src/Orc/Table/Striped.hs:33; decode :387-397, encode
        # :780-787). TAG byte stream + each child holding, in row
        # order, the values of rows with its tag. Sparse unions are
        # densified on encode; decode rebuilds canonical dense offsets,
        # so only tags + children are stored. Spark has no union type,
        # so this is an Arrow-level surface (SURVEY §1.2).
        tags = np.asarray(arr.type_codes, dtype=np.int8)
        streams = {"TAG": byte_rle.encode(tags.view(np.uint8))}
        children = []
        dense = typ.mode == "dense"
        offsets = np.asarray(arr.offsets, dtype=np.int64) if dense else None
        for i, field in enumerate(typ):
            code = typ.type_codes[i]
            sel = tags == np.int8(code)
            if dense:
                child = arr.field(i).take(pa.array(offsets[sel]))
            else:
                child = arr.field(i).filter(pa.array(sel))
            cmeta, cstreams = encode_column(
                f"{name}.{field.name}", child, cfg, cache)
            children.append({"name": field.name, "code": int(code),
                             "meta": cmeta})
            for k, v in cstreams.items():
                streams[f"u{i}.{k}"] = v
        return ({"kind": "union", "mode": "dense" if dense else "sparse",
                 "children": children}, streams)

    if pa.types.is_decimal(typ):
        # the limb extraction below reads 2 uint64 limbs at 16-byte
        # offsets — decimal128 layout only; decimal256 must fail at
        # encode time, not decode time
        if not pa.types.is_decimal128(typ):
            raise NotImplementedError(f"decimal type {typ} not supported (decimal128 only)")
        # reference stores unbounded varint mantissas + per-value scale
        # (src/Orc/Serial/Binary/Striped.hs:359-365); Spark scales are
        # fixed per column, so we RLE the mantissa limbs instead: lo/hi
        # uint64 halves of the 16-byte little-endian decimal128 payload
        # (hi stream is all sign-extension for precision <= 18 and
        # collapses to a few RLE bytes)
        n = len(arr)
        limbs = np.frombuffer(
            arr.buffers()[1], dtype=np.uint64, count=2 * n, offset=arr.offset * 16
        ).reshape(n, 2)
        lo = np.ascontiguousarray(limbs[:, 0])
        hi = np.ascontiguousarray(limbs[:, 1]).view(np.int64)
        lcodec, lstream = _encode_uint_stream(lo)
        hcodec, hstream = _encode_int_stream(hi)
        return (
            {"kind": "decimal", "locodec": lcodec, "hicodec": hcodec},
            {"DATA": lstream, "SECONDARY": hstream},
        )

    raise NotImplementedError(
        f"column type {typ} not supported yet "
        f"(reference analog src/Orc/Serial/Binary/Striped.hs:296-426)"
    )


def _encode_string(arr: pa.Array, cfg: dict, cache: dict | None = None,
                   name: str = "") -> tuple[dict, dict[str, bytes]]:
    data, lengths = string_parts(arr)
    comp = cfg.get("compression", "none")
    lvl = cfg.get("compression_level")
    choice = cfg.get("string_codec", "auto")
    if choice not in STRING_CODECS:
        raise ValueError(f"unknown string_codec {choice!r}")
    trial_fc = None  # the selector's front-coding verdict, when it ran
    if choice == "auto":
        # decide once per column per task (sampled measurement is stable
        # across stripes of the same partition)
        ckey = ("strchoice", name)
        choice = cache.get(ckey) if cache is not None else None
        if choice is None:
            choice, trial_table, trial_fc = selector.choose_string_codec(
                arr, data, ("dict", "fsst", "direct"), comp, lvl)
            # FSST is no candidate below its floor: caching that
            # verdict would lock FSST out for the rest of the task
            if cache is not None and data.nbytes >= selector.FSST_MIN_BYTES:
                cache[ckey] = choice
                # reuse the trial's trained FSST table: training is the
                # bulk of a cold task's cost now that compression is C
                if trial_table is not None and ("fsst", name) not in cache:
                    cache[("fsst", name)] = trial_table
    if choice == "dict":
        idx, dlens, ddata = dictionary_encode_sorted(arr)
        icodec, istream = _encode_uint_stream(idx)
        lcodec, lstream = _encode_uint_stream(dlens.view(np.uint64))
        meta = {"kind": "str", "enc": "dict", "icodec": icodec,
                "lcodec": lcodec, "card": int(dlens.size)}
        streams = {"DATA": istream, "LENGTH": lstream,
                   "DICTIONARY_DATA": ddata.tobytes()}
        # front-code the sorted dictionary when it wins under the outer
        # codec (sorted URL/path dictionaries: measured 64% smaller
        # post-zstd; random-bytes dictionaries: refused here)
        plens, sdata = front_code(dlens, ddata)
        pcodec, pstream = _encode_uint_stream(plens)
        if selector.front_code_wins(ddata, sdata, pstream, comp, lvl):
            meta.update(fc=True, pcodec=pcodec)
            streams["DICTIONARY_DATA"] = sdata.tobytes()
            streams["PREFIX"] = pstream
        return meta, streams
    if choice == "fsst":
        # reuse the symbol table across stripes of the same task: training
        # is ~20% of a small stripe's encode cost and tables are stable
        cached = cache.get(("fsst", name)) if cache is not None else None
        table_obj = cached or fsst_codec.train(data)
        if cache is not None and cached is None:
            cache[("fsst", name)] = table_obj
        table, payload = fsst_codec.compress(data, table_obj)
        if len(payload) + len(table) < data.nbytes * 0.95:
            lcodec, lstream = _encode_uint_stream(lengths.view(np.uint64))
            return (
                {"kind": "str", "enc": "fsst", "lcodec": lcodec},
                {"DATA": payload, "LENGTH": lstream, "FSST_TABLE": table},
            )
        choice = "direct"  # incompressible escape
    lcodec, lstream = _encode_uint_stream(lengths.view(np.uint64))
    meta = {"kind": "str", "enc": "direct", "lcodec": lcodec}
    streams = {"DATA": data.tobytes(), "LENGTH": lstream}
    # front-code the VALUE stream when selector.direct_trial says so:
    # its verdict is cached per (column, task), and the trial runs here
    # only when the selector did not run on this stripe
    fckey = ("directfc", name)
    fc = cache.get(fckey) if cache is not None else None
    if len(lengths) < 2:
        fc = False  # a single string cannot front-code
    if fc is None and data.nbytes >= selector.FC_MIN_BYTES:
        fc = trial_fc if trial_fc is not None else \
            selector.direct_trial(data, lengths, comp, lvl)[0]
        if cache is not None:
            cache[fckey] = fc
    if fc:
        plens, sdata = front_code(lengths.astype(np.int64), data)
        pcodec, pstream = _encode_uint_stream(plens)
        vkey = ("directfc_verified", name)
        if cache is not None and not cache.get(vkey):
            # the trial measured only a ~512 KiB prefix; verify the
            # verdict ONCE per (column, task) against this full stripe
            # and drop fc when the real streams are not smaller — a
            # prefix-sorted / tail-shuffled column could otherwise lock
            # in an inflating fc=True for the whole task
            if not selector.front_code_wins(data, sdata, pstream,
                                            comp, lvl):
                cache[fckey] = fc = False
            else:
                cache[vkey] = True
    if fc:
        meta.update(fc=True, pcodec=pcodec)
        streams["DATA"] = sdata.tobytes()
        streams["PREFIX"] = pstream
    return meta, streams


# ------------------------------------------------------------------ column decode

def decode_column(meta: dict, streams: dict[str, bytes], typ: pa.DataType) -> pa.Array:
    n = meta["n"]
    if meta.get("nullable"):
        present = bitpack.unpack_bools(
            byte_rle.decode(_buf(streams["PRESENT"])), n
        )
        k = int(present.sum())
        values = _decode_values(meta, streams, k, typ)
        idx = np.zeros(n, dtype=np.int64)
        idx[present] = np.arange(k)
        take_idx = pa.array(idx, mask=~present)
        return values.take(take_idx)
    return _decode_values(meta, streams, n, typ)


def _decode_values(meta: dict, streams: dict[str, bytes], n: int,
                   typ: pa.DataType) -> pa.Array:
    kind = meta["kind"]
    if kind == "bool":
        mask = bitpack.unpack_bools(byte_rle.decode(_buf(streams["DATA"])), n)
        return pa.array(mask, type=pa.bool_())

    if kind == "int":
        vals = _decode_int_stream(_buf(streams["DATA"]), meta["codec"], n)
        return _fixed_width_array(typ, n, vals)

    if kind == "float":
        dt = np.dtype("<f4") if pa.types.is_float32(typ) else np.dtype("<f8")
        fcodec = meta.get("codec", "raw")       # pre-BSS stripes: raw
        if fcodec not in ("raw", "bss", "alp", "alp_rd"):
            raise ValueError(f"unknown float codec {fcodec!r}")
        if fcodec == "alp_rd":
            right = bitpack.unpack_width(_buf(streams["DATA"]), n,
                                         meta["r"])
            codes = bitpack.unpack_width(_buf(streams["RD_CODES"]), n,
                                         alp.RD_DICT_BITS)
            pos = _decode_uint_stream(_buf(streams["RD_EXC_POS"]),
                                      meta["pcodec"], meta["n_exc"])
            vals = alp.rd_decode(codes, right, meta["r"],
                                 np.asarray(meta["dict"], np.uint16),
                                 pos, streams["RD_EXC"], dt)
        elif fcodec == "alp":
            ints = _decode_int_stream(_buf(streams["DATA"]),
                                      meta["icodec"], n)
            pos = _decode_uint_stream(_buf(streams["ALP_POS"]),
                                      meta["pcodec"], meta["n_exc"])
            vals = alp.decode(ints, meta["e"], meta["f"], pos,
                              streams["ALP_EXC"], dt)
        elif fcodec == "bss":  # stored v3 stripes
            vals = floats.bss_decode(streams["DATA"], n, dt.itemsize)
        else:
            vals = np.frombuffer(streams["DATA"], dtype=dt, count=n)
        return pa.array(vals, type=typ)

    if kind == "timestamp":
        secs = _decode_int_stream(_buf(streams["DATA"]), meta["codec"], n)
        packed = _decode_uint_stream(_buf(streams["SECONDARY"]), meta["ncodec"], n)
        us = timestamps.join_micros(secs, timestamps.decode_nanos(packed))
        return _fixed_width_array(typ, n, us)

    if kind == "str":
        return _decode_string(meta, streams, n, typ)

    if kind == "list":
        lengths = _decode_uint_stream(_buf(streams["LENGTH"]), meta["lcodec"], n)
        child_streams = {k[len("item."):]: v for k, v in streams.items()
                         if k.startswith("item.")}
        child = decode_column(meta["child"], child_streams, typ.value_type)
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lengths.astype(np.int64), out=off[1:])
        if pa.types.is_large_list(typ):
            return pa.LargeListArray.from_arrays(pa.array(off), child, type=typ)
        return pa.ListArray.from_arrays(
            pa.array(off.astype(np.int32)), child, type=typ
        )

    if kind == "decimal":
        lo = _decode_uint_stream(_buf(streams["DATA"]), meta["locodec"], n)
        hi = _decode_int_stream(_buf(streams["SECONDARY"]), meta["hicodec"], n)
        limbs = np.empty((n, 2), dtype=np.uint64)
        limbs[:, 0] = lo
        limbs[:, 1] = hi.view(np.uint64)
        return pa.Array.from_buffers(
            typ, n, [None, pa.py_buffer(limbs.tobytes())])

    if kind == "map":
        lengths = _decode_uint_stream(_buf(streams["LENGTH"]), meta["lcodec"], n)
        kstreams = {k[len("key."):]: v for k, v in streams.items()
                    if k.startswith("key.")}
        vstreams = {k[len("value."):]: v for k, v in streams.items()
                    if k.startswith("value.")}
        keys = decode_column(meta["key"], kstreams, typ.key_type)
        items = decode_column(meta["value"], vstreams, typ.item_type)
        off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lengths.astype(np.int64), out=off[1:])
        return pa.MapArray.from_arrays(
            pa.array(off.astype(np.int32)), keys, items, type=typ)

    if kind == "struct":
        arrays = []
        names = []
        for ch in meta["children"]:
            prefix = ch["name"] + "."
            cstreams = {k[len(prefix):]: v for k, v in streams.items()
                        if k.startswith(prefix)}
            field_type = typ.field(ch["name"]).type
            arrays.append(decode_column(ch["meta"], cstreams, field_type))
            names.append(ch["name"])
        return pa.StructArray.from_arrays(arrays, names=names)

    if kind == "union":
        tags = byte_rle.decode(_buf(streams["TAG"]))[:n].view(np.int8)
        children = []
        for i, ch in enumerate(meta["children"]):
            prefix = f"u{i}."
            cstreams = {k[len(prefix):]: v for k, v in streams.items()
                        if k.startswith(prefix)}
            children.append(decode_column(ch["meta"], cstreams,
                                          typ.field(i).type))
        # canonical dense offsets: rank of each row within its tag
        offsets = np.zeros(n, dtype=np.int32)
        for i, ch in enumerate(meta["children"]):
            sel = tags == np.int8(ch["code"])
            offsets[sel] = np.arange(int(sel.sum()), dtype=np.int32)
        if meta["mode"] == "dense":
            return pa.UnionArray.from_dense(
                pa.array(tags, pa.int8()), pa.array(offsets, pa.int32()),
                children, [f.name for f in typ],
                list(typ.type_codes))
        # sparse: scatter each child back to full length (slots of
        # other tags point at index 0 — ignored by union semantics)
        full = []
        for i, ch in enumerate(meta["children"]):
            sel = tags == np.int8(ch["code"])
            child = children[i]
            if len(child) == 0:
                full.append(pa.nulls(n, typ.field(i).type))
                continue
            ix = np.zeros(n, dtype=np.int64)
            ix[sel] = offsets[sel]
            full.append(child.take(pa.array(ix)))
        return pa.UnionArray.from_sparse(
            pa.array(tags, pa.int8()), full, [f.name for f in typ],
            list(typ.type_codes))

    raise NotImplementedError(f"decode kind {kind}")


def _fixed_width_array(typ: pa.DataType, n: int, int64_vals: np.ndarray) -> pa.Array:
    """int64 values -> any fixed-width arrow type via a buffer cast."""
    i64 = pa.Array.from_buffers(
        pa.int64(), n, [None, pa.py_buffer(np.ascontiguousarray(int64_vals).tobytes())]
    )
    if typ == pa.int64():
        return i64
    if pa.types.is_date32(typ):
        return i64.cast(pa.int32()).view(typ)
    if pa.types.is_date64(typ):
        return i64.view(typ)
    return i64.cast(typ)


def _decode_string(meta, streams, n, typ):
    enc = meta["enc"]
    n_len = meta["card"] if enc == "dict" else n  # dictionary entries
    lengths = _decode_uint_stream(_buf(streams["LENGTH"]), meta["lcodec"], n_len).astype(np.int64)
    if enc == "direct":
        data = _buf(streams["DATA"])
        if meta.get("fc"):
            plens = _decode_uint_stream(_buf(streams["PREFIX"]),
                                        meta["pcodec"], n)
            data = front_decode(plens, lengths, data)
        return build_string_array(data, lengths, typ)
    if enc == "fsst":
        data = fsst_codec.decompress(_buf(streams["FSST_TABLE"]), _buf(streams["DATA"]))
        return build_string_array(data, lengths, typ)
    if enc == "dict":
        idx = _decode_uint_stream(_buf(streams["DATA"]), meta["icodec"], n)
        ddata = _buf(streams["DICTIONARY_DATA"])
        if meta.get("fc"):
            plens = _decode_uint_stream(_buf(streams["PREFIX"]),
                                        meta["pcodec"], lengths.size)
            ddata = front_decode(plens, lengths, ddata)
        return dictionary_decode(idx, lengths, ddata, typ)
    raise NotImplementedError(f"string encoding {enc}")


# ------------------------------------------------------------------ stripe

def encode_stripe(batch: pa.RecordBatch, cfg: dict | None = None,
                  cache: dict | None = None) -> tuple[dict, bytes]:
    """One RecordBatch -> (footer dict, concatenated stream payload).

    The footer is the analog of the reference's StripeFooter
    (src/Orc/Schema/Types.hs:205-211): per-column encodings plus the
    stream directory (kind, offset, length) into the payload.
    """
    cfg = {**DEFAULT_CONFIG, **(cfg or {})}
    # compression-aware layout: cluster rows inside the stripe by the
    # configured key(s) before encoding. Dictionaries / front-coding /
    # FSST / RLE are all per-stripe, so a stripe-local sort captures
    # the clustering win of a partition-level sortWithinPartitions at
    # one stripe of memory — and living here, every encode surface
    # (mapInArrow, fused scans, manifest sinks) shares it. Decode
    # returns the sorted order: a permutation of the source rows,
    # every value bit-identical.
    sort_cols = list(cfg.get("sort_within") or [])
    if sort_cols:
        missing = [c for c in sort_cols if c not in batch.schema.names]
        if missing:
            raise ValueError(
                f"sort_within columns {missing} not in stripe schema "
                f"{batch.schema.names} (projected reads must include "
                f"the sort key)")
        batch = batch.sort_by([(c, "ascending") for c in sort_cols])
    comp = cfg["compression"]
    payload = bytearray()
    columns = []
    for name, arr in zip(batch.schema.names, batch.columns):
        meta, streams = encode_column(name, arr, cfg, cache)
        entries = []
        raw_col = raw_nbytes(arr)
        for key, data in streams.items():
            scomp = "none"
            if comp != "none" and len(data) >= COMPRESSION_MIN_BYTES:
                framed = block.compress(data, comp, cfg.get("compression_level"))
                if len(framed) < len(data):
                    data, scomp = framed, comp
            entries.append({"k": key, "o": len(payload), "l": len(data), "c": scomp})
            payload += data
        columns.append({
            "name": name,
            "meta": meta,
            "streams": entries,
            "raw_bytes": raw_col,
        })
    # stripe FORMAT version: bump on any incompatible payload-layout
    # change so resumed runs over persisted stripe dirs fail loudly
    # instead of mis-decoding. v2 = FSST piece framing (u32 piece count
    # + per-piece lengths). v3 = byte-stream-split float payloads, no
    # longer written but still read. v4 is written ONLY when a column
    # needs it, so other stripes stay readable by older readers.
    def _needs_v4(m) -> bool:
        # ALP / ALP-RD float payloads and front-coded dictionaries are
        # all round-5 layouts a v2/v3 reader would mis-decode silently
        if isinstance(m, dict):
            return (m.get("codec") in ("alp", "alp_rd")
                    or bool(m.get("fc"))
                    or any(_needs_v4(v) for v in m.values()))
        if isinstance(m, (list, tuple)):
            return any(_needs_v4(v) for v in m)
        return False

    fmt_version = (ALP_FORMAT_VERSION
                   if any(_needs_v4(c["meta"]) for c in columns)
                   else STRIPE_FORMAT_VERSION)
    footer = {
        "v": fmt_version,
        "n_rows": batch.num_rows,
        "schema_b64": base64.b64encode(batch.schema.serialize().to_pybytes()).decode(),
        "columns": columns,
        "stats": _stripe_stats(batch),
    }
    blooms = _stripe_blooms(batch, cfg.get("bloom_columns") or [])
    if blooms:
        footer["blooms"] = blooms
    return footer, bytes(payload)


_MAX_STAT_STR = 64


def bloom_positions(value) -> list[int]:
    """The BLOOM_K bit positions of a value, by md5 double hashing
    (h1 + i*h2 mod BLOOM_M). Strings hash as utf-8, ints as their
    decimal text — the same canonical bytes on the write and probe
    sides, so membership has no false negatives by construction."""
    import hashlib

    if isinstance(value, bytes):
        data = value
    elif isinstance(value, str):
        data = value.encode()
    else:
        data = str(int(value)).encode()
    d = hashlib.md5(data).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % BLOOM_M for i in range(BLOOM_K)]


def _stripe_blooms(batch: pa.RecordBatch, cols: list[str]) -> dict:
    """Per-stripe bloom filters for the configured string/int columns:
    {col: {"m": BLOOM_M, "k": BLOOM_K, "w": [16 int64 words]}} in the
    footer JSON — the engine-format twin of the .orc writer's
    BLOOM_FILTER_UTF8 (orcfile/bloom.py): point-lookup stripe
    elimination on the fused path, probed by a pure Catalyst bit test
    (engine.bloom_prune_stripes)."""
    out: dict = {}
    for name in cols:
        idx = batch.schema.get_field_index(name)
        if idx < 0:
            continue
        arr = batch.column(idx)
        t = arr.type
        if not (pa.types.is_string(t) or pa.types.is_large_string(t)
                or pa.types.is_integer(t)):
            continue
        import pyarrow.compute as pc

        words = np.zeros(BLOOM_M // 64, dtype=np.uint64)
        for v in pc.unique(arr).to_pylist():
            if v is None:
                continue
            for p in bloom_positions(v):
                words[p >> 6] |= np.uint64(1) << np.uint64(p & 63)
        out[name] = {"m": BLOOM_M, "k": BLOOM_K,
                     "w": [int(w) for w in words.view(np.int64)]}
    return out


def _stripe_stats(batch: pa.RecordBatch) -> dict:
    """Zone maps: {column: [min, max]} for prunable top-level columns.

    The manifest-level analog of the reference's ColumnStatistics
    (src/Orc/Schema/Types.hs:115-128): numbers for ints/floats
    (timestamps as epoch-us, dates as epoch-days), strings kept only
    when short enough that full values are stored (a truncated max
    would under-bound and prune wrongly). Readers skip whole stripes
    whose [min, max] excludes a predicate range WITHOUT decoding —
    via Catalyst expressions over the JSON footer (engine.prune_stripes).
    """
    import pyarrow.compute as pc

    stats: dict = {}
    for name, arr in zip(batch.schema.names, batch.columns):
        t = arr.type
        if len(arr) == arr.null_count:
            continue
        try:
            # pc.min_max: ONE pass per column (separate pc.min + pc.max
            # calls measured as ~24% of int-table encode time)
            if pa.types.is_floating(t):
                # NaN is excluded by min/max but sorts ABOVE every
                # value in Spark: stats must be omitted or pruning
                # could drop stripes whose only matches are NaN
                if not pc.any(pc.is_nan(arr)).as_py():
                    mm = pc.min_max(arr).as_py()
                    stats[name] = [mm["min"], mm["max"]]
            elif pa.types.is_integer(t):
                mm = pc.min_max(arr).as_py()
                stats[name] = [mm["min"], mm["max"]]
            elif pa.types.is_timestamp(t) or pa.types.is_date(t):
                mm = pc.min_max(arr.cast(pa.int64())).as_py()
                stats[name] = [mm["min"], mm["max"]]
            elif pa.types.is_string(t) or pa.types.is_large_string(t):
                mm = pc.min_max(arr).as_py()
                mn, mx = mm["min"], mm["max"]
                if len(mn) <= _MAX_STAT_STR and len(mx) <= _MAX_STAT_STR:
                    stats[name] = [mn, mx]
        except Exception:
            continue
    return stats


def decode_stripe(footer: dict, payload: bytes | memoryview,
                  columns: list[str] | None = None) -> pa.RecordBatch:
    """Decode a stripe; ``columns`` projects at the byte level — only
    the requested columns' streams are decompressed and decoded."""
    # footers written before the field existed are v1 (pre-FSST-piece-
    # framing): defaulting to the CURRENT version would wave exactly the
    # legacy payloads this guard exists to reject loudly
    ver = footer.get("v", 1)
    if ver not in (STRIPE_FORMAT_VERSION, BSS_FORMAT_VERSION,
                   ALP_FORMAT_VERSION):
        raise ValueError(
            f"stripe format v{ver} not supported by this reader "
            f"(expects v{STRIPE_FORMAT_VERSION}-v{ALP_FORMAT_VERSION}); "
            f"re-encode the source")
    schema = pa.ipc.read_schema(
        pa.py_buffer(base64.b64decode(footer["schema_b64"]))
    )
    view = memoryview(payload)
    arrays = []
    names = []
    for col in footer["columns"]:
        if columns is not None and col["name"] not in columns:
            continue
        streams: dict[str, bytes] = {}
        for e in col["streams"]:
            if e["o"] + e["l"] > len(view):
                raise ValueError(
                    f"truncated stripe payload: stream {col['name']}/"
                    f"{e['k']} needs bytes [{e['o']}, {e['o'] + e['l']}) "
                    f"but payload has {len(view)}")
            raw = view[e["o"]: e["o"] + e["l"]]
            streams[e["k"]] = block.decompress(raw, e["c"]) if e["c"] != "none" else raw
        field = schema.field(col["name"])
        arrays.append(decode_column(col["meta"], streams, field.type))
        names.append(col["name"])
    if columns is not None:
        # emit in the caller's requested order
        order = {n: i for i, n in enumerate(names)}
        arrays = [arrays[order[c]] for c in columns]
        out_schema = pa.schema([schema.field(c) for c in columns])
        return pa.RecordBatch.from_arrays(arrays, schema=out_schema)
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def raw_nbytes(arr: pa.Array) -> int:
    """The raw (input) size of ``arr``: its Arrow bytes, with a
    validity bitmap counted only where its (sub)array holds a null.
    Spark and IPC batches carry all-valid bitmaps that in-memory and
    parquet-read arrays of the same rows lack, so ``nbytes`` alone
    would make a stripe's raw size depend on the sink that read it."""
    return arr.nbytes - _all_valid_bitmap_bytes(arr)


def _all_valid_bitmap_bytes(arr: pa.Array) -> int:
    """The bytes ``arr.nbytes`` counts for all-valid bitmaps in ``arr``
    (it counts a struct's children's bitmaps, never the struct's)."""
    t = arr.type
    if pa.types.is_struct(t):
        return sum(_all_valid_bitmap_bytes(arr.field(i))
                   for i in range(t.num_fields))
    n = 0
    if arr.buffers()[0] is not None and arr.null_count == 0:
        n = (arr.offset + len(arr) + 7) // 8 - arr.offset // 8
    if (pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_map(t)) and len(arr):
        lo, hi = arr.offsets[0].as_py(), arr.offsets[-1].as_py()
        n += _all_valid_bitmap_bytes(arr.values.slice(lo, hi - lo))
    return n
