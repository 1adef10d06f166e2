"""Layouts the stripe encoder no longer writes but still reads:
byte-stream-split float planes (codecs/floats.py, format v3) and RLEv1
integer streams. Stored stripes of both kinds are built here by hand
and must decode bit-exactly; the encoder must never produce them."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from orc_haskell_spark import stripe
from orc_haskell_spark.codecs import floats, rle1, selector


def _bits(a) -> np.ndarray:
    return np.asarray(a).view(np.uint8)


def _rebuild(footer: dict, payload: bytes, col: str, meta: dict,
             streams: dict[str, bytes], version: int):
    """The stripe with column ``col``'s meta and the given streams
    replaced, laid out again. ``footer`` must come from an uncompressed
    encode."""
    out = bytearray()
    for c in footer["columns"]:
        old = {e["k"]: payload[e["o"]: e["o"] + e["l"]]
               for e in c["streams"]}
        if c["name"] == col:
            c["meta"], old = meta, {**old, **streams}
        c["streams"] = []
        for k, data in old.items():
            c["streams"].append({"k": k, "o": len(out), "l": len(data),
                                 "c": "none"})
            out += data
    footer["v"] = version
    return footer, bytes(out)


@given(st.lists(st.floats(allow_nan=True, allow_infinity=True,
                          width=32), max_size=300),
       st.sampled_from(["<f4", "<f8"]))
@settings(max_examples=200, deadline=None)
def test_bss_roundtrip_bit_exact(xs, dt):
    vals = np.array(xs, dtype=dt)
    dec = floats.bss_decode(floats.bss_encode(vals), len(vals),
                            vals.dtype.itemsize)
    # compare bit patterns (NaN payloads included)
    assert np.array_equal(dec.view(np.uint8), vals.view(np.uint8))


def test_choose_raw_without_outer_compression():
    vals = np.random.default_rng(0).normal(size=50000).astype("<f4")
    # ALP-RD (left-dictionary bit split) shrinks full-precision floats
    # even without an outer codec, so it displaced raw here
    assert selector.choose_float_codec(vals, "none") == "alp_rd"
    assert selector.choose_float_codec(vals[:10], "zlib") == "raw"  # tiny


def test_selector_never_picks_bss():
    # normal-distributed f4 under zlib: the data on which BSS used to
    # win (~7%); it is no candidate now, and cannot be forced either
    vals = np.random.default_rng(1).normal(size=100000).astype("<f4")
    for comp, lvl in (("zlib", 6), ("zstd", 3), ("none", None)):
        assert selector.choose_float_codec(vals, comp, lvl) != "bss"
    with pytest.raises(ValueError, match="float_codec"):
        stripe.encode_column("x", pa.array(vals), dict(
            stripe.DEFAULT_CONFIG, float_codec="bss"))


def test_stripe_roundtrip_records_codec_and_is_bit_exact():
    rng = np.random.default_rng(2)
    vals = rng.normal(size=60000).astype("<f4")
    arr = pa.array(vals, type=pa.float32())
    cfg = dict(stripe.DEFAULT_CONFIG, compression="zlib")
    meta, streams = stripe.encode_column("x", arr, cfg)
    assert meta["codec"] == selector.choose_float_codec(
        vals, "zlib", cfg["compression_level"])
    dec = stripe.decode_column(meta, streams, pa.float32())
    assert np.array_equal(_bits(dec), _bits(vals))


def test_pre_bss_stripes_still_decode():
    """Old stripes carry no 'codec' key in float meta — raw assumed."""
    vals = np.array([1.5, -2.25, float("inf")], dtype="<f8")
    arr = pa.array(vals, type=pa.float64())
    meta, streams = stripe.encode_column(
        "x", arr, dict(stripe.DEFAULT_CONFIG, compression="none"))
    meta.pop("codec")
    dec = stripe.decode_column(meta, streams, pa.float64())
    assert np.array_equal(np.asarray(dec), vals)


def test_bss_stripes_carry_format_v3():
    """A stored v3 stripe of BSS planes (nulls and NaN payloads
    included) decodes bit-exactly; encoding the same rows writes no
    BSS and no v3."""
    rng = np.random.default_rng(3)
    for dt in ("<f4", "<f8"):
        vals = rng.normal(size=5000).astype(dt)
        vals.view(f"<u{vals.itemsize}")[7] = (  # a NaN with a payload
            0x7FC00123 if vals.itemsize == 4 else 0x7FF8DEADBEEF0001)
        mask = rng.random(5000) < 0.1
        batch = pa.record_batch({"x": pa.array(vals, mask=mask),
                                 "y": pa.array(np.arange(5000))})
        footer, payload = stripe.encode_stripe(
            batch, dict(stripe.DEFAULT_CONFIG, compression="none",
                        float_codec="raw"))
        meta = dict(footer["columns"][0]["meta"], codec="bss")
        footer, payload = _rebuild(
            footer, payload, "x", meta,
            {"DATA": floats.bss_encode(vals[~mask])},
            stripe.BSS_FORMAT_VERSION)
        got = stripe.decode_stripe(footer, payload)
        assert got.column("x").is_null().to_pylist() == mask.tolist()
        assert np.array_equal(_bits(got.column("x").drop_null()),
                              _bits(vals[~mask]))
        assert got.column("y").equals(batch.column("y"))

        enc, _ = stripe.encode_stripe(batch, dict(stripe.DEFAULT_CONFIG,
                                                  compression="zlib"))
        assert enc["columns"][0]["meta"]["codec"] != "bss"
        assert enc["v"] != stripe.BSS_FORMAT_VERSION


def test_legacy_rle1_stripe_decodes():
    """Stored stripes whose integer and length streams are RLEv1 (the
    reference writer's layout) decode bit-exactly; new stripes write
    RLEv2 only."""
    rng = np.random.default_rng(4)
    ints = rng.integers(-10**12, 10**12, 3000)
    ints[:500] = 42  # a run
    strs = [f"s{int(v) % 97}" * (int(v) % 5) for v in ints]
    batch = pa.record_batch({"i": pa.array(ints), "s": pa.array(strs)})
    cfg = dict(stripe.DEFAULT_CONFIG, compression="none",
               string_codec="direct")
    footer, payload = stripe.encode_stripe(batch, cfg)
    metas = [c["meta"] for c in footer["columns"]]
    assert metas[0]["codec"] == "rle2" and metas[1]["lcodec"] == "rle2"
    lengths = np.array([len(s.encode()) for s in strs], np.uint64)
    footer, payload = _rebuild(
        footer, payload, "i", dict(metas[0], codec="rle1"),
        {"DATA": rle1.encode(ints, True)}, stripe.STRIPE_FORMAT_VERSION)
    footer, payload = _rebuild(
        footer, payload, "s",
        {"n": len(strs), "kind": "str", "enc": "direct", "lcodec": "rle1"},
        {"DATA": "".join(strs).encode(),
         "LENGTH": rle1.encode(lengths, False)},
        stripe.STRIPE_FORMAT_VERSION)
    got = stripe.decode_stripe(footer, payload)
    assert got.equals(batch)
