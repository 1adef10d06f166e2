"""ALP float codec (codecs/alp.py + selector/stripe wiring): bit-exact
roundtrips including every IEEE754 special, measured three-way selection
against raw/BSS, stripe integration, and the v4 format gate."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from orc_haskell_spark import stripe
from orc_haskell_spark.codecs import alp, selector


def _roundtrip(vals: np.ndarray) -> np.ndarray:
    enc = alp.encode(vals)
    assert enc is not None
    e, f, ints, pos, exc = enc
    return alp.decode(ints, e, f, pos, exc.tobytes(), vals.dtype)


def _bits(a: np.ndarray) -> np.ndarray:
    return a.view(np.uint32 if a.dtype.itemsize == 4 else np.uint64)


# ---------------------------------------------------------------- kernel


def test_decimal_doubles_roundtrip_with_zero_exceptions():
    rng = np.random.default_rng(0)
    prices = np.round(rng.uniform(0, 100_000, 50_000), 2)
    e, f, ints, pos, exc = alp.encode(prices)
    assert len(pos) == 0
    dec = alp.decode(ints, e, f, pos, exc.tobytes(), np.float64)
    assert np.array_equal(_bits(dec), _bits(prices))


def test_specials_become_exceptions_and_roundtrip_bit_exact():
    rng = np.random.default_rng(42)
    vals = np.round(rng.uniform(-500, 500, 1000), 2)
    specials = [np.nan, -0.0, np.inf, -np.inf, np.pi, 5e-324, 1.7e308]
    vals[: len(specials)] = specials
    e, f, ints, pos, exc = alp.encode(vals)
    assert len(pos) >= len(specials)  # every special took the exception path
    dec = alp.decode(ints, e, f, pos, exc.tobytes(), vals.dtype)
    assert np.array_equal(_bits(dec), _bits(vals))
    # -0.0 must NOT decode to +0.0: the check is bit equality
    assert np.signbit(dec[1])


def test_nan_payload_preserved():
    # a non-default NaN payload survives the exception path untouched
    weird_nan = np.frombuffer(
        np.uint64(0x7FF8_0000_DEAD_BEEF).tobytes(), np.float64)[0]
    vals = np.array([1.5, weird_nan, 2.5] * 100, dtype=np.float64)
    assert np.array_equal(_bits(_roundtrip(vals)), _bits(vals))


def test_float32_roundtrip():
    rng = np.random.default_rng(1)
    vals = np.round(rng.uniform(-1000, 1000, 30_000), 1).astype(np.float32)
    vals[7] = np.float32("nan")
    vals[11] = -np.float32(0.0)
    dec = _roundtrip(vals)
    assert dec.dtype == np.float32
    assert np.array_equal(_bits(dec), _bits(vals))


def test_random_mantissa_data_is_refused():
    rng = np.random.default_rng(2)
    assert alp.encode(rng.normal(size=10_000)) is None
    assert alp.encode(np.empty(0, np.float64)) is None


@given(st.lists(st.one_of(
    st.decimals(min_value=-10**9, max_value=10**9, places=3,
                allow_nan=False, allow_infinity=False).map(float),
    st.floats(width=64, allow_nan=True, allow_infinity=True)),
    min_size=1, max_size=400))
@settings(max_examples=150, deadline=None)
def test_property_mixed_decimals_and_arbitrary_roundtrip(xs):
    vals = np.array(xs, dtype=np.float64)
    enc = alp.encode(vals)
    if enc is None:  # encodability gate may refuse; that's a valid answer
        return
    e, f, ints, pos, exc = enc
    dec = alp.decode(ints, e, f, pos, exc.tobytes(), np.float64)
    assert np.array_equal(_bits(dec), _bits(vals))


# ---------------------------------------------------------------- selector


def test_selector_picks_alp_on_decimal_data_even_uncompressed():
    rng = np.random.default_rng(3)
    prices = np.round(rng.uniform(0, 100_000, 60_000), 2)
    assert selector.choose_float_codec(prices, "none") == "alp"
    assert selector.choose_float_codec(prices, "zstd", 3) == "alp"


# ---------------------------------------------------------------- stripe


def test_stripe_alp_roundtrip_and_v4_format():
    rng = np.random.default_rng(5)
    prices = np.round(rng.uniform(0, 10_000, 60_000), 2)
    batch = pa.record_batch({"p": pa.array(prices)})
    footer, payload = stripe.encode_stripe(batch, stripe.DEFAULT_CONFIG)
    col = footer["columns"][0]["meta"]
    assert col["codec"] == "alp"
    assert footer["v"] == stripe.ALP_FORMAT_VERSION
    got = stripe.decode_stripe(footer, payload)
    assert np.array_equal(_bits(np.asarray(got.column("p"))),
                          _bits(prices))
    # ALP beats the raw layout on the wire (the whole point)
    raw_footer, raw_payload = stripe.encode_stripe(
        batch, dict(stripe.DEFAULT_CONFIG, float_codec="raw"))
    assert len(payload) < 0.75 * len(raw_payload)


def test_stripe_alp_with_nulls_and_exceptions():
    vals = [12.25, None, float("nan"), 3.5, None, float("inf"), -0.0] \
        + [round(0.01 * k, 2) for k in range(200)]
    arr = pa.array(vals, type=pa.float64())
    cfg = dict(stripe.DEFAULT_CONFIG, float_codec="alp",
               compression="none")
    meta, streams = stripe.encode_column("x", arr, cfg)
    assert meta["codec"] == "alp" and meta["nullable"]
    dec = stripe.decode_column(meta, streams, pa.float64())
    res = dec.to_pylist()
    assert res[1] is None and res[4] is None
    assert res[0] == 12.25 and res[3] == 3.5
    assert np.isnan(res[2]) and np.isinf(res[5])
    assert np.signbit(res[6]) and res[6] == 0.0


def test_forced_alp_on_inexpressible_column_falls_back_to_raw():
    rng = np.random.default_rng(6)
    vals = rng.normal(size=5_000)
    arr = pa.array(vals)
    cfg = dict(stripe.DEFAULT_CONFIG, float_codec="alp")
    meta, streams = stripe.encode_column("x", arr, cfg)
    assert meta["codec"] == "raw"
    dec = stripe.decode_column(meta, streams, pa.float64())
    assert np.array_equal(_bits(np.asarray(dec)), _bits(vals))


def test_alp_int_streams_are_rle2():
    # int_codec is no longer a config key: asking for RLEv1 is ignored
    rng = np.random.default_rng(7)
    prices = np.round(rng.uniform(0, 100, 20_000), 2)
    arr = pa.array(prices)
    cfg = dict(stripe.DEFAULT_CONFIG, float_codec="alp", int_codec="rle1")
    meta, streams = stripe.encode_column("x", arr, cfg)
    assert meta["codec"] == "alp"
    assert meta["icodec"] == "rle2" and meta["pcodec"] == "rle2"
    dec = stripe.decode_column(meta, streams, pa.float64())
    assert np.array_equal(_bits(np.asarray(dec)), _bits(prices))


def test_pre_alp_reader_version_gate():
    """An ALP stripe presented to a reader that only knows v2/v3 must
    reject by version, never frombuffer the int stream as floats —
    that is exactly what the v4 bump guarantees (see the rejection
    test in test_stripe.py, which pins max-version+1)."""
    rng = np.random.default_rng(8)
    prices = np.round(rng.uniform(0, 10_000, 30_000), 2)
    batch = pa.record_batch({"p": pa.array(prices)})
    footer, payload = stripe.encode_stripe(batch, stripe.DEFAULT_CONFIG)
    assert footer["v"] == 4
    # BSS/ALP-free stripes still write v2 so old readers keep working
    ints = pa.record_batch({"y": pa.array([1, 2, 3], pa.int64())})
    footer2, _ = stripe.encode_stripe(ints, stripe.DEFAULT_CONFIG)
    assert footer2["v"] == stripe.STRIPE_FORMAT_VERSION


def test_engine_parquet_roundtrip_hits_alp(tmp_path, spark):
    """End-to-end: a parquet table with decimal-like doubles encodes
    through the fused path with ALP columns and decodes bit-identical."""
    import pyarrow.parquet as pq
    from orc_haskell_spark import engine, manifest

    rng = np.random.default_rng(9)
    tbl = pa.table({
        "k": pa.array(np.arange(20_000, dtype=np.int64)),
        "price": pa.array(np.round(rng.uniform(0, 9_999, 20_000), 2)),
    })
    src = tmp_path / "src.parquet"
    pq.write_table(tbl, src)
    out = tmp_path / "enc"
    manifest.encode_parquet_to_dir(spark, str(src), str(out))
    enc = manifest.read_encoded(spark, str(out))
    src_df = spark.read.parquet(str(src))
    back = engine.decode_table(enc.drop("part_id"), src_df.schema) \
        .toPandas().sort_values("k").reset_index(drop=True)
    assert np.array_equal(
        back["price"].to_numpy().view(np.uint64),
        tbl.column("price").to_numpy().view(np.uint64))


# ---------------------------------------------------------------- ALP-RD


def test_rd_roundtrip_f8_with_specials():
    rng = np.random.default_rng(10)
    vals = rng.normal(size=50_000)
    vals[:4] = [np.nan, -0.0, np.inf, 5e-324]
    r, dl, codes, right, pos, excl = alp.rd_encode(vals)
    dec = alp.rd_decode(codes, right, r, dl, pos, excl.tobytes(),
                        np.float64)
    assert np.array_equal(_bits(dec), _bits(vals))


def test_rd_roundtrip_f4():
    rng = np.random.default_rng(11)
    vals = rng.normal(size=50_000).astype(np.float32)
    r, dl, codes, right, pos, excl = alp.rd_encode(vals)
    assert 16 <= r < 32
    dec = alp.rd_decode(codes, right, r, dl, pos, excl.tobytes(),
                        np.float32)
    assert np.array_equal(_bits(dec), _bits(vals))


def test_rd_refuses_hash_like_bit_patterns():
    rng = np.random.default_rng(12)
    noise = rng.integers(0, 2**63, 20_000, dtype=np.int64) \
        .view(np.float64)
    assert alp.rd_choose(noise) is None
    assert alp.rd_encode(np.empty(0, np.float64)) is None


@given(st.lists(st.floats(width=64, allow_nan=True,
                          allow_infinity=True),
                min_size=1, max_size=300))
@settings(max_examples=150, deadline=None)
def test_rd_property_arbitrary_floats_roundtrip(xs):
    vals = np.array(xs, dtype=np.float64)
    enc = alp.rd_encode(vals)
    if enc is None:
        return
    r, dl, codes, right, pos, excl = enc
    dec = alp.rd_decode(codes, right, r, dl, pos, excl.tobytes(),
                        np.float64)
    assert np.array_equal(_bits(dec), _bits(vals))


def test_selector_picks_rd_on_full_precision_f4_uncompressed():
    rng = np.random.default_rng(13)
    vals = rng.normal(size=60_000).astype(np.float32)
    assert selector.choose_float_codec(vals, "none") == "alp_rd"


def test_stripe_rd_roundtrip_v4_and_nulls():
    rng = np.random.default_rng(14)
    raw = rng.normal(size=30_000)
    vals = [None if i % 97 == 0 else float(raw[i])
            for i in range(len(raw))]
    arr = pa.array(vals, type=pa.float64())
    cfg = dict(stripe.DEFAULT_CONFIG, float_codec="alp_rd",
               compression="none")
    batch = pa.record_batch({"x": arr})
    footer, payload = stripe.encode_stripe(batch, cfg)
    meta = footer["columns"][0]["meta"]
    assert meta["codec"] == "alp_rd" and meta["nullable"]
    assert footer["v"] == stripe.ALP_FORMAT_VERSION
    got = stripe.decode_stripe(footer, payload)
    assert got.column("x").equals(batch.column("x"))
    # RD payload beats raw on the wire even without an outer codec
    raw_footer, raw_payload = stripe.encode_stripe(
        batch, dict(stripe.DEFAULT_CONFIG, float_codec="raw",
                    compression="none"))
    assert len(payload) < 0.95 * len(raw_payload)


def test_forced_rd_on_incompressible_column_falls_back_to_raw():
    rng = np.random.default_rng(15)
    noise = rng.integers(0, 2**63, 8_000, dtype=np.int64) \
        .view(np.float64)
    cfg = dict(stripe.DEFAULT_CONFIG, float_codec="alp_rd")
    meta, streams = stripe.encode_column("x", pa.array(noise), cfg)
    assert meta["codec"] == "raw"
    dec = stripe.decode_column(meta, streams, pa.float64())
    assert np.array_equal(_bits(np.asarray(dec)), _bits(noise))



def test_rd_corrupt_codes_raise_on_both_paths():
    """A code outside the left dictionary is a corrupt stripe: the C
    decoder must raise like the numpy twin, never decode dict[0]."""
    rng = np.random.default_rng(16)
    vals = 1.0 + rng.uniform(0.0, 1e-3, 8_000)  # one left part
    cfg = dict(stripe.DEFAULT_CONFIG, float_codec="alp_rd",
               compression="none")
    meta, streams = stripe.encode_column("x", pa.array(vals), cfg)
    assert meta["codec"] == "alp_rd" and len(meta["dict"]) < 8
    streams = dict(streams, RD_CODES=b"\xff" * len(streams["RD_CODES"]))
    with pytest.raises(ValueError, match="ALP-RD"):
        stripe.decode_column(meta, streams, pa.float64())
    with pytest.raises(ValueError, match="ALP-RD"):
        _numpy_twin(stripe.decode_column, meta, streams, pa.float64())


def test_tiny_first_stripe_does_not_pin_float_codec():
    """A first stripe below the selector's trial floor encodes raw
    unmeasured; that verdict must not be cached for the task."""
    rng = np.random.default_rng(17)
    cache: dict = {}
    small = pa.record_batch({"p": pa.array(
        np.round(rng.uniform(0, 100, 100), 2))})
    big = pa.record_batch({"p": pa.array(
        np.round(rng.uniform(0, 10_000, 65_536), 2))})
    f_small, _ = stripe.encode_stripe(small, stripe.DEFAULT_CONFIG, cache)
    assert f_small["columns"][0]["meta"]["codec"] == "raw"
    f_big, payload = stripe.encode_stripe(big, stripe.DEFAULT_CONFIG, cache)
    assert f_big["columns"][0]["meta"]["codec"] == "alp"
    assert stripe.decode_stripe(f_big, payload).equals(big)


# ------------------------------------------------- C kernel ↔ numpy twin


@settings(max_examples=60, deadline=None)
@given(st.lists(
    st.one_of(
        st.integers(-10**6, 10**6).map(lambda i: i / 100.0),
        st.floats(width=64, allow_nan=True, allow_infinity=True)),
    min_size=1, max_size=300),
    st.sampled_from([np.float32, np.float64]))
def test_property_c_numpy_encode_identity(xs, dtype):
    """alp_kernel.c is a bit-for-bit twin of the numpy _try_pair path:
    same ints, same exception positions, same exception bit patterns —
    including NaN payloads, -0.0, infinities and denormals."""
    from orc_haskell_spark.codecs import native

    lib = native.load()
    if lib is None:
        pytest.skip("no C compiler")
    vals = np.array(xs, dtype=dtype)
    pair = alp.choose_pair(vals) or (2, 0)  # force a pair so both paths run
    c_enc = alp.encode(vals, pair)
    saved = (native._lib, native._tried)
    try:
        native._lib, native._tried = None, True
        np_enc = alp.encode(vals, pair)
    finally:
        native._lib, native._tried = saved
    assert c_enc[:2] == np_enc[:2]
    assert np.array_equal(c_enc[2], np_enc[2])          # ints (incl. fill)
    assert np.array_equal(c_enc[3], np_enc[3])          # exception positions
    assert np.array_equal(_bits(c_enc[4]), _bits(np_enc[4]))  # exact bits


@settings(max_examples=60, deadline=None)
@given(st.lists(
    st.one_of(
        st.floats(width=32, allow_nan=True, allow_infinity=True),
        st.floats(width=64, allow_nan=True, allow_infinity=True)),
    min_size=1, max_size=300),
    st.sampled_from([np.float32, np.float64]))
def test_property_rd_c_numpy_identity(xs, dtype):
    """The ALP-RD C kernels are bit-for-bit twins of the numpy
    rd_encode / rd_decode paths: same codes, right parts, exception
    streams, and identical reassembled bit patterns."""
    from orc_haskell_spark.codecs import native

    lib = native.load()
    if lib is None:
        pytest.skip("no C compiler")
    vals = np.array(xs, dtype=dtype)
    plan = alp.rd_choose(vals)
    if plan is None:  # force a plan so both paths run
        plan = (vals.dtype.itemsize * 8 - 4,
                np.sort(np.unique((alp._native_bits(vals) >>
                                   (vals.dtype.itemsize * 8 - 4))
                                  .astype(np.uint16)))[:8])
    c_enc = alp.rd_encode(vals, plan)
    saved = (native._lib, native._tried)
    try:
        native._lib, native._tried = None, True
        np_enc = alp.rd_encode(vals, plan)
        np_dec = alp.rd_decode(np_enc[2], np_enc[3], np_enc[0], np_enc[1],
                               np_enc[4], np_enc[5].tobytes(), dtype)
    finally:
        native._lib, native._tried = saved
    for i in range(6):
        assert np.array_equal(np.asarray(c_enc[i]), np.asarray(np_enc[i])), i
    c_dec = alp.rd_decode(c_enc[2], c_enc[3], c_enc[0], c_enc[1],
                          c_enc[4], c_enc[5].tobytes(), dtype)
    assert np.array_equal(_bits(c_dec), _bits(np_dec))
    assert np.array_equal(_bits(c_dec), _bits(vals))


def _numpy_twin(fn, *args):
    """Run ``fn`` with the C kernels swapped out (the numpy twins)."""
    from orc_haskell_spark.codecs import native

    saved = (native._lib, native._tried)
    try:
        native._lib, native._tried = None, True
        return fn(*args)
    finally:
        native._lib, native._tried = saved


def _assert_pair_parity(vals: np.ndarray):
    from orc_haskell_spark.codecs import native

    if native.load() is None:
        pytest.skip("no C compiler")
    assert alp.choose_pair(vals) == _numpy_twin(alp.choose_pair, vals)


_PAIR_SPECIALS = [np.nan, np.inf, -np.inf, -0.0, 0.0, 5e-324, 1e-310,
                  1e-45, 2.0 ** 62, -(2.0 ** 62), 4.7e17, 9.3e18, 1e300]


@settings(max_examples=150, deadline=None)
@given(st.lists(
    st.one_of(
        st.integers(-10**6, 10**6).map(lambda i: i / 100.0),    # prices
        st.integers(-10**9, 10**9).map(lambda i: i / 10**5),    # other scale
        st.integers(-2**63, 2**63).map(float),                  # huge ints
        st.floats(1e15, 1e19),          # |x| * 10^e crosses 2^62
        st.floats(width=64, allow_nan=True, allow_infinity=True),
        st.sampled_from(_PAIR_SPECIALS)),
    max_size=600),
    st.sampled_from([np.float32, np.float64]))
def test_property_choose_pair_c_numpy_identity(xs, dtype):
    """alp_choose_pair (C scan, early abandon) picks the same (e, f) as
    the numpy broadcast, or None on both — NaN, infinities, -0.0,
    denormals, out-of-range products and mixed scales included."""
    with np.errstate(over="ignore"):
        _assert_pair_parity(np.array(xs, dtype=dtype))


@pytest.mark.parametrize("dtype", [np.float32, np.float64])
@pytest.mark.parametrize("case", [
    "empty", "one", "one_nan", "n2049", "all_exceptions", "mixed_scale",
    "noise", "huge"])
def test_choose_pair_c_numpy_identity_edges(case, dtype):
    rng = np.random.default_rng(21)
    vals = {
        "empty": lambda: np.array([]),
        "one": lambda: np.array([12.34]),
        "one_nan": lambda: np.array([np.nan]),
        "n2049": lambda: rng.integers(0, 10**5, 2049) / 100,
        "all_exceptions": lambda: np.full(3000, np.nan),
        "mixed_scale": lambda: np.concatenate(
            [rng.integers(0, 10**4, 1500) / 10,
             rng.integers(0, 10**8, 1500) / 10**6]),
        "noise": lambda: rng.normal(size=5000),
        "huge": lambda: rng.integers(2**55, 2**62, 4000).astype(np.float64),
    }[case]()
    _assert_pair_parity(vals.astype(dtype))


def test_choose_pair_pins_lineitem_shaped_columns():
    """Exact pairs on TPC-H-shaped doubles, on both paths."""
    rng = np.random.default_rng(22)
    n = 60_000
    quantity = rng.integers(1, 51, n).astype(np.float64)
    partkey = rng.integers(1, 20_001, n)
    retail = (90_000 + (partkey // 10) % 20_001
              + 100 * (partkey % 1000)) / 100
    cols = {
        "quantity": quantity,
        "extendedprice": np.round(quantity * retail, 2),
        "discount": rng.integers(0, 11, n) / 100,
        "tax": rng.integers(0, 9, n) / 100,
    }
    want = {"quantity": (0, 0), "extendedprice": (14, 12),
            "discount": (2, 0), "tax": (2, 0)}
    assert {k: alp.choose_pair(v) for k, v in cols.items()} == want
    assert {k: _numpy_twin(alp.choose_pair, v)
            for k, v in cols.items()} == want
