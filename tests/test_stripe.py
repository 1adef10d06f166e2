"""Stripe layer: RecordBatch -> streams -> RecordBatch, bit-identical.

Mirrors the reference's logical roundtrip suite
(test/Test/Orc/Logical.hs:103-138: random tables incl. ~10% nulls,
roundtripped in memory and across compression kinds and stripe sizes).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from orc_haskell_spark import stripe

RNG = np.random.default_rng(42)


def roundtrip(batch: pa.RecordBatch, cfg=None) -> pa.RecordBatch:
    footer, payload = stripe.encode_stripe(batch, cfg)
    back = stripe.decode_stripe(footer, payload)
    assert back.schema.equals(batch.schema), f"{back.schema} != {batch.schema}"
    assert back.equals(batch)
    return back


def _with_nulls(values, frac=0.1):
    out = list(values)
    for i in RNG.choice(len(out), size=int(len(out) * frac), replace=False):
        out[i] = None
    return out


def _mixed_batch(n=1000, nulls=False):
    f = _with_nulls if nulls else (lambda x: list(x))
    cols = {
        "i8": pa.array(f(RNG.integers(-128, 128, n).tolist()), pa.int8()),
        "i32": pa.array(f(RNG.integers(-2**31, 2**31, n).tolist()), pa.int32()),
        "i64": pa.array(f(RNG.integers(-2**62, 2**62, n).tolist()), pa.int64()),
        "f32": pa.array(f(RNG.normal(size=n).astype(np.float32).tolist()), pa.float32()),
        "f64": pa.array(f(RNG.normal(size=n).tolist()), pa.float64()),
        "b": pa.array(f(RNG.integers(0, 2, n).astype(bool).tolist()), pa.bool_()),
        "s": pa.array(f([f"value-{i % 37}" for i in range(n)]), pa.string()),
        "bin": pa.array(
            f([bytes(RNG.integers(0, 256, i % 20, dtype=np.uint8)) for i in range(n)]),
            pa.binary()),
        "ts": pa.array(
            f((RNG.integers(0, 2**44, n)).tolist()), pa.timestamp("us", tz="UTC")),
        "d": pa.array(f(RNG.integers(-10000, 30000, n).tolist()), pa.date32()),
        "arr": pa.array(
            f([RNG.normal(size=i % 5).astype(np.float32).tolist() for i in range(n)]),
            pa.list_(pa.float32())),
    }
    return pa.RecordBatch.from_pydict(cols)


def test_mixed_types_roundtrip():
    roundtrip(_mixed_batch(1000, nulls=False))


def test_mixed_types_roundtrip_with_nulls():
    roundtrip(_mixed_batch(1000, nulls=True))


@pytest.mark.parametrize("n", [0, 1, 2, 512, 513])
def test_stripe_sizes(n):
    roundtrip(_mixed_batch(max(n, 0), nulls=n > 2))


@pytest.mark.parametrize("comp", ["none", "zlib", "zstd"])
def test_compression_kinds(comp):
    # reference roundtrips across all compression kinds (Logical.hs:118-138)
    roundtrip(_mixed_batch(500, nulls=True), {"compression": comp})


def _meta_values(m, key):
    """Every value of ``key`` in a (nested) column meta."""
    if isinstance(m, dict):
        return ([m[key]] if key in m else []) + [
            v for x in m.values() for v in _meta_values(x, key)]
    if isinstance(m, list):
        return [v for x in m for v in _meta_values(x, key)]
    return []


@pytest.mark.parametrize("int_codec", ["rle1", "rle2"])
def test_int_codecs(int_codec):
    """``int_codec`` is no longer a config key: whatever it asks for,
    every integer stream is written RLEv2 (RLEv1 is read only)."""
    batch = _mixed_batch(500)
    footer, _ = stripe.encode_stripe(batch, {"int_codec": int_codec})
    codecs = {v for c in footer["columns"]
              for key in ("codec", "ncodec", "lcodec", "icodec", "pcodec")
              for v in _meta_values(c["meta"], key)}
    assert "rle1" not in codecs and "rle2" in codecs
    roundtrip(batch, {"int_codec": int_codec})


def test_decoder_rejects_unknown_codecs():
    for col in (np.arange(100), np.linspace(0, 1, 100)):
        footer, payload = stripe.encode_stripe(
            pa.record_batch({"c": pa.array(col)}), {"float_codec": "raw"})
        footer["columns"][0]["meta"]["codec"] = "rle3"
        with pytest.raises(ValueError, match="rle3"):
            stripe.decode_stripe(footer, payload)
    meta, streams = stripe.encode_column("s", pa.array(["a", "b"] * 50),
                                         stripe.DEFAULT_CONFIG)
    meta[next(k for k in meta if k.endswith("codec"))] = "zz"
    with pytest.raises(ValueError, match="zz"):
        stripe.decode_column(meta, streams, pa.string())


@pytest.mark.parametrize("cfg", [{"float_codec": "bss"},
                                 {"float_codec": "alp2"},
                                 {"string_codec": "front"}])
def test_encoder_rejects_unknown_forced_codecs(cfg):
    batch = pa.record_batch({"f": pa.array([1.5, 2.5]),
                             "s": pa.array(["a", "b"])})
    with pytest.raises(ValueError, match=next(iter(cfg))):
        stripe.encode_stripe(batch, cfg)


@pytest.mark.parametrize("string_codec", ["direct", "dict", "fsst", "auto"])
def test_string_codecs(string_codec):
    n = 2000
    batch = pa.RecordBatch.from_pydict({
        "low_card": pa.array([f"lang-{i % 10}" for i in range(n)]),
        "high_card": pa.array([f"https://example-{i}.com/path/{i*7}" for i in range(n)]),
        "texty": pa.array(["the quick brown fox " * (i % 9) for i in range(n)]),
    })
    roundtrip(batch, {"string_codec": string_codec})


def test_null_patterns():
    # FIXTURES.md F6: all-present, all-null, alternating, leading/trailing runs
    n = 257
    pats = {
        "all_present": [1] * n,
        "all_null": [None] * n,
        "alternating": [1 if i % 2 else None for i in range(n)],
        "leading": [None] * 50 + [1] * (n - 50),
        "trailing": [1] * (n - 50) + [None] * 50,
    }
    batch = pa.RecordBatch.from_pydict(
        {k: pa.array(v, pa.int64()) for k, v in pats.items()})
    roundtrip(batch)


def test_all_null_string():
    batch = pa.RecordBatch.from_pydict(
        {"s": pa.array([None] * 100, pa.string())})
    roundtrip(batch)


def test_empty_batch():
    batch = pa.RecordBatch.from_pydict({"x": pa.array([], pa.int64()),
                                        "s": pa.array([], pa.string())})
    roundtrip(batch)


def test_timestamp_extremes():
    vals = [0, -1, 1, -62135596800000000, 253402300799999999, 1420070400000000]
    batch = pa.RecordBatch.from_pydict(
        {"ts": pa.array(vals, pa.timestamp("us", tz="UTC"))})
    roundtrip(batch)


def test_map_column():
    batch = pa.RecordBatch.from_pydict({
        "m": pa.array([{"a": 1, "b": 2}, {}, None, {"c": 3}] * 50,
                      pa.map_(pa.string(), pa.int64())),
        "deep": pa.array([{"k": [1.5, 2.5]}, None] * 100,
                         pa.map_(pa.string(), pa.list_(pa.float64()))),
    })
    roundtrip(batch)


def test_struct_column():
    n = 300
    batch = pa.RecordBatch.from_pydict({
        "st": pa.array(
            [{"a": int(i), "b": f"s{i % 7}"} if i % 11 else None for i in range(n)],
            pa.struct([("a", pa.int64()), ("b", pa.string())])),
    })
    roundtrip(batch)


def test_real_tables_roundtrip():
    # every driver-provided table must roundtrip bit-identically
    for name in ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]:
        t = pq.read_table(f"/root/testdata/sf0.001/{name}.parquet")
        batch = t.combine_chunks().to_batches()[0] if t.num_rows else \
            pa.RecordBatch.from_pydict({c: t[c].combine_chunks() for c in t.column_names})
        footer, payload = stripe.encode_stripe(batch)
        back = stripe.decode_stripe(footer, payload)
        assert back.equals(batch), name


def test_compression_actually_compresses():
    t = pq.read_table("/root/testdata/sf0.01/documents.parquet")
    batch = t.combine_chunks().to_batches()[0]
    footer, payload = stripe.encode_stripe(batch)
    raw = sum(c["raw_bytes"] for c in footer["columns"])
    assert len(payload) < raw * 0.7, (len(payload), raw)


def test_union_dense_roundtrip():
    """UNION analog (reference src/Orc/Table/Striped.hs:33): tag byte
    stream + per-variant children."""
    import pyarrow as pa

    du = pa.UnionArray.from_dense(
        pa.array([0, 1, 0, 2, 1, 0], pa.int8()),
        pa.array([0, 0, 1, 0, 1, 2], pa.int32()),
        [pa.array([10, None, 30], pa.int64()), pa.array(["a", "b"]),
         pa.array([1.5])],
        ["i", "s", "f"], [0, 1, 2])
    meta, streams = stripe.encode_column("u", du, {}, {})
    back = stripe.decode_column(meta, streams, du.type)
    assert back.equals(du)


def test_union_sparse_roundtrip_values():
    import pyarrow as pa

    su = pa.UnionArray.from_sparse(
        pa.array([0, 1, 1, 0], pa.int8()),
        [pa.array([1, 0, 0, 4], pa.int64()),
         pa.array(["x", "y", "z", "w"])], ["i", "s"], [0, 1])
    meta, streams = stripe.encode_column("u", su, {}, {})
    back = stripe.decode_column(meta, streams, su.type)
    # sparse unions compare by logical value (unselected slots differ)
    assert back.to_pylist() == su.to_pylist()


def test_stripe_format_version_rejected():
    """A footer from a different format version must fail loudly, not
    mis-decode (resumable stripe dirs persist across engine versions)."""
    batch = pa.RecordBatch.from_pydict({"x": [1, 2, 3]})
    footer, payload = stripe.encode_stripe(batch)
    assert footer["v"] == stripe.STRIPE_FORMAT_VERSION
    # v3 (BSS) and v4 (ALP) are accepted; anything past them, and
    # legacy v1, reject
    footer["v"] = stripe.ALP_FORMAT_VERSION + 1
    with pytest.raises(ValueError, match="stripe format"):
        stripe.decode_stripe(footer, payload)
    footer["v"] = 1
    with pytest.raises(ValueError, match="stripe format"):
        stripe.decode_stripe(footer, payload)


def test_truncated_payload_raises():
    """Garbage/short payload bytes must raise, never silently decode
    (resume paths can hand a partially-written blob to the decoder)."""
    batch = pa.RecordBatch.from_pydict({"x": [1, 2, 3], "s": ["a", "b", "c"]})
    footer, payload = stripe.encode_stripe(batch)
    with pytest.raises(ValueError, match="truncated"):
        stripe.decode_stripe(footer, payload[:4])


def test_tiny_first_stripe_does_not_pin_string_codec():
    """A first stripe below FSST's floor is chosen without FSST as a
    candidate; that verdict must not be cached for the task, or FSST
    stays locked out of every later stripe."""
    from orc_haskell_spark.codecs import selector

    rng = np.random.default_rng(5)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "theta", "kappa", "lambda", "sigma", "omega"]

    def text(n):
        return pa.record_batch({"s": pa.array(
            [" ".join(rng.choice(words, 6)) + f" {rng.integers(10**9)}"
             for _ in range(n)])})

    cache: dict = {}
    small, big = text(100), text(4000)
    assert small.nbytes < selector.FSST_MIN_BYTES <= big.column(0).nbytes
    stripe.encode_stripe(small, stripe.DEFAULT_CONFIG, cache)
    f_big, payload = stripe.encode_stripe(big, stripe.DEFAULT_CONFIG, cache)
    assert f_big["columns"][0]["meta"]["enc"] == "fsst"
    assert stripe.decode_stripe(f_big, payload).equals(big)


def test_flag_column_picks_dict_under_outer_codec():
    """A 1-byte flag column (TPC-H l_returnflag's A/R/N shape): the
    dict estimate counts its indices after the outer codec, like the
    direct and FSST estimates, so dict wins, and its stripe is smaller
    than the FSST one."""
    rng = np.random.default_rng(0)
    n = 65536
    flag = np.where(rng.random(n) < 0.5,
                    np.where(rng.random(n) < 0.5, "R", "A"), "N")
    batch = pa.record_batch({"f": pa.array(flag.tolist())})
    footer, payload = stripe.encode_stripe(batch)
    assert footer["columns"][0]["meta"]["enc"] == "dict"
    _, fsst_payload = stripe.encode_stripe(batch, {"string_codec": "fsst"})
    assert len(payload) < len(fsst_payload)
    assert stripe.decode_stripe(footer, payload).equals(batch)


def _numpy_path(fn):
    """``fn()`` with the C kernels switched off (numpy twins only)."""
    from orc_haskell_spark.codecs import native

    saved = (native._lib, native._tried)
    try:
        native._lib, native._tried = None, True
        return fn()
    finally:
        native._lib, native._tried = saved


def test_int_stream_decodes_in_one_bounded_kernel_call(monkeypatch):
    """The stripe layer passes the footer's value count to the RLE
    decoder: a 65,536-value constant stream (far more values than its
    byte size suggests) decodes in ONE kernel call instead of growing a
    guessed buffer, and the numpy twin returns the same array."""
    from orc_haskell_spark.codecs import native

    lib = native.load()
    if lib is None:
        pytest.skip("no C compiler")
    calls = []
    real = lib.rle2_decode

    def counting(*args):
        calls.append(args[-1])
        return real(*args)

    batch = pa.record_batch({"k": pa.array(np.full(65536, 7, np.int64))})
    footer, payload = stripe.encode_stripe(batch)
    monkeypatch.setattr(lib, "rle2_decode", counting)
    assert stripe.decode_stripe(footer, payload).equals(batch)
    assert calls == [65536]
    monkeypatch.undo()

    for signed, vals in [(True, np.full(65536, -3, np.int64)),
                         (True, RNG.integers(-10**12, 10**12, 5000)),
                         (False, RNG.integers(0, 50, 70000).astype(np.uint64))]:
        for codec, mod in [("rle2", stripe.rle2), ("rle1", stripe.rle1)]:
            buf = stripe._buf(mod.encode(vals, signed))
            dec = (stripe._decode_int_stream if signed
                   else stripe._decode_uint_stream)
            for n in (vals.size, vals.size - 7, vals.size + 9):
                c = dec(buf, codec, n)
                py = _numpy_path(lambda: dec(buf, codec, n))
                assert c.dtype == py.dtype and np.array_equal(c, py)
                assert np.array_equal(c, vals[:n])


def _with_all_valid_bitmaps(arr: pa.Array) -> pa.Array:
    """``arr`` rebuilt with an explicit validity bitmap on every
    (sub)array that has none, as Spark's Arrow batches carry them."""
    def bitmap(a):
        return a.buffers()[0] or pa.py_buffer(
            np.full((len(a) + 7) // 8, 255, np.uint8).tobytes())

    t = arr.type
    if pa.types.is_struct(t):
        kids = [_with_all_valid_bitmaps(arr.field(i))
                for i in range(t.num_fields)]
        return pa.Array.from_buffers(t, len(arr), [bitmap(arr)],
                                     children=kids)
    if pa.types.is_list(t):
        return pa.Array.from_buffers(
            t, len(arr), [bitmap(arr), arr.buffers()[1]],
            children=[_with_all_valid_bitmaps(arr.values)])
    return pa.Array.from_buffers(t, len(arr),
                                 [bitmap(arr)] + arr.buffers()[1:],
                                 null_count=-1)


@pytest.mark.parametrize("arr", [
    pa.array(["abcdef"] * 3000),
    pa.array([1, None, 3] * 1000, pa.int64()),
    pa.array([True, False] * 77),
    pa.array([[1, 2], [3], []] * 500, pa.list_(pa.int32())),
    pa.array([{"a": 1, "b": "x"}] * 700),
    pa.array([[{"a": 1}], None, [{"a": None}]] * 300),
], ids=lambda a: str(a.type))
def test_raw_nbytes_ignores_all_valid_bitmaps(arr):
    """A stripe's raw size does not depend on whether its batches carry
    all-valid validity bitmaps (Spark's do, parquet-read ones do not),
    at any nesting depth and slice offset; real nulls still count."""
    with_bm = _with_all_valid_bitmaps(arr)
    assert with_bm.equals(arr)
    assert stripe.raw_nbytes(arr) == stripe.raw_nbytes(with_bm)
    assert stripe.raw_nbytes(arr.slice(13, 400)) == \
        stripe.raw_nbytes(with_bm.slice(13, 400))
    if arr.null_count == 0 and pa.types.is_string(arr.type):
        assert with_bm.nbytes == arr.nbytes + 3000 // 8
        assert stripe.raw_nbytes(with_bm) == arr.nbytes
    if arr.null_count:
        assert stripe.raw_nbytes(arr) == arr.nbytes
