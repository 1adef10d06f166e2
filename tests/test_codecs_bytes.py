"""String codecs (direct/dict), FSST, and block compression.

Mirrors reference suites test/Test/Orc/Streams/Bytes.hs (byte streams)
and the dictionary decision in src/Orc/Serial/Binary/Striped.hs:795-858;
FSST fixtures per FIXTURES.md F5 (empty strings, multibyte UTF-8,
non-UTF8 binary blobs).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from orc_haskell_spark.codecs import block, byte_rle, fsst
from orc_haskell_spark.codecs.strings import (
    build_string_array,
    dictionary_decode,
    dictionary_encode_sorted,
    string_parts,
)

RNG = np.random.default_rng(42)


def _rand_words(n, vocab_size=50):
    vocab = [f"word{i}" * (i % 3 + 1) for i in range(vocab_size)]
    return [vocab[i] for i in RNG.integers(0, vocab_size, size=n)]


# ------------------------------------------------------------- direct strings


@pytest.mark.parametrize("values", [
    [],
    [""],
    ["", "", ""],
    ["a"],
    ["hello", "world", "", "héllo wörld 中文", "x" * 10000],
])
def test_string_direct_roundtrip(values):
    arr = pa.array(values, type=pa.string())
    data, lengths = string_parts(arr)
    assert int(lengths.sum()) == data.size
    back = build_string_array(data, lengths, pa.string())
    assert back.equals(arr)


def test_binary_direct_roundtrip_nonutf8():
    vals = [bytes(RNG.integers(0, 256, size=int(k), dtype=np.uint8))
            for k in RNG.integers(0, 300, size=100)]
    arr = pa.array(vals, type=pa.binary())
    data, lengths = string_parts(arr)
    back = build_string_array(data, lengths, pa.binary())
    assert back.equals(arr)


def test_string_parts_on_sliced_array():
    arr = pa.array(["aa", "bb", "cc", "dd", "ee"]).slice(1, 3)
    data, lengths = string_parts(arr)
    assert build_string_array(data, lengths, pa.string()).to_pylist() == ["bb", "cc", "dd"]


# ------------------------------------------------------------- dictionary


def test_dictionary_sorted_roundtrip():
    vals = _rand_words(5000)
    arr = pa.array(vals)
    idx, dlens, ddata = dictionary_encode_sorted(arr)
    # dictionary must be lexicographically sorted (DICTIONARY_V2 convention)
    dic = build_string_array(ddata, dlens, pa.string()).to_pylist()
    assert dic == sorted(dic)
    assert len(dic) == len(set(vals))
    back = dictionary_decode(idx, dlens, ddata, pa.string())
    assert back.to_pylist() == vals


def test_dictionary_single_value():
    arr = pa.array(["same"] * 100)
    idx, dlens, ddata = dictionary_encode_sorted(arr)
    assert dlens.size == 1 and (idx == 0).all()
    assert dictionary_decode(idx, dlens, ddata, pa.string()).to_pylist() == ["same"] * 100


# ------------------------------------------------------------- FSST


def _fsst_roundtrip(raw: bytes):
    data = np.frombuffer(raw, dtype=np.uint8)
    table, payload = fsst.compress(data)
    back = fsst.decompress(np.frombuffer(table, np.uint8),
                           np.frombuffer(payload, np.uint8))
    assert back.tobytes() == raw
    return len(table) + len(payload)


def test_fsst_roundtrip_english():
    text = (b"the quick brown fox jumps over the lazy dog. " * 2000)
    enc = _fsst_roundtrip(text)
    assert enc < len(text) * 0.5  # repetitive text must compress well


def test_fsst_roundtrip_html():
    html = (b'<div class="content"><p>hello world</p></div>' * 3000)
    enc = _fsst_roundtrip(html)
    assert enc < len(html) * 0.5


def test_fsst_roundtrip_random_binary():
    raw = RNG.integers(0, 256, size=100000, dtype=np.uint8).tobytes()
    enc = _fsst_roundtrip(raw)  # roundtrip must hold even if it expands
    assert enc < len(raw) * 2.1


def test_fsst_escape_torture():
    # long runs of 0xff exercise the escape marker/literal parsing
    raw = (b"\xff" * 1000) + b"abc" + (b"\xff\x00" * 500) + b"\xff"
    _fsst_roundtrip(raw)


def test_fsst_empty_and_tiny():
    _fsst_roundtrip(b"")
    _fsst_roundtrip(b"a")
    _fsst_roundtrip(b"\xff")
    _fsst_roundtrip(b"ab" * 3)


def test_fsst_deterministic():
    data = np.frombuffer(b"deterministic training input " * 500, dtype=np.uint8)
    t1, p1 = fsst.compress(data)
    t2, p2 = fsst.compress(data)
    assert t1 == t2 and p1 == p2


def test_fsst_block_boundary():
    # symbols must not cross the 4 KiB lockstep block edges
    raw = b"abcdefgh" * (fsst.BLOCK // 4)  # spans many blocks
    _fsst_roundtrip(raw)


# ------------------------------------------------------------- block compression


@pytest.mark.parametrize("codec", [c for c in block.AVAILABLE if c != "none"])
def test_block_roundtrip(codec):
    payloads = [
        b"",
        b"tiny",
        b"compress me " * 100000,  # spans multiple 256 KiB chunks
        RNG.integers(0, 256, size=300000, dtype=np.uint8).tobytes(),  # incompressible
    ]
    for raw in payloads:
        out = block.compress(raw, codec)
        assert block.decompress(out, codec) == raw


def test_block_decompress_memoryview_slice_and_truncation():
    """A stream decompresses from a memoryview slice of a larger payload
    (the stripe decoder passes slices, not copies), single- and
    multi-chunk alike; a chunk or header cut short raises ValueError
    instead of returning short output."""
    raw = b"compress me " * 200000  # several 1 MiB chunks
    for data in (raw, raw[:1000]):
        out = block.compress(data, "zstd")
        padded = memoryview(b"pad" + out + b"tail")
        assert block.decompress(padded[3: 3 + len(out)], "zstd") == data
    out = block.compress(raw, "zstd")
    for cut in (len(out) - 1, 8 + 1, 5):
        with pytest.raises(ValueError, match="block stream truncated"):
            block.decompress(out[:cut], "zstd")


def test_block_incompressible_escape():
    raw = RNG.integers(0, 256, size=block.CHUNK + 100, dtype=np.uint8).tobytes()
    out = block.compress(raw, "zlib")
    # store-if-incompressible keeps overhead to the 8-byte header per chunk
    assert len(out) <= len(raw) + 16


def test_block_unsupported_codec():
    with pytest.raises(ValueError, match="unsupported"):
        block.compress(b"x", "lzo")  # reference also errors on LZO


def test_block_compression_level_roundtrip_and_ordering():
    """The outer-zstd level knob (BENCH/BASELINE.md §4f.1): every level
    decodes back bit-identically with the SAME decoder (the frame is
    level-agnostic), and the size-optimal default (3) is never beaten
    by the throughput level (1) on compressible text."""
    raw = (b"the quick brown fox jumps over the lazy dog " * 20000)
    sizes = {}
    for lvl in (1, 2, 3, None):
        out = block.compress(raw, "zstd", lvl)
        assert block.decompress(out, "zstd") == raw
        sizes[lvl] = len(out)
    assert sizes[3] <= sizes[1]


def test_stripe_compression_level_plumbs_through():
    """config={'compression_level': 1} reaches the block layer through
    encode_stripe, and level-1 stripes decode identically to default."""
    from orc_haskell_spark import stripe as stripe_mod

    rb = pa.record_batch({
        "url": pa.array([f"https://x.example/{i}" for i in range(4000)]),
        "text": pa.array([f"document body {i} " * 12 for i in range(4000)]),
    })
    foot1, data1 = stripe_mod.encode_stripe(rb, {"compression_level": 1})
    foot3, data3 = stripe_mod.encode_stripe(rb, {})
    d1 = stripe_mod.decode_stripe(foot1, data1)
    d3 = stripe_mod.decode_stripe(foot3, data3)
    assert d1.equals(d3)
    assert d1.column("text").to_pylist() == rb.column("text").to_pylist()
    # levels produce different frames (proves the knob reached zstd);
    # size ordering is only guaranteed on large payloads (block test)
    assert data1 != data3


def test_fsst_native_and_numpy_interchangeable():
    """The C kernel and the numpy lockstep parse are alternative encoders
    over the same symbol-table format: each decoder must decode the other
    encoder's payload bit-identically (payload BYTES may differ — any
    greedy segmentation expands to the same input)."""
    from orc_haskell_spark.codecs import native

    if native.load() is None:
        import pytest
        pytest.skip("no C compiler in this environment")
    rng = np.random.default_rng(7)
    doc = (b"<div class=hero><a href=http://example.com/a>home</a></div>"
           * 300 + bytes(rng.integers(0, 256, 4096, dtype=np.uint8)))
    data = np.frombuffer(doc, np.uint8)
    table = fsst.train(data)
    pay_c = fsst._compress_piece_c(data, table, native.load())
    pay_np = fsst._compress_piece_np(data, table)
    for pay in (pay_c, pay_np):
        buf = np.frombuffer(pay, np.uint8)
        assert np.array_equal(fsst._decompress_piece(buf, table), data)
        assert np.array_equal(fsst._decompress_piece_np(buf, table), data)
    # C greedy has no block-edge guards: never worse than numpy
    assert len(pay_c) <= len(pay_np)



def test_native_load_failure_warns_once(monkeypatch, tmp_path, caplog):
    """A failed kernel build logs ONE warning naming the failed step
    (numpy then runs every kernel); ORC_HS_NO_NATIVE=1 logs nothing."""
    import logging

    from orc_haskell_spark.codecs import native

    def broken_compile(sources, out_path):
        raise OSError("cc: not found")

    monkeypatch.setenv("ORC_HS_NATIVE_DIR", str(tmp_path))
    monkeypatch.delenv("ORC_HS_NO_NATIVE", raising=False)
    monkeypatch.setattr(native, "_compile", broken_compile)
    monkeypatch.setattr(native, "_lib", None)
    monkeypatch.setattr(native, "_tried", False)
    caplog.set_level(logging.WARNING, logger="orc_haskell_spark.native")
    assert native.load() is None
    assert native.load() is None
    warns = [r for r in caplog.records
             if r.name == "orc_haskell_spark.native"]
    assert len(warns) == 1 and warns[0].levelno == logging.WARNING
    assert "compile failed" in warns[0].getMessage()
    assert "cc: not found" in warns[0].getMessage()

    caplog.clear()
    monkeypatch.setenv("ORC_HS_NO_NATIVE", "1")
    monkeypatch.setattr(native, "_tried", False)
    assert native.load() is None
    assert not [r for r in caplog.records
                if r.name == "orc_haskell_spark.native"]


def test_fsst_fallback_roundtrip_no_native(monkeypatch):
    """Full roundtrip with the native kernel disabled: the numpy path
    must remain a complete, correct implementation."""
    from orc_haskell_spark.codecs import native

    monkeypatch.setattr(native, "_lib", None)
    monkeypatch.setattr(native, "_tried", True)
    text = (b"the quick brown fox jumps over the lazy dog " * 2000)
    data = np.frombuffer(text, np.uint8)
    t, p = fsst.compress(data)
    back = fsst.decompress(np.frombuffer(t, np.uint8),
                           np.frombuffer(p, np.uint8))
    assert np.array_equal(back, data)


def test_byte_rle_c_numpy_byte_identity():
    """The C encoder must emit byte-identical streams to the numpy
    encoder, and both decoders must agree, across run/literal regimes
    (PRESENT-like, pure literals, long runs, segment-edge lengths)."""
    from orc_haskell_spark.codecs import native

    if native.load() is None:
        import pytest
        pytest.skip("no C compiler")
    rng = np.random.default_rng(17)
    cases = []
    for n in (0, 1, 2, 3, 4, 127, 128, 129, 130, 131, 132, 133, 258, 1000):
        cases.append(np.full(n, 9, np.uint8))
        cases.append(rng.integers(0, 256, n).astype(np.uint8))
    for _ in range(60):
        n = int(rng.integers(0, 3000))
        reps = rng.integers(1, 200, max(1, n // 30))
        vals = rng.integers(0, 3, reps.size).astype(np.uint8)
        cases.append(np.repeat(vals, reps)[:n])
    for v in cases:
        e_c = byte_rle.encode(v)
        e_np = byte_rle._encode_np(np.ascontiguousarray(v, np.uint8)) \
            if v.size else b""
        assert e_c == e_np
        arr = np.frombuffer(e_c, np.uint8)
        assert np.array_equal(byte_rle.decode(arr), v)
        assert np.array_equal(byte_rle._decode_np(arr), v)
