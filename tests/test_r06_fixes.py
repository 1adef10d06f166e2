"""Round-6 correctness fixes (ADVICE.md): front-code trial edge cases
and the ALP-RD decoder's bounds check."""

import numpy as np
import pyarrow as pa
import pytest

from orc_haskell_spark import stripe
from orc_haskell_spark.codecs import alp


def _roundtrip(batch, config=None, cache=None):
    cache = {} if cache is None else cache
    footer, payload = stripe.encode_stripe(batch, config, cache)
    return stripe.decode_stripe(footer, memoryview(payload)), cache


def test_single_long_string_tail_stripe():
    # ADVICE high: len(lens)==1 with data >= 256 bytes crashed the
    # front-code trial with IndexError under the default 'auto' config
    vals = ["x" * 400]
    dec, _ = _roundtrip(pa.record_batch({"s": pa.array(vals)}))
    assert dec.column(0).to_pylist() == vals


def test_two_long_strings_tail_stripe():
    vals = ["x" * 400, "y" * 300]
    dec, _ = _roundtrip(pa.record_batch({"s": pa.array(vals)}))
    assert dec.column(0).to_pylist() == vals


def test_fc_full_stream_verification_can_drop_fc():
    # prefix-sorted head (the ~512 KiB trial window), shuffled tail:
    # the sample says fc wins, the full stream says it does not — the
    # once-per-task verification must drop fc instead of locking it in
    rng = np.random.default_rng(7)
    head = ["https://example.com/%08d" % i for i in range(40000)]
    tail = ["".join(chr(32 + c) for c in rng.integers(0, 90, 24))
            for _ in range(40000)]
    vals = head + tail
    cache = {}
    dec, cache = _roundtrip(pa.record_batch({"s": pa.array(vals)}),
                            cache=cache)
    assert dec.column(0).to_pylist() == vals
    # whatever the verdict, it must be the VERIFIED one: fc=True implies
    # the full-stream comparison passed
    if cache.get(("directfc", "s")):
        assert cache.get(("directfc_verified", "s")) is True


def test_fc_still_wins_on_sorted_urls():
    vals = ["https://example.com/path/%06d" % i for i in range(5000)]
    cache = {}
    dec, cache = _roundtrip(pa.record_batch({"s": pa.array(vals)}),
                            cache=cache)
    assert dec.column(0).to_pylist() == vals
    assert cache.get(("directfc", "s")) is True
    assert cache.get(("directfc_verified", "s")) is True


def _rd_decode_raises_on_both_paths(monkeypatch, codes, dict_left):
    from orc_haskell_spark.codecs import native

    if native.load() is None:
        pytest.skip("no native kernels on this box")
    args = (codes, np.zeros(len(codes), np.uint64), 4, dict_left,
            np.array([], np.uint64), b"", np.float32)
    with pytest.raises(ValueError, match="corrupt ALP-RD stripe"):
        alp.rd_decode(*args)
    monkeypatch.setattr(native, "_lib", None)
    monkeypatch.setattr(native, "_tried", True)
    with pytest.raises(ValueError, match="corrupt ALP-RD stripe"):
        alp.rd_decode(*args)


def test_alp_rd_decode_rejects_corrupt_codes(monkeypatch):
    # ADVICE low: a corrupt stripe's code beyond the dictionary must not
    # read out of bounds in the C kernel, nor decode as dict[0]: both
    # paths raise the same error
    _rd_decode_raises_on_both_paths(
        monkeypatch, np.array([0, 1, 2, 250], np.uint64),  # 250: bad
        np.array([1, 2, 3], np.uint16))


def test_alp_rd_roundtrip_unchanged():
    rng = np.random.default_rng(3)
    vals = (rng.normal(0, 1, 4096).astype(np.float64)
            * 10.0 ** rng.integers(-3, 3, 4096))
    enc = alp.rd_encode(vals)
    if enc is None:
        pytest.skip("column not RD-encodable")
    r, dl, codes, right, pos, excl = enc
    out = alp.rd_decode(codes, right, r, dl, pos, excl.tobytes(),
                        np.float64)
    assert np.array_equal(out, vals)


def test_pages_fixture_digest_pinned():
    # gen.pages_batch was rewritten for speed (object-array division and
    # libm pow removed); the fixture must stay byte-identical — pin the
    # first 20k rows' Arrow buffer digest
    import hashlib

    from orc_haskell_spark import gen

    t = gen.pages_table(0, 20000)
    h = hashlib.sha256()
    for b in t.to_batches():
        for col in b.columns:
            for buf in col.buffers():
                if buf is not None:
                    h.update(buf)
    assert h.hexdigest() == ("b06b6d426a0fb4c82bad852a24a527cb"
                             "7f3ae6be23e84b9e8582ee40910282e2")


def test_float_choice_cached_and_artifacts_reused():
    # the per-(column, task) float-codec cache and the trial-artifact
    # reuse must produce the same streams as per-stripe re-measurement
    import pyarrow.parquet as pq

    li = pq.read_table("/root/testdata/sf0.01/lineitem.parquet")
    rb = li.slice(0, 4000).combine_chunks().to_batches()[0]
    one = pa.record_batch(
        {"l_extendedprice": rb.column(
            rb.schema.get_field_index("l_extendedprice"))})
    cache = {}
    f1, p1 = stripe.encode_stripe(one, None, cache)
    assert ("floatchoice", "l_extendedprice") in cache
    # second stripe hits the cache (no artifacts) — must still decode
    f2, p2 = stripe.encode_stripe(one, None, cache)
    assert (p1, f1) == (p2, f2)
    d = stripe.decode_stripe(f2, memoryview(p2))
    assert d.column(0).to_pylist() == one.column(0).to_pylist()


def test_alp_rd_decode_empty_dictionary(monkeypatch):
    # review-found: the bounds check must not read dict[0] when the
    # dictionary itself is empty (dn == 0): every code is out of range
    _rd_decode_raises_on_both_paths(
        monkeypatch, np.array([5, 9], np.uint64), np.array([], np.uint16))
