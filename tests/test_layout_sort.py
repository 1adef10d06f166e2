"""config["sort_within"]: compression-aware stripe-local clustering.

Rows inside each stripe are sorted by the configured key(s) before
encoding — the codec-friendly layout for hash-partitioned crawl pages
(url dictionaries front-code, lang runs RLE) without a partition-level
sort's memory footprint. Decode returns a permutation of the source
rows with every value bit-identical.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from orc_haskell_spark import engine


def _pages(n: int, seed: int = 7) -> pa.Table:
    """Crawl-shaped rows in hash-partition order (zero locality): the
    same host produces the same language and similar boilerplate, so a
    url-clustered layout is the codec-friendly one — exactly the real
    crawl correlation structure."""
    rng = np.random.default_rng(seed)
    hosts = [f"www.host-{i:03d}.example.org" for i in range(40)]
    site_lang = rng.choice(["en", "de", "fr", "es", "pt"], 40)
    hi = rng.integers(0, 40, n)
    urls = [f"https://{hosts[h]}/c/{rng.integers(0, 10**5):05d}"
            f"/page-{i}.html" for i, h in enumerate(hi)]
    langs = [str(site_lang[h]) for h in hi]
    text = [f"welcome to {hosts[h]} — section {rng.integers(0, 9)} "
            * int(rng.integers(1, 6)) for h in hi]
    return pa.table({"url": urls, "lang": langs, "text": text,
                     "score": rng.uniform(0, 1, n)})


def _sorted_key(tbl: pa.Table, cols):
    return list(zip(*(tbl[c].to_pylist() for c in cols)))


def test_roundtrip_is_a_bit_identical_permutation(spark):
    src = _pages(4000)
    df = spark.createDataFrame(src.to_pandas())
    enc = engine.encode_table(df, stripe_rows=1000,
                              config={"sort_within": ["url"]})
    back = pa.Table.from_batches(
        engine.decode_table(enc, df.schema).toArrow().to_batches())
    assert back.num_rows == src.num_rows
    a = back.sort_by([("url", "ascending"), ("text", "ascending")])
    b = src.sort_by([("url", "ascending"), ("text", "ascending")])
    assert a.equals(b.select(a.column_names).cast(a.schema))


def test_rows_are_sorted_inside_every_stripe(spark):
    src = _pages(3000)
    df = spark.createDataFrame(src.to_pandas()).coalesce(1)
    enc = engine.encode_table(df, stripe_rows=500,
                              config={"sort_within": ["url", "lang"]})
    decoded = engine.decode_table(enc, df.schema)
    # one stripe at a time: each must arrive internally sorted
    for row in enc.collect():
        import json as _json

        from orc_haskell_spark import stripe as stripe_mod
        tbl = pa.Table.from_batches(
            [stripe_mod.decode_stripe(_json.loads(row.footer),
                                      memoryview(row.data))])
        keys = _sorted_key(tbl, ["url", "lang"])
        assert keys == sorted(keys)
    assert decoded.count() == src.num_rows


def test_clustering_shrinks_the_encoded_payload(spark):
    src = _pages(20000)
    df = spark.createDataFrame(src.to_pandas()).coalesce(2)
    plain = engine.encode_table(df, stripe_rows=5000, auto_fuse=False)
    clustered = engine.encode_table(
        df, stripe_rows=5000, auto_fuse=False,
        config={"sort_within": ["url"]})

    def total(enc):
        return sum(r.enc_bytes for r in
                   enc.select("enc_bytes").collect())

    p, c = total(plain), total(clustered)
    # sorted urls front-code / dict-compress far better than shuffled
    assert c < p, (p, c)


def test_missing_sort_column_raises(spark):
    src = _pages(100)
    df = spark.createDataFrame(src.to_pandas())
    enc = engine.encode_table(df, config={"sort_within": ["nope"]})
    with pytest.raises(Exception, match="sort_within"):
        enc.collect()


def test_fused_parquet_path_honors_sort(spark, tmp_path):
    src = _pages(2500)
    p = str(tmp_path / "pages.parquet")
    import pyarrow.parquet as pq

    pq.write_table(src, p)
    enc = engine.encode_parquet(spark, p, stripe_rows=600,
                                config={"sort_within": ["url"]})
    import json as _json

    from orc_haskell_spark import stripe as stripe_mod
    rows = enc.collect()
    assert sum(r.n_rows for r in rows) == src.num_rows
    for row in rows:
        tbl = pa.Table.from_batches(
            [stripe_mod.decode_stripe(_json.loads(row.footer),
                                      memoryview(row.data))])
        urls = tbl["url"].to_pylist()
        assert urls == sorted(urls)


# ------------------------------------- direct-stream front-coding synergy


def _stripe_roundtrip(tbl: pa.Table, cfg: dict):
    import json as _json

    from orc_haskell_spark import stripe as stripe_mod
    footer, payload = stripe_mod.encode_stripe(
        tbl.to_batches()[0], cfg, cache={})
    footer = _json.loads(_json.dumps(footer))
    back = stripe_mod.decode_stripe(footer, memoryview(payload))
    return footer, payload, pa.Table.from_batches([back])


def _col_meta(footer, name):
    for c in footer["columns"]:
        if c["name"] == name:
            return c["meta"]
    raise KeyError(name)


def test_sorted_direct_urls_front_code_and_roundtrip():
    urls = sorted(f"https://www.host-{i % 37:03d}.example.org/c/"
                  f"{i:06d}/page.html" for i in range(5000))
    tbl = pa.table({"url": urls})
    footer, payload, back = _stripe_roundtrip(tbl, {"compression": "zstd"})
    meta = _col_meta(footer, "url")
    assert meta["enc"] == "direct" or meta["enc"] == "dict"
    if meta["enc"] == "direct":
        assert meta.get("fc") is True
        assert footer["v"] >= 4
    assert back["url"].to_pylist() == urls


def test_shuffled_hash_strings_refuse_front_coding():
    rng = np.random.default_rng(3)
    vals = [rng.bytes(24).hex() for _ in range(4000)]
    tbl = pa.table({"h": vals})
    footer, payload, back = _stripe_roundtrip(
        tbl, {"compression": "zstd", "string_codec": "direct"})
    meta = _col_meta(footer, "h")
    assert meta["enc"] == "direct" and not meta.get("fc")
    assert back["h"].to_pylist() == vals


def test_direct_fc_wire_win_on_sorted_urls():
    urls = sorted(f"https://www.host-{i % 37:03d}.example.org/c/"
                  f"{i:06d}/page.html" for i in range(8000))
    tbl = pa.table({"url": urls})

    from orc_haskell_spark import stripe as stripe_mod
    from orc_haskell_spark.codecs import block
    footer, p_fc = stripe_mod.encode_stripe(
        tbl.to_batches()[0], {"compression": "zstd",
                              "string_codec": "direct"}, cache={})
    col = footer["columns"][0]
    assert col["meta"].get("fc") is True
    sizes = {e["k"]: e["l"] for e in col["streams"]}
    # control: the plain value stream under the same outer compression
    plain = len(block.compress("".join(urls).encode(), "zstd", 3))
    assert sizes["DATA"] + sizes["PREFIX"] < plain, (sizes, plain)


def test_nullable_direct_fc_roundtrip():
    urls = sorted(f"https://site-{i % 11}.org/p/{i:05d}" for i in range(3000))
    vals = [None if i % 7 == 0 else urls[i] for i in range(3000)]
    tbl = pa.table({"url": pa.array(vals, pa.string())})
    footer, payload, back = _stripe_roundtrip(
        tbl, {"compression": "zstd", "string_codec": "direct"})
    assert back["url"].to_pylist() == vals


# --------------------------------------------- stripe-level property


def test_property_sort_within_is_value_exact_permutation():
    """Random mixed-type nullable tables, random sort keys: the sorted
    stripe decodes to exactly the source multiset (bit-level for
    floats), and is internally ordered by the key."""
    import json as _json

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from orc_haskell_spark import stripe as stripe_mod

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(st.tuples(
            st.one_of(st.text(max_size=8), st.none()),
            st.integers(-2**40, 2**40),
            st.one_of(st.floats(allow_nan=True, width=64), st.none()),
        ), min_size=1, max_size=200),
        st.sampled_from(["k", "i"]),
        st.sampled_from(["none", "zstd"]))
    def check(rows, key, comp):
        ks, is_, fs = zip(*rows)
        tbl = pa.table({"k": pa.array(ks, pa.string()),
                        "i": pa.array(is_, pa.int64()),
                        "f": pa.array(fs, pa.float64())})
        footer, payload = stripe_mod.encode_stripe(
            tbl.to_batches()[0],
            {"compression": comp, "sort_within": [key]}, cache={})
        back = pa.Table.from_batches([stripe_mod.decode_stripe(
            _json.loads(_json.dumps(footer)), memoryview(payload))])
        assert back.num_rows == tbl.num_rows
        # multiset equality, NaN/None-safe via repr of bit patterns
        def norm(t):
            out = []
            for r in t.to_pylist():
                f = r["f"]
                bits = (None if f is None else
                        np.float64(f).view(np.uint64).item())
                out.append((r["k"], r["i"], bits))
            return sorted(out, key=repr)
        assert norm(back) == norm(tbl)
        # internal order by the key (nulls-first per pyarrow default
        # is irrelevant here: just assert non-descending ignoring None)
        col = [r for r in back[key].to_pylist() if r is not None]
        assert col == sorted(col)

    check()
