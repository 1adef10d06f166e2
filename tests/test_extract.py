"""HTML -> text extraction: the north rule's byte-identity invariant
(main_content(html) == text on the pages corpus), entity handling,
malformed-input tolerance, and the distributed wrapper."""

from __future__ import annotations

import pyarrow as pa
import pytest

from orc_haskell_spark import gen
from orc_haskell_spark.pipeline import extract


def test_main_content_byte_identity_on_pages_corpus():
    """THE invariant: for every non-null page, boilerplate removal
    returns the source text byte-identically (3k rows, all pad/lang/
    length variants)."""
    t = gen.pages_table(0, 3000)
    n = 0
    for h, x in zip(t.column("html").to_pylist(), t.column("text").to_pylist()):
        if h is None:
            continue
        assert extract.main_content(h) == x
        n += 1
    assert n > 2800


def test_escape_roundtrip_exact():
    """escape_html_text -> main_content is an exact inverse, even when
    the source already contains entity-looking substrings."""
    for src in ("a < b & c > d", "&amp; &#65; &unknown;", "x\r\ny\tz  w",
                "<script>alert(1)</script>", "", "plain"):
        wrapped = ("<html><body><div><a href='/'>home</a><a href='/'>"
                   "about page</a></div><main>"
                   + extract.escape_html_text(src)
                   + "</main></body></html>")
        assert extract.main_content(wrapped) == src


def test_link_dense_blocks_lose():
    html = ("<body><nav><div><a>one long link text</a><a>another link "
            "here</a></div></nav><article><section><div>Real content "
            "with plenty of plain words to win the density vote."
            "</div></section></article></body>")
    got = extract.main_content(html)
    assert "Real content" in got and "long link" not in got


def test_head_script_style_skipped():
    html = ("<html><head><title>T</title><style>.x{color:red}</style>"
            "<script>var a=1;</script></head><body><div>only this"
            "</div></body></html>")
    assert extract.main_content(html) == "only this"
    assert extract.visible_text(html) == "only this"


def test_malformed_html_tolerated():
    # unclosed, mis-nested, stray end tags: no crash, best-effort text
    assert "bold" in extract.main_content("<div><b>bold<div>more")
    assert extract.main_content("</div></p><main>x</main>") == "x"
    assert extract.main_content("") == ""
    assert extract.main_content(b"\xff\xfenot html at all") == ""


TRICKY = [
    "<div a='x>y'>quoted gt<main>M body content here</main></div>",
    '<div data-x="a>b" >attr gt</div><main>M body content here</main>',
    "<!-- c --><main>M body content here</main><!doctype html>",
    "<script>var a='<div>no</div>';</script><main>M body content here</main>",
    "<style>a>b{}</style><main>M body content here</main>",
    "<main>a &lt; b &amp; c &gt; d</main>",
    "<main>5 < 6 and 7 > 2</main>",          # literal < and >
    "<MAIN>upper case</MAIN>",
    "<main>x</main",                          # truncated tag at EOF
    "<main>unclosed",
    "<p>a<br/>b</p><main>M body content here</main>",
    "<main>x<3 hearts</main>",                # '<' before a digit
    "<main>a</ div>b</main>",                 # whitespace end tag
    "<main>x<a:link>y</a:link>z</main>",      # colon tag name != <a>
    "<main>t</main><script>never closed",     # unterminated rawtext
    "",
    # review regressions: length-changing lowercase before rawtext,
    # self-closing rawtext/void tags, whitespace rawtext close,
    # '/' eaten by an unquoted attribute value (NOT self-closing)
    "<p>İstanbul</p><script>var x=1;</script><main>M body content x</main>",
    '<script src="x"/><main>M body content here</main>',
    "<script>x</ script><main>M body content here</main>",
    "<style>x</STYLE ><main>M body content here</main>",
    "<div/><main>M body content here</main>",
    "<script>a</scripty></script><main>M body content here</main>",
    "<a href=x/>link text<main>M body content here</main>",
    '<a href="x"/>link text<main>M body content here</main>',
    '<div data-a=1 data-b="2" />x<main>M body content here</main>',
    "<img src=a.png/><main>M body content here</main>",
    # second review pass: ASCII-only rawtext close (U+017F 'ſ' must
    # NOT fold to 's'), entity decode in the EOF-truncated tag tail
    "<script>x</ſcript><main>M body content here</main>",
    "<p><link&lt;x&gt;",
    "<main>tail &amp; more<",
]


def test_fast_engine_matches_strict():
    """The fast regex scanner and stdlib html.parser produce identical
    extractions on the whole gen corpus and on adversarial markup —
    the fast path is the 100 TB default, the strict path the oracle."""
    t = gen.pages_table(0, 2000)
    pages = [h for h in t.column("html").to_pylist() if h is not None]
    for h in pages + TRICKY:
        assert extract.main_content(h, "fast") == \
            extract.main_content(h, "strict")
        assert extract.visible_text(h, "fast") == \
            extract.visible_text(h, "strict")


def test_fast_engine_differential_fuzz():
    """Property: random markup-soup documents extract identically on
    both engines. The alphabet is weighted toward the characters that
    have produced real divergences: tag openers/closers, quotes,
    slashes, entities, rawtext keywords, and the Unicode case-folding
    traps (İ, ſ)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    atoms = st.sampled_from([
        "<", ">", "/", "=", '"', "'", "&", ";", " ", "\n", "a", "x1",
        "div", "main", "p", "a href=", "script", "style", "İ", "ſ",
        "&amp;", "&lt;", "&#65;", "<script>", "</script>", "<main>",
        "</main>", "<div>", "</div>", "<a>", "</a>", "<br/>", "<!--",
        "-->", "<!doctype html>", "</ div>", "<p/>", "text words here",
        "<![CDATA[", "]]>", "<?php", "?>", "\r\n", "\t", "-", "!",
        "?", "[",
    ])
    doc = st.lists(atoms, min_size=0, max_size=50).map("".join)

    @settings(max_examples=300, deadline=None)
    @given(doc)
    def check(html):
        try:
            want_m = extract.main_content(html, "strict")
            want_v = extract.visible_text(html, "strict")
        except Exception:
            # strict = html.parser can RAISE on markup soup (unknown
            # '<![KEYWORD['): no oracle, but the fast engine must
            # still not crash
            extract.main_content(html, "fast")
            return
        assert extract.main_content(html, "fast") == want_m
        assert extract.visible_text(html, "fast") == want_v

    check()


def test_visible_text_normalizes():
    html = ("<body><p>Hello   world</p><p></p><ul><li>a</li><li>b</li>"
            "</ul>tail</body>")
    assert extract.visible_text(html) == "Hello world\na\nb\ntail"


def test_extract_df_distributed(spark):
    """Distributed extraction over pages_df reproduces the text column
    for every non-null html row; schema = input minus text plus text."""
    n = 800
    df = gen.pages_df(spark, n, num_partitions=3)
    out = extract.extract_df(df, html_col="html", mode="main",
                             out_col="extracted")
    rows = {r.url: r for r in out.collect()}
    src = gen.pages_table(0, n)
    for url, html, text in zip(src.column("url").to_pylist(),
                               src.column("html").to_pylist(),
                               src.column("text").to_pylist()):
        r = rows[url]
        if html is None:
            assert r.extracted is None
        else:
            assert r.extracted == text == r.text


def test_extract_df_strict_engine_twin(spark):
    """engine='strict' runs html.parser distributed and agrees with
    the fast default on the pages corpus."""
    df = gen.pages_df(spark, 150, num_partitions=2)
    fast = extract.extract_df(df, out_col="t")
    strict = extract.extract_df(df, out_col="t", engine="strict")
    a = {r.url: r.t for r in fast.collect()}
    b = {r.url: r.t for r in strict.collect()}
    assert a == b
    with pytest.raises(ValueError, match="engine="):
        extract.extract_df(df, engine="nope")


def test_extract_df_replaces_column(spark):
    """out_col colliding with an input column replaces it (the
    html->text recompute shape)."""
    df = gen.pages_df(spark, 100, num_partitions=2)
    out = extract.extract_df(df, mode="main", out_col="text")
    assert out.columns.count("text") == 1
    got = out.filter("html is not null").select("text").limit(5).collect()
    assert all(r.text for r in got)


def test_extract_df_plan_is_narrow(spark):
    df = gen.pages_df(spark, 50, num_partitions=2)
    plan = extract.extract_df(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_c_kernel_matches_fast_engine_on_corpora():
    # the C batch kernel must reproduce the Python fast engine exactly
    # on both fixture corpora (which are themselves strict-pinned)
    import pyarrow.parquet as pq

    from orc_haskell_spark import gen
    from orc_haskell_spark.codecs import native

    if native.load() is None:
        import pytest
        pytest.skip("no native kernels")
    t = pq.read_table("/root/testdata/sf0.001/documents.parquet",
                      columns=["doc_id", "text"])
    import __spark_entry__ as e
    pages = [e._warc_page_html(d, txt) for d, txt in
             zip(t["doc_id"].to_pylist(), t["text"].to_pylist())]
    ghtml = gen.pages_table(0, 500).column("html").to_pylist()
    for docs in (pages, ghtml):
        want_m = [None if h is None else extract.main_content(h, "fast")
                  for h in docs]
        assert extract.main_content_batch(docs) == want_m
        want_v = [None if h is None else extract.visible_text(h, "fast")
                  for h in docs]
        assert extract.visible_text_batch(docs) == want_v


def test_c_kernel_entity_length_semantics():
    # score equivalence depends on exact html.unescape LENGTH emulation:
    # drive every stdlib named entity plus numeric edge cases through
    # the batch path and compare with the Python engine
    from html.entities import html5

    from orc_haskell_spark.codecs import native

    if native.load() is None:
        import pytest
        pytest.skip("no native kernels")
    docs = []
    for k in sorted(html5):
        docs.append(f"<main>x&{k}y</main>")
    for num in ["0", "13", "128", "8364", "55296", "1114111", "1114112",
                "99999999999999999999", "x41", "X1f", "x110000", "1"]:
        docs.append(f"<main>a&#{num};b</main>")
        docs.append(f"<main>a&#{num}b</main>")
    docs += ["<main>&#;</main>", "<main>&;</main>", "<main>&</main>",
             "<main>&" + "a" * 40 + ";</main>"]
    want = [extract.main_content(h, "fast") for h in docs]
    assert extract.main_content_batch(docs) == want


def test_c_kernel_random_bytes_and_fallback_traps():
    # random bytes (invalid UTF-8) and the Unicode bail traps must agree
    import random

    from orc_haskell_spark.codecs import native

    if native.load() is None:
        import pytest
        pytest.skip("no native kernels")
    rng = random.Random(7)
    docs = [bytes(rng.randrange(256) for _ in range(rng.randrange(0, 300)))
            for _ in range(500)]
    docs += ["<blocKquote>k</blocKquote>".replace("K", "K"),
             "<div>a</div><main>x</main><!-- -->tail",
             "</ div>", "<pİ/>t"]
    want = [None if h is None else extract.main_content(h, "fast")
            for h in docs]
    assert extract.main_content_batch(docs) == want


def test_c_kernel_differential_fuzz_batch():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from orc_haskell_spark.codecs import native

    if native.load() is None:
        import pytest
        pytest.skip("no native kernels")
    atoms = st.sampled_from([
        "<", ">", "/", "=", '"', "'", "&", ";", " ", "\n", "a", "x1",
        "div", "main", "p", "a href=", "script", "style", "İ", "ſ",
        "&amp;", "&lt;", "&#65;", "<script>", "</script>", "<main>",
        "</main>", "<div>", "</div>", "<a>", "</a>", "<br/>", "<!--",
        "-->", "<!doctype html>", "</ div>", "<p/>", "text words here",
        "<![CDATA[", "]]>", "<?php", "?>", "\r\n", "\t", "-", "!",
        "?", "[", "K", "&notareal;", "&amp", "<td>", "</td>",
        "\x1c", "\v",
    ])
    doc = st.lists(atoms, min_size=0, max_size=50).map("".join)

    @settings(max_examples=300, deadline=None)
    @given(doc)
    def check(html):
        assert extract.main_content_batch([html])[0] == \
            extract.main_content(html, "fast")
        assert extract.visible_text_batch([html])[0] == \
            extract.visible_text(html, "fast")

    check()


def test_c_kernel_newline_data_chunk_conflation():
    # the Python sink keeps markers and data in one string list, so a
    # DATA chunk equal to "\n" acts as a line break in visible_text;
    # the C batch path must reproduce that (hypothesis-found: '<\n<')
    for h in ["<\n<", "<main>a&#10;b</main>", "<\n<\n<", "\n",
              "a&#xA;b", "<p>x</p>\n<p>y</p>"]:
        assert extract.visible_text_batch([h])[0] == \
            extract.visible_text(h, "fast")
        assert extract.main_content_batch([h])[0] == \
            extract.main_content(h, "fast")


def test_c_kernel_unterminated_quote_startend_bails():
    # review-found: an unterminated quoted attribute value in a
    # '/>'-ending tag makes Python's regex backtrack into an empty
    # unquoted value — the C kernel must punt the document instead of
    # guessing (control bytes like \x0b reach this path)
    cases = [
        '<body><div c=\x0b"/>Real content words here</div>'
        '<a>link chrome link chrome link</a></body>',
        '<div a="/>text</div>',
        "<p b='/>x</p>",
        '<main d=\x1c"/>words</main>',
    ]
    for h in cases:
        assert extract.main_content_batch([h])[0] == \
            extract.main_content(h, "fast"), repr(h)
        assert extract.visible_text_batch([h])[0] == \
            extract.visible_text(h, "fast"), repr(h)


def test_c_kernel_lone_surrogate_falls_back_per_document(monkeypatch):
    # a lone surrogate has no UTF-8 form: only that document takes the
    # per-document Python fallback, the rest of the batch stays native
    from orc_haskell_spark.codecs import native

    if native.load() is None:
        pytest.skip("no native kernels")
    ok = ["<main><p>first page body words</p></main>",
          "<div>second <b>page</b> &amp; more</div>"]
    bad = "<main><p>broken \ud800 text here</p></main>"
    want_ok = extract.main_content_batch(ok)
    want_bad = extract.main_content(bad, "fast")
    calls = []
    real = extract.main_content
    monkeypatch.setattr(extract, "main_content",
                        lambda h, eng="fast": calls.append(h) or real(h, eng))
    got = extract.main_content_batch([ok[0], bad, ok[1]])
    assert calls == [bad]
    assert [got[0], got[2]] == want_ok
    assert got[1] == want_bad
    vis = extract.visible_text_batch([ok[0], bad, ok[1]])
    assert vis[1] == extract.visible_text(bad, "fast")
    assert [vis[0], vis[2]] == extract.visible_text_batch(ok)
