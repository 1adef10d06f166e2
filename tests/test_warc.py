"""WARC source/sink: record format, gzip-member streaming, corruption
resync, and the distributed read/write roundtrip."""

from __future__ import annotations

import datetime as dt
import io
import re
import zlib

import pyarrow as pa
import pytest

from orc_haskell_spark import gen, sources, warc

ROWS = [
    ("https://a.example/1", 1704067200_000_000, b"<html>one</html>"),
    ("https://a.example/2", 1704067201_500_000, None),  # -> metadata rec
    ("https://b.example/3", 1704067202_000_001, b"<html>\xe2\x82\xac</html>"),
]


def _responses(path, **kw):
    return list(warc.iter_warc_file(str(path), **kw))


def test_roundtrip_gzip_and_plain(tmp_path):
    gz, plain = tmp_path / "t.warc.gz", tmp_path / "t.warc"
    assert warc.write_warc_file(str(gz), ROWS) == 4  # warcinfo + 3
    warc.write_warc_file(str(plain), ROWS, gzip_members=False)
    got = _responses(gz)
    assert got == _responses(plain)
    # null-html row became a skipped metadata record
    assert [r[0] for r in got] == ["https://a.example/1", "https://b.example/3"]
    assert got[0] == ("https://a.example/1", 1704067200_000_000, 200,
                      "text/html; charset=utf-8", b"<html>one</html>")
    # microsecond WARC-Date precision survives
    assert got[1][1] == 1704067202_000_001
    assert got[1][4] == b"<html>\xe2\x82\xac</html>"


def test_deterministic_bytes(tmp_path):
    """A re-run writes byte-identical output (uuid5 record ids, no
    gzip mtime, warcinfo id from the BASENAME only): rename-on-commit
    re-runs are idempotent wherever the file lands."""
    (tmp_path / "r1").mkdir()
    (tmp_path / "r2").mkdir()
    a = tmp_path / "r1" / "part.warc.gz"
    b = tmp_path / "r2" / "part.warc.gz"
    warc.write_warc_file(str(a), ROWS)
    warc.write_warc_file(str(b), ROWS)
    assert a.read_bytes() == b.read_bytes()


def test_gzip_member_per_record(tmp_path):
    p = tmp_path / "t.warc.gz"
    warc.write_warc_file(str(p), ROWS)
    raw = p.read_bytes()
    # one member per record: 4 gzip magics (Common-Crawl layout)
    assert len(re.findall(b"\x1f\x8b\x08", raw)) >= 4
    # pyarrow-free streaming read of concatenated members
    members = list(warc._iter_gzip_members(io.BytesIO(raw)))
    assert len(members) == 4
    assert members[1].startswith(b"WARC/1.0\r\nWARC-Type: response")


def test_single_member_archive(tmp_path):
    """A whole-file single gzip stream (records span 'members')."""
    plain = tmp_path / "t.warc"
    warc.write_warc_file(str(plain), ROWS, gzip_members=False)
    one = tmp_path / "one.warc.gz"
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    one.write_bytes(co.compress(plain.read_bytes()) + co.flush())
    assert _responses(one) == _responses(plain)


def test_corrupt_gzip_member(tmp_path):
    p = tmp_path / "t.warc.gz"
    warc.write_warc_file(str(p), ROWS)
    raw = bytearray(p.read_bytes())
    starts = [m.start() for m in re.finditer(b"\x1f\x8b\x08", bytes(raw))]
    raw[starts[2] + 20] ^= 0xFF  # flip a byte inside the 2nd response
    bad = tmp_path / "bad.warc.gz"
    bad.write_bytes(bytes(raw))
    with pytest.raises(ValueError, match="bad.warc.gz"):
        _responses(bad)
    errs = []
    got = _responses(bad, strict=False, errors=errs)
    assert len(got) == 1 and len(errs) == 1  # 1st response survives


def test_corrupt_record_resyncs_at_member_boundary(tmp_path):
    p = tmp_path / "t.warc.gz"
    warc.write_warc_file(str(p), ROWS)
    raw = p.read_bytes()
    starts = [m.start() for m in re.finditer(b"\x1f\x8b\x08", raw)]
    junk = warc._gzip_member(b"WARC/1.0\r\nNoColonHeader\r\n\r\n")
    mixed = raw[:starts[2]] + junk + raw[starts[2]:]
    bad = tmp_path / "mixed.warc.gz"
    bad.write_bytes(mixed)
    with pytest.raises(ValueError, match="malformed header"):
        _responses(bad)
    errs = []
    got = _responses(bad, strict=False, errors=errs)
    # ONLY the junk member is lost: both real responses survive
    assert [r[0] for r in got] == ["https://a.example/1", "https://b.example/3"]
    assert len(errs) == 1


def test_truncated_final_record(tmp_path):
    plain = tmp_path / "t.warc"
    warc.write_warc_file(str(plain), ROWS, gzip_members=False)
    cut = tmp_path / "cut.warc"
    cut.write_bytes(plain.read_bytes()[:-40])
    with pytest.raises(ValueError, match="truncated"):
        _responses(cut)
    errs = []
    got = _responses(cut, strict=False, errors=errs)
    assert len(got) == 1 and errs  # last response lost, first kept


def test_http_parse_variants():
    # chunked transfer-encoding
    chunked = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
               b"Transfer-Encoding: chunked\r\n\r\n"
               b"4\r\nWiki\r\n5\r\npedia\r\n0\r\n\r\n")
    assert warc.parse_http_response(chunked) == (200, "text/html", b"Wikipedia")
    # bare-\n endings and folded header
    bare = (b"HTTP/1.1 404 Not Found\nContent-Type: text/plain;\n"
            b"  charset=latin-1\nContent-Length: 2\n\nno")
    st, ct, body = warc.parse_http_response(bare)
    assert (st, body) == (404, b"no")
    assert ct == "text/plain; charset=latin-1"
    # non-HTTP payload (resource record): whole payload is the body
    assert warc.parse_http_response(b"just bytes") == (None, None, b"just bytes")


def test_warc_date_roundtrip():
    for us in (0, 1704067200_000_000, 1704067200_123456, 123, 86399_999999):
        assert warc.parse_warc_date(warc.format_warc_date(us)) == us
    assert warc.parse_warc_date("2024-01-01T00:00:00+00:00") == 1704067200_000_000


def test_lpt_buckets_balance():
    """WARC chunk rows (file, start, nbytes, end) pack by their byte
    column with the planner's LPT packing."""
    files = [(f"f{i}", 0, w, -1)
             for i, w in enumerate([100, 1, 1, 1, 97, 1, 1, 98])]
    buckets = sources.lpt_buckets(files, 3)
    loads = sorted(sum(r[2] for r in b) for b in buckets)
    assert len(buckets) == 3 and loads[-1] <= 103  # fat files separated


def test_adversarial_payload_roundtrip_property(tmp_path):
    """Property: arbitrary binary payloads — including bytes that LOOK
    like record boundaries ('WARC/1.0', '\\r\\n\\r\\n', gzip magic) —
    roundtrip exactly; Content-Length framing, not delimiters, bounds
    the payload. Random CDX slices parse standalone."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    payload = st.one_of(
        st.binary(min_size=0, max_size=400),
        st.just(b"\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n\r\n"),
        st.just(b"HTTP/1.1 200 OK\r\n\r\nnested"),
        st.just(b"\x1f\x8b\x08" * 30),
        st.binary(min_size=1, max_size=50).map(lambda b: b * 40),
    )
    rows_st = st.lists(
        st.tuples(st.integers(0, 10**6),
                  st.integers(0, 2**40),
                  st.one_of(st.none(), payload)),
        min_size=1, max_size=12)

    @settings(max_examples=40, deadline=None)
    @given(rows=rows_st, gz=st.booleans())
    def check(rows, gz):
        rows = [(f"https://h.example/{i}-{n}", ts, h)
                for n, (i, ts, h) in enumerate(rows)]
        p = tmp_path / f"prop.warc{'.gz' if gz else ''}"
        idx = []
        warc.write_warc_file(str(p), rows, gzip_members=gz, index=idx)
        got = list(warc.iter_warc_file(str(p)))
        want = [(u, ts, h) for u, ts, h in rows if h is not None]
        assert [(r[0], r[1], r[4]) for r in got] == want
        # every response entry slices out standalone via its offsets
        for (off, ln, rt), (u, ts, h) in zip(idx[1:], rows):
            if rt != "response":
                continue
            (r,) = list(warc.iter_warc_file(str(p), start=off,
                                            end=off + ln))
            assert (r[0], r[1], r[4]) == (u, ts, h)

    check()


def test_distributed_roundtrip(spark, tmp_path):
    """pages_df -> write_warc (rename-on-commit parts) -> read_warc
    equals the source on every surviving column, distributed."""
    n = 1500
    df = gen.pages_df(spark, n, num_partitions=4)
    out = str(tmp_path / "crawl")
    summary = warc.write_warc(df, out).collect()  # lazy: runs here
    assert sum(r.n_records for r in summary) == n + 4  # + per-part warcinfo
    assert all(r.file.endswith(".warc.gz") for r in summary)

    back = warc.read_warc(spark, out, num_partitions=3)
    got = {r.url: r for r in back.collect()}
    src = gen.pages_table(0, n)
    n_resp = 0
    for url, ts, html in zip(src.column("url").to_pylist(),
                             src.column("warc_ts").to_pylist(),
                             src.column("html").to_pylist()):
        if html is None:
            assert url not in got  # metadata records are skipped
            continue
        n_resp += 1
        r = got[url]
        assert bytes(r.html) == html
        assert r.status == 200 and r.content_type.startswith("text/html")
        rt = r.warc_ts if r.warc_ts.tzinfo else \
            r.warc_ts.replace(tzinfo=dt.timezone.utc)
        assert rt == ts  # microsecond-exact through WARC-Date
    assert len(got) == n_resp


def test_fused_extract_equals_chained(spark, tmp_path):
    """read_warc(extract='main') — extraction inside the scan worker,
    one Arrow crossing — returns exactly what the chained
    read_warc -> extract_df route returns (which itself matches the
    source text byte-identically)."""
    from orc_haskell_spark.pipeline import extract

    df = gen.pages_df(spark, 600, num_partitions=3)
    out = str(tmp_path / "crawl")
    warc.write_warc(df, out).collect()
    fused = warc.read_warc(spark, out, num_partitions=2, extract="main")
    assert fused.columns[-1] == "text"
    chained = extract.extract_df(
        warc.read_warc(spark, out, num_partitions=2),
        html_col="html", mode="main", out_col="text")
    a = {r.url: r.text for r in fused.collect()}
    b = {r.url: r.text for r in chained.collect()}
    assert a == b and len(a) > 500
    src = {u: x for u, h, x in zip(*[gen.pages_table(0, 600).column(c)
                                     .to_pylist()
                                     for c in ("url", "html", "text")])
           if h is not None}
    assert a == src  # byte-identical to the source text per url
    with pytest.raises(ValueError, match="extract="):
        warc.read_warc(spark, out, extract="nope")


def test_cdx_offsets_are_seek_points(tmp_path):
    """Every CDX entry's (offset, length) slices out one standalone
    record: inflating that slice alone parses exactly that record."""
    p = tmp_path / "t.warc.gz"
    idx = []
    warc.write_warc_file(str(p), ROWS, index=idx)
    raw = p.read_bytes()
    assert len(idx) == 4
    assert idx[0][0] == 0 and idx[-1][0] + idx[-1][1] == len(raw)
    for (off, ln, rtype), want_url in zip(
            idx, [None, "https://a.example/1", "https://a.example/2",
                  "https://b.example/3"]):
        member = zlib.decompress(raw[off:off + ln], 31)
        (headers, _payload, _end), = list(warc.iter_warc_records(member))
        assert headers["warc-type"] == rtype
        if want_url:
            assert headers["warc-target-uri"] == want_url
    # sidecar roundtrip
    warc.write_cdx(str(p) + ".cdx", idx)
    assert warc.read_cdx(str(p) + ".cdx") == idx
    # range read through the public API: just the 2nd response
    off, ln, _ = idx[3]
    got = list(warc.iter_warc_file(str(p), start=off, end=off + ln))
    assert [r[0] for r in got] == ["https://b.example/3"]


def test_file_chunks_split_at_record_boundaries(tmp_path):
    """Chunks from a real sidecar-ed file tile it exactly, cut only at
    record offsets, and each chunk parses standalone to its own rows;
    the union reproduces the whole file with no dupes or gaps."""
    rows = [(f"https://x/{i}", 1704067200_000_000 + i,
             f"<html>doc {i} body {'y' * (50 + i * 7 % 200)}</html>"
             .encode()) for i in range(60)]
    p = tmp_path / "big.warc.gz"
    idx = []
    warc.write_warc_file(str(p), rows, index=idx)
    warc.write_cdx(str(p) + ".cdx", idx)
    size = p.stat().st_size
    chunks = warc._file_chunks([(str(p), size)], split_bytes=size // 7)
    assert len(chunks) >= 4
    starts = {o for o, _ln, _rt in idx}
    spans = sorted((c[0][1], c[0][2]) for c in chunks)
    assert spans[0][0] == 0 and spans[-1][1] == size
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert e1 == s2 and s2 in starts
    got = []
    for (f, start, end), _w in chunks:
        got += list(warc.iter_warc_file(f, start=start, end=end))
    assert sorted(r[0] for r in got) == sorted(u for u, _t, _h in rows)
    # below-threshold file: one whole-file chunk, EOF sentinel
    assert warc._file_chunks([(str(p), size)], split_bytes=size * 2) == \
        [((str(p), 0, -1), size)]


def test_plain_warc_range_read(tmp_path):
    """Review regression: byte-range reads of NON-gzip .warc files
    (the sidecar advertises plain offsets too)."""
    rows = [(f"https://x/{i}", 1704067200_000_000 + i,
             f"<html>doc {i}</html>".encode()) for i in range(30)]
    p = tmp_path / "t.warc"
    idx = []
    warc.write_warc_file(str(p), rows, gzip_members=False, index=idx)
    off, ln, _ = idx[5]
    got = list(warc.iter_warc_file(str(p), start=off, end=off + ln))
    assert [r[0] for r in got] == ["https://x/4"]  # idx[0] = warcinfo


def test_foreign_or_torn_sidecar_falls_back_to_whole_file(tmp_path):
    """Review regression: a sidecar in another format (e.g. a real
    Common-Crawl CDX) or a torn OHS sidecar must degrade to a
    whole-file scan, never fail planning."""
    p = tmp_path / "t.warc.gz"
    warc.write_warc_file(str(p), ROWS)
    size = p.stat().st_size
    (tmp_path / "t.warc.gz.cdx").write_text(
        " CDX A b a m s k r M V g u\nsome cc line\n")
    assert warc._file_chunks([(str(p), size)], split_bytes=1) == \
        [((str(p), 0, -1), size)]
    (tmp_path / "t.warc.gz.cdx").write_text("#OHS-CDX 1\n12 x y\n")
    assert warc._file_chunks([(str(p), size)], split_bytes=1) == \
        [((str(p), 0, -1), size)]


def test_distributed_chunked_read_equals_whole_file(spark, tmp_path):
    """read_warc with a tiny split_bytes re-reads its own sidecar-ed
    output in record-range chunks and returns exactly the same rows."""
    df = gen.pages_df(spark, 800, num_partitions=2)
    out = str(tmp_path / "crawl")
    summary = warc.write_warc(df, out).collect()
    import os

    for r in summary:
        assert os.path.exists(r.file + ".cdx")  # sidecars committed
    whole = {r.url: (r.warc_ts, bytes(r.html))
             for r in warc.read_warc(spark, out, num_partitions=2,
                                     split_bytes=1 << 30).collect()}
    chunked_df = warc.read_warc(spark, out, num_partitions=4,
                                split_bytes=64 << 10)
    chunked = {r.url: (r.warc_ts, bytes(r.html))
               for r in chunked_df.collect()}
    assert chunked == whole and len(whole) > 700
    # the planner actually split: more scan chunks than files
    files = warc._list_warc_files(out)
    assert len(warc._file_chunks(files, 64 << 10)) > len(files)


def test_read_warc_plan_is_narrow(spark, tmp_path):
    """No shuffle in the scan: the chunk plan launches through
    ``sources.SplitPlan``, so Range -> MapInArrow only."""
    df = gen.pages_df(spark, 200, num_partitions=2)
    out = str(tmp_path / "crawl")
    warc.write_warc(df, out).collect()
    plan = warc.read_warc(spark, out)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
