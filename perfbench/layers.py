"""The traced run (``--trace 1``): per-layer metrics, measured from the
benchmark's own files around calls into each layer.

- engine / manifest: noop-sink Spark jobs that split the write job
  into scan, JVM<->Python crossing, encode and sink.
- worker task: ``engine.make_encode_fn()`` / ``engine.decode_fn``
  replayed in this process on one task's share of the input, once
  untraced (rates, overhead base) and once traced (spans).
- stripe, codecs, orcfile, warc, pipeline.extract: spans from the
  traced replays (tracer.py); nothing inside the package changes.

Every workload reports every metric in ``PER_LAYER``; a layer the
workload does not run reports 0.
"""

from __future__ import annotations

import io
import json
import os
import statistics
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.tracer import Tracer
from perfbench.workloads import checksums

PAGES_COLS = ["url", "warc_ts", "html", "text", "lang"]
LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"]
PROJECTION = ["url", "warc_ts", "lang"]
ORC_REPLAY_ROWS = 131_072
WARC_REPLAY_PAGES = 8_000
FLUSH_ROWS = 8192  # write_pages_parquet's default row_group_rows

# per-layer metric -> the span whose summed (inclusive) time it reports
_SPAN_METRICS = {
    "codecs.selector.choose_string_codec_s":
        "codecs.selector.choose_string_codec",
    "codecs.selector.choose_float_codec_s":
        "codecs.selector.choose_float_codec",
    "codecs.fsst.train_s": "codecs.fsst.train",
    "codecs.fsst.compress_s": "codecs.fsst.compress",
    "codecs.fsst.decompress_s": "codecs.fsst.decompress",
    "codecs.block.decompress_s": "codecs.block.decompress",
    "codecs.rle2.encode_s": "codecs.rle2.encode",
    "codecs.rle2.decode_s": "codecs.rle2.decode",
    "codecs.alp.encode_s": "codecs.alp.encode",
    "codecs.alp.decode_s": "codecs.alp.decode",
    "codecs.floats.encode_s": "codecs.floats.encode",
    "codecs.floats.decode_s": "codecs.floats.decode",
    "codecs.strings.dictionary_encode_sorted_s":
        "codecs.strings.dictionary_encode_sorted",
    "codecs.strings.front_code_s": "codecs.strings.front_code",
    "orcfile.write_orc_s": "orcfile.write_orc",
    "orcfile.read_stripe_s": "orcfile.read_stripe",
    "orcfile.compress_stream_s": "orcfile.compress_stream",
    "orcfile.decompress_stream_s": "orcfile.decompress_stream",
    "warc.iter_warc_file_s": "warc.iter_warc_file",
    "pipeline.extract.main_content_batch_s":
        "pipeline.extract.main_content_batch",
}

PER_LAYER: list[tuple[str, str]] = [
    ("setup.spark_session_s", "s"), ("setup.inputs_s", "s"),
    ("setup.warmup_s", "s"), ("env.cores", "count"), ("env.seed", "count"),
    ("host.canary_s", "s"), ("codecs.native_loaded", "bool"),
    ("codecs.native_build_s", "s"), ("failed_frac", "fraction"),
    ("op.proj_decode_krows_s", "krows/s"), ("op.orc_write_mb_s", "MB/s"),
    ("op.orc_read_mb_s", "MB/s"), ("op.ingest_docs_s", "docs/s"),
    ("size_vs_pyarrow_orc", "ratio"), ("orc_vs_pyarrow_orc", "ratio"),
    ("engine.scan_s", "s"), ("engine.cross_s", "s"),
    ("engine.encode_noop_s", "s"), ("manifest.sink_s", "s"),
    ("engine.tasks", "count"), ("engine.stripes", "count"),
    ("engine.stripes_per_task_max", "count"),
    ("engine.parallel_efficiency.encode", "ratio"),
    ("engine.parallel_efficiency.decode", "ratio"),
    ("task.encode_mb_s", "MB/s"), ("task.decode_mb_s", "MB/s"),
    ("task.ingest_docs_s", "docs/s"),
    ("engine.encode_fn.self_s", "s"), ("engine.decode_fn.self_s", "s"),
    ("trace.coverage.encode", "ratio"), ("trace.coverage.decode", "ratio"),
    ("trace.coverage.ingest", "ratio"), ("trace.overhead_frac", "fraction"),
    ("stripe.encode_stripe_s", "s"), ("stripe.encode_stripe.self_s", "s"),
    ("stripe.decode_stripe_s", "s"), ("stripe.footer_bytes", "bytes"),
    ("stripe.encode_ms.p50", "ms"), ("stripe.encode_ms.p_hi", "ms"),
    ("stripe.encode_ms.p_hi_pct", "%"), ("stripe.encode_ms.n", "count"),
    *[(f"stripe.{kind}.{c}", unit)
      for c in PAGES_COLS + LINEITEM_COLS
      for kind, unit in (("encode_column_s", "s"),
                         ("decode_column_s", "s"),
                         ("enc_bytes", "bytes"))],
    ("codecs.block.compress.payload_s", "s"),
    ("codecs.block.compress.trial_s", "s"),
    ("codecs.block.kept_frac", "fraction"),
    ("codecs.cache_hit_frac", "fraction"),
    *[(name, "s") for name in _SPAN_METRICS],
    ("pipeline.extract.fallback_frac", "fraction"),
]


def _identity(batches):
    yield from batches


def _median_s(fn, n: int = 2) -> float:
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def _percentiles(ms: list[float]) -> dict:
    """p50 and the highest percentile with at least 10 samples beyond
    it (p50 again when there are too few samples for one)."""
    ms = sorted(ms)
    n = len(ms)
    if not n:
        return {"p50": 0.0, "p_hi": 0.0, "pct": 0.0, "n": 0}
    p50 = statistics.median(ms)
    if n <= 20:
        return {"p50": p50, "p_hi": p50, "pct": 50.0, "n": n}
    pct = 100.0 * (n - 10) / n
    return {"p50": p50, "p_hi": ms[n - 11], "pct": pct, "n": n}


def patch_layers(tr: Tracer) -> list[int]:
    """Wrap the public functions of every traced layer. Returns the
    codec-verdict cache counters [stripes probed, hits] that the
    encode_stripe wrapper fills in."""
    from orc_haskell_spark import stripe, warc
    from orc_haskell_spark.codecs import (alp, block, floats, fsst, rle2,
                                          selector, strings)
    from orc_haskell_spark.orcfile import compression, reader, writer
    from orc_haskell_spark.pipeline import extract

    meta_names: dict[int, str] = {}

    def remember_columns(footer, *a, **k):
        for col in footer["columns"]:
            meta_names[id(col["meta"])] = col["name"]

    probe, counts = _cache_probe()
    tr.patch(stripe, "encode_stripe", "stripe.encode_stripe", pre=probe)
    tr.patch(stripe, "decode_stripe", "stripe.decode_stripe",
             pre=remember_columns)
    tr.patch(stripe, "encode_column", "",
             name_fn=lambda name, *a, **k: f"stripe.encode_column.{name}")
    tr.patch(stripe, "decode_column", "",
             name_fn=lambda meta, *a, **k:
             f"stripe.decode_column.{meta_names.get(id(meta), '?')}")
    tr.patch(selector, "choose_string_codec",
             "codecs.selector.choose_string_codec")
    tr.patch(selector, "choose_float_codec",
             "codecs.selector.choose_float_codec")
    for fn in ("train", "compress", "decompress"):
        tr.patch(fsst, fn, f"codecs.fsst.{fn}")
    tr.patch(block, "compress", "codecs.block.compress",
             nbytes_fn=lambda data, *a, **k: len(data))
    tr.patch(block, "decompress", "codecs.block.decompress")
    tr.patch(rle2, "encode", "codecs.rle2.encode")
    tr.patch(rle2, "decode", "codecs.rle2.decode")
    for fn in ("encode", "rd_encode"):
        tr.patch(alp, fn, "codecs.alp.encode")
    for fn in ("decode", "rd_decode"):
        tr.patch(alp, fn, "codecs.alp.decode")
    tr.patch(floats, "bss_encode", "codecs.floats.encode")
    tr.patch(floats, "bss_decode", "codecs.floats.decode")
    for fn in ("dictionary_encode_sorted", "front_code"):
        tr.patch(strings, fn, f"codecs.strings.{fn}")
    tr.patch(writer, "write_orc", "orcfile.write_orc")
    tr.patch(reader.ORCFile, "read_stripe", "orcfile.read_stripe")
    for fn in ("compress_stream", "compress_stream_offsets"):
        tr.patch(compression, fn, "orcfile.compress_stream")
    tr.patch(compression, "decompress_stream", "orcfile.decompress_stream")
    tr.patch(warc, "iter_warc_file", "warc.iter_warc_file")
    tr.patch(extract, "main_content_batch",
             "pipeline.extract.main_content_batch")
    tr.patch(extract, "main_content", "pipeline.extract.main_content")
    return counts


def _cache_probe():
    """Before each encode_stripe: does the task cache already hold a
    codec verdict for one of the stripe's string or float columns?"""
    counts = [0, 0]  # [stripes with a verdict column, hits]

    def probe(batch, cfg=None, cache=None):
        names = [f.name for f in batch.schema
                 if pa.types.is_floating(f.type) or pa.types.is_string(f.type)
                 or pa.types.is_large_string(f.type)
                 or pa.types.is_binary(f.type)]
        if not names:
            return
        counts[0] += 1
        if cache and any((kind, n) in cache for n in names
                         for kind in ("strchoice", "floatchoice")):
            counts[1] += 1
    return probe, counts


# ------------------------------------------------------------ replays

def _share_batches(wl, b) -> list[pa.RecordBatch]:
    """One Spark task's share of the input: the first
    ceil(splits / cores) row groups, as the fused scan reads them."""
    files = sorted(os.listdir(b.path("in")))
    splits = [(f, rg) for f in files
              for rg in range(pq.ParquetFile(b.path("in", f))
                              .metadata.num_row_groups)]
    share = splits[:-(-len(splits) // b.cores)]
    out = []
    for f, rg in share:
        pf = pq.ParquetFile(b.path("in", f))
        out.extend(pf.iter_batches(batch_size=16384, row_groups=[rg],
                                   use_threads=False))
    return out


def _stripe_replay(wl, b, m: dict) -> None:
    from orc_haskell_spark import engine

    batches = _share_batches(wl, b)
    raw = sum(x.nbytes for x in batches)
    small = pq.read_table(b.path("small_in")).to_batches()  # first calls
    list(engine.decode_fn(iter(list(engine.make_encode_fn()(iter(small))))))

    # untraced and traced replays alternate, twice each; the median of
    # each pair feeds the rates and the overhead
    tr = b.tracer
    enc_s, dec_s, enc_t_s, dec_t_s = [], [], [], []
    for _ in range(2):
        t0 = time.perf_counter()
        enc = list(engine.make_encode_fn()(iter(batches)))
        enc_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        dec = list(engine.decode_fn(iter(enc)))
        dec_s.append(time.perf_counter() - t0)
        b.check("replay.rows", sum(x.num_rows for x in dec)
                == sum(x.num_rows for x in batches))

        cache_counts = patch_layers(tr)
        mark = tr.mark()
        t0 = time.perf_counter()
        enc_t = list(tr.traced_iter("engine.encode_fn",
                                    engine.make_encode_fn()(iter(batches))))
        enc_t_s.append(time.perf_counter() - t0)
        mark_d = tr.mark()
        t0 = time.perf_counter()
        list(tr.traced_iter("engine.decode_fn",
                            engine.decode_fn(iter(enc_t))))
        dec_t_s.append(time.perf_counter() - t0)
        tr.unpatch()
    m["task.encode_mb_s"] = raw / 1e6 / statistics.median(enc_s)
    m["task.decode_mb_s"] = raw / 1e6 / statistics.median(dec_s)
    m["trace.overhead_frac"] = (statistics.median(enc_t_s)
                                / statistics.median(enc_s) - 1)
    # the spans of the last traced pair give the layer times
    s_enc = tr.summary(mark, mark_d)
    s_dec = tr.summary(mark_d)
    m["trace.coverage.encode"] = (sum(tr.self_times(mark, mark_d))
                                  / enc_t_s[-1])
    m["trace.coverage.decode"] = sum(tr.self_times(mark_d)) / dec_t_s[-1]

    def tot(s, name, key="total_s"):
        return s.get(name, {}).get(key, 0.0)

    m["engine.encode_fn.self_s"] = tot(s_enc, "engine.encode_fn", "self_s")
    m["engine.decode_fn.self_s"] = tot(s_dec, "engine.decode_fn", "self_s")
    m["stripe.encode_stripe_s"] = tot(s_enc, "stripe.encode_stripe")
    m["stripe.encode_stripe.self_s"] = tot(s_enc, "stripe.encode_stripe",
                                           "self_s")
    m["stripe.decode_stripe_s"] = tot(s_dec, "stripe.decode_stripe")
    pct = _percentiles([d * 1e3 for d in
                        tr.durations("stripe.encode_stripe", mark, mark_d)])
    m["stripe.encode_ms.p50"] = pct["p50"]
    m["stripe.encode_ms.p_hi"] = pct["p_hi"]
    m["stripe.encode_ms.p_hi_pct"] = pct["pct"]
    m["stripe.encode_ms.n"] = pct["n"]
    for c in wl.cols:
        m[f"stripe.encode_column_s.{c}"] = tot(s_enc,
                                               f"stripe.encode_column.{c}")
        m[f"stripe.decode_column_s.{c}"] = tot(s_dec,
                                               f"stripe.decode_column.{c}")
    fjson = [f for x in enc for f in x.column("footer").to_pylist()]
    m["stripe.footer_bytes"] = sum(len(f) for f in fjson)
    footers = [json.loads(f) for f in fjson]
    for c in wl.cols:
        m[f"stripe.enc_bytes.{c}"] = sum(
            e["l"] for ft in footers for col in ft["columns"]
            if col["name"] == c for e in col["streams"])

    for metric, span in _SPAN_METRICS.items():
        if span.startswith("codecs."):
            m[metric] = tot(s_enc, span) + tot(s_dec, span)
    payload = trial = 0.0
    kept = total = 0
    for s in tr.spans[mark:mark_d]:
        if s[0] != "codecs.block.compress":
            continue
        total += s[4]
        if tr.parent_name(s) == "stripe.encode_stripe":
            payload += s[3] - s[2]
            kept += s[4]
        else:
            trial += s[3] - s[2]
    m["codecs.block.compress.payload_s"] = payload
    m["codecs.block.compress.trial_s"] = trial
    m["codecs.block.kept_frac"] = kept / total if total else 0.0
    probed, hits = cache_counts
    m["codecs.cache_hit_frac"] = hits / probed if probed else 0.0


def _orc_replay(wl, b, m: dict) -> None:
    from orc_haskell_spark.orcfile import reader, writer

    table = wl.source.slice(0, ORC_REPLAY_ROWS)
    tr = b.tracer
    patch_layers(tr)
    mark = tr.mark()
    buf = io.BytesIO()
    writer.write_orc(table, buf, compression="ZSTD")
    f = reader.ORCFile(buf.getvalue())
    back = pa.Table.from_batches([f.read_stripe(i)
                                  for i in range(len(f.stripes))])
    tr.unpatch()
    # ORC TIMESTAMP reads back as ns: compare in the source types
    b.check("orc_replay.equal", back.cast(table.schema).equals(table))
    s = tr.summary(mark)
    for metric, span in _SPAN_METRICS.items():
        if span.startswith("orcfile."):
            m[metric] = s.get(span, {}).get("total_s", 0.0)


def _warc_replay(wl, b, m: dict) -> None:
    """The ingest sink's worker loop without Spark: stream records from
    the WARC files, extract main content per FLUSH_ROWS batch."""
    from orc_haskell_spark import warc
    from orc_haskell_spark.pipeline import extract

    src = wl.source.slice(0, WARC_REPLAY_PAGES)
    wdir = b.path("warc")
    inputs.write_warc_files(src, wdir, 2)
    keep = src.filter(src.column("html").is_valid())
    expected = dict(zip(keep.column("url").to_pylist(),
                        extract.main_content_batch(
                            keep.column("html").to_pylist())))
    files = [os.path.join(wdir, f) for f in sorted(os.listdir(wdir))]

    def ingest() -> dict:
        got: dict = {}
        urls, html = [], []

        def flush():
            got.update(zip(urls, extract.main_content_batch(html)))
            urls.clear()
            html.clear()

        for f in files:
            for url, _ts, st, _ct, h in warc.iter_warc_file(f):
                if st is None or not 200 <= st <= 299:
                    continue
                urls.append(url)
                html.append(h)
                if len(urls) >= FLUSH_ROWS:
                    flush()
        flush()
        return got

    t0 = time.perf_counter()
    got = ingest()
    m["task.ingest_docs_s"] = len(got) / (time.perf_counter() - t0)
    b.check("warc_replay.text", got == expected)
    tr = b.tracer
    patch_layers(tr)
    mark = tr.mark()
    t0 = time.perf_counter()
    ingest()
    wall = time.perf_counter() - t0
    tr.unpatch()
    s = tr.summary(mark)
    m["trace.coverage.ingest"] = sum(tr.self_times(mark)) / wall
    for metric in ("warc.iter_warc_file_s",
                   "pipeline.extract.main_content_batch_s"):
        m[metric] = s.get(_SPAN_METRICS[metric], {}).get("total_s", 0.0)
    m["pipeline.extract.fallback_frac"] = s.get(
        "pipeline.extract.main_content", {}).get("n", 0) / len(expected)

    def spark_ingest():
        out = b.path(f"ingest{time.perf_counter_ns()}")
        rows = warc.write_pages_parquet(b.spark, wdir, out,
                                        num_partitions=b.cores).collect()
        t = pq.read_table(out, columns=["url", "text"])
        b.check("ingest.text", sum(r.n_rows for r in rows) == len(expected)
                and dict(zip(t.column("url").to_pylist(),
                             t.column("text").to_pylist())) == expected)

    spark_ingest()  # warm: first WARC job of the session
    m["op.ingest_docs_s"] = len(expected) / _median_s(spark_ingest)


# ----------------------------------------------------------- Spark jobs

def _engine_jobs(wl, b, samples: dict, m: dict) -> None:
    from orc_haskell_spark import engine

    spark = b.spark
    src = spark.read.parquet(b.path("in"))
    m["engine.scan_s"] = _median_s(lambda: b.noop(src))
    m["engine.cross_s"] = _median_s(
        lambda: b.noop(src.mapInArrow(_identity, src.schema)))
    m["engine.encode_noop_s"] = _median_s(lambda: b.noop(
        engine.encode_parquet(spark, b.path("in"), num_partitions=b.cores)))
    write_s = statistics.median(samples["write"])
    m["manifest.sink_s"] = write_s - m["engine.encode_noop_s"]
    stats = wl.encoded_stats(wl.out)
    key = "task_key" if "task_key" in stats.column_names else "part_id"
    per_task = stats.group_by(key).aggregate([("n_rows", "count")])
    m["engine.tasks"] = per_task.num_rows
    m["engine.stripes"] = stats.num_rows
    m["engine.stripes_per_task_max"] = max(
        per_task.column("n_rows_count").to_pylist())
    mb = wl.raw / 1e6
    m["engine.parallel_efficiency.encode"] = (
        mb / write_s / (b.cores * m["task.encode_mb_s"]))
    m["engine.parallel_efficiency.decode"] = (
        mb / statistics.median(samples["read"])
        / (b.cores * m["task.decode_mb_s"]))

    import pyarrow.orc as paorc

    sink = io.BytesIO()
    paorc.write_table(wl.source, sink, compression="zstd")
    m["size_vs_pyarrow_orc"] = sink.tell() / wl.enc_bytes
    wl.pyarrow_orc_bytes = sink.tell()


def _projection_jobs(wl, b, m: dict) -> None:
    df = lambda: wl.decode_df(b, wl.out, PROJECTION)  # noqa: E731
    m["op.proj_decode_krows_s"] = wl.rows / 1e3 / _median_s(
        lambda: b.noop(df()))
    want = [wl.ref[0]] + [wl.ref[1 + wl.cols.index(c)] for c in PROJECTION]
    b.check("proj.checksums", checksums(df(), PROJECTION) == want)


def _orc_jobs(wl, b, m: dict) -> None:
    from orc_haskell_spark.orcfile.spark_source import (
        parquet_to_orc, read_orc_distributed)

    outs = []

    def write():
        out = b.path(f"orc{len(outs)}")
        rows = parquet_to_orc(b.spark, b.path("in"), out,
                              num_partitions=b.cores).collect()
        outs.append((out, sum(r.orc_bytes for r in rows),
                     sum(r.rows for r in rows)))

    m["op.orc_write_mb_s"] = wl.raw / 1e6 / _median_s(write)
    out, orc_bytes, rows = outs[-1]
    b.check("orc.rows", rows == wl.rows)
    m["orc_vs_pyarrow_orc"] = wl.pyarrow_orc_bytes / orc_bytes
    m["op.orc_read_mb_s"] = wl.raw / 1e6 / _median_s(
        lambda: b.noop(read_orc_distributed(b.spark, out)))
    b.check("orc.checksums",
            checksums(read_orc_distributed(b.spark, out), wl.cols) == wl.ref)


def native_build_s(b) -> float:
    """Build the C kernels into an empty cache directory,
    in a fresh interpreter."""
    env = dict(os.environ, ORC_HS_NATIVE_DIR=b.path("native-build"))
    t0 = time.perf_counter()
    subprocess.run([sys.executable, "-c",
                    "from orc_haskell_spark.codecs import native\n"
                    "assert native.load() is not None"],
                   check=True, env=env)
    return time.perf_counter() - t0


def per_layer(b, wl, samples: dict) -> dict:
    """Each section is one operation: a raise counts as failed and
    leaves that section's metrics at 0."""
    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    b.tracer = Tracer()
    b.attempt("task replay", _stripe_replay, wl, b, m)
    b.attempt("engine jobs", _engine_jobs, wl, b, samples, m)
    if wl.name == "pages":
        b.attempt("projected decode", _projection_jobs, wl, b, m)
        b.attempt("warc replay", _warc_replay, wl, b, m)
    if wl.name == "lineitem":
        b.attempt("orc replay", _orc_replay, wl, b, m)
        b.attempt("orc jobs", _orc_jobs, wl, b, m)
    m["codecs.native_build_s"] = b.attempt("native build",
                                           native_build_s, b) or 0.0
    trace_dir = os.path.join(os.path.dirname(b.work), "traces")
    os.makedirs(trace_dir, exist_ok=True)
    b.tracer.dump(os.path.join(trace_dir, f"{wl.name}.jsonl"))
    units = dict(PER_LAYER)
    return {k: (v, units[k]) for k, v in m.items()}
