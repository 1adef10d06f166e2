"""End-to-end Spark engine: distributed encode -> decode, bit-identical.

The minimum end-to-end slice from SURVEY.md §7.2 step 3, plus resume
(reference analog: StripeInformation offsets let a reader resume
mid-file; at cluster scale that's the manifest table).
"""

from __future__ import annotations

import re

import pytest

from orc_haskell_spark import engine, gen, manifest

PAGES_N = 4000


def _assert_same_rows(df_a, df_b, key):
    """Order-insensitive full-row comparison via exceptAll both ways."""
    assert df_a.count() == df_b.count()
    assert df_a.exceptAll(df_b).count() == 0
    assert df_b.exceptAll(df_a).count() == 0


def test_pages_roundtrip_e2e(spark):
    df = gen.pages_df(spark, PAGES_N, num_partitions=4)
    enc = engine.encode_table(df, stripe_rows=1000, partition_on="url",
                              num_partitions=4)
    enc.cache()
    stripes = enc.count()
    assert stripes >= 4
    dec = engine.decode_table(enc, df.schema)
    _assert_same_rows(df, dec, "url")
    # per-row invariant: byte-identical text per url (north rule)
    from pyspark.sql import functions as F

    joined = (df.select("url", F.col("text").alias("t0"))
              .join(dec.select("url", F.col("text").alias("t1")), "url"))
    assert joined.count() == PAGES_N
    assert joined.filter(F.col("t0") != F.col("t1")).count() == 0
    enc.unpersist()


def test_pages_compression_wins(spark):
    df = gen.pages_df(spark, PAGES_N, num_partitions=2)
    enc = engine.encode_table(df, stripe_rows=2000)
    from pyspark.sql import functions as F

    row = enc.agg(F.sum("raw_bytes").alias("raw"),
                  F.sum("enc_bytes").alias("enc")).collect()[0]
    assert row.enc < row.raw * 0.5, (row.raw, row.enc)


def test_real_table_roundtrip_e2e(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    enc = engine.encode_table(df, stripe_rows=2048)
    dec = engine.decode_table(enc, df.schema)
    _assert_same_rows(df, dec, "l_orderkey")


def test_stripe_byte_budget(spark):
    # tiny byte budget must split stripes even below stripe_rows
    df = gen.pages_df(spark, 2000, num_partitions=1)
    enc = engine.encode_table(df, stripe_rows=100000, stripe_bytes=1 << 20)
    sizes = [r.n_rows for r in enc.select("n_rows").collect()]
    assert len(sizes) > 1
    dec = engine.decode_table(enc, df.schema)
    assert dec.count() == 2000


def test_manifest_resume(spark, tmp_path):
    path = str(tmp_path / "enc")
    df = gen.pages_df(spark, 3000, num_partitions=3)
    from pyspark.sql import functions as F

    # simulate an interrupted run: first encode only parts {0,1} worth of rows
    part = F.pmod(F.xxhash64("url"), F.lit(8)).cast("int")
    first = df.filter(part < 2)
    r1 = manifest.encode_to_dir(first, path, partition_key="url",
                                num_partitions=8, stripe_rows=500,
                                source="pages-gen")
    assert r1["parts_encoded"] == 2

    # resume with the full input: only the missing 6 parts are encoded
    r2 = manifest.encode_to_dir(df, path, partition_key="url",
                                num_partitions=8, stripe_rows=500,
                                source="pages-gen")
    assert r2["parts_done_before"] == 2
    assert r2["parts_encoded"] == 6

    # decoded union must equal the full input exactly
    enc = manifest.read_encoded(spark, path)
    dec = engine.decode_table(enc.drop("part_id"), df.schema)
    _assert_same_rows(df, dec, "url")

    # third run: nothing left to do
    r3 = manifest.encode_to_dir(df, path, partition_key="url",
                                num_partitions=8, stripe_rows=500,
                                source="pages-gen")
    assert r3["parts_encoded"] == 0

    # manifest metrics are queryable
    m = manifest.metrics(spark, path)
    assert m.count() == 8
    assert m.agg(F.sum("rows")).collect()[0][0] == 3000



def test_manifest_resume_refuses_corrupt_manifest(spark, tmp_path):
    """encode_to_dir reads its ledger on the driver: a corrupt manifest
    part raises naming the directory before any Spark job runs, instead
    of reading as "nothing done" and re-appending every part's rows."""
    path = str(tmp_path / "enc")
    df = gen.pages_df(spark, 1000, num_partitions=2)
    r1 = manifest.encode_to_dir(df, path, partition_key="url",
                                num_partitions=4, stripe_rows=500)
    assert r1["parts_encoded"] == 4
    mdir = tmp_path / "enc" / "manifest"
    (mdir / "part-99999-corrupt.parquet").write_bytes(b"not parquet")

    def resume():
        with pytest.raises(ValueError, match=re.escape(str(mdir))):
            manifest.encode_to_dir(df, path, partition_key="url",
                                   num_partitions=4, stripe_rows=500)

    _, n_jobs = _jobs(spark, "corrupt-manifest-resume", resume)
    assert n_jobs == 0


def test_gen_deterministic_across_partitionings(spark):
    a = gen.pages_df(spark, 1000, num_partitions=1)
    b = gen.pages_df(spark, 1000, num_partitions=7)
    _assert_same_rows(a, b, "url")


def test_zone_map_pruning_and_projected_decode(spark):
    """Stripe skipping via footer zone maps (pure Catalyst filter) +
    byte-level projected decode: results equal the unpruned scan."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet").orderBy("l_orderkey")
    enc = engine.encode_table(df.coalesce(1), stripe_rows=1000).cache()
    total = enc.count()
    pruned = engine.prune_stripes(enc, "l_orderkey", 50, 300)
    assert 0 < pruned.count() < total  # actually skipped stripes
    dec = engine.decode_table(pruned, df.schema,
                              columns=["l_orderkey", "l_quantity"])
    assert dec.columns == ["l_orderkey", "l_quantity"]
    got = (dec.filter(F.col("l_orderkey").between(50, 300))
           .agg(F.count("*").alias("c"),
                F.round(F.sum("l_quantity"), 2).alias("s")).collect()[0])
    exp = (df.filter(F.col("l_orderkey").between(50, 300))
           .agg(F.count("*").alias("c"),
                F.round(F.sum("l_quantity"), 2).alias("s")).collect()[0])
    assert (got.c, got.s) == (exp.c, exp.s)
    enc.unpersist()


def test_zone_map_string_and_missing_stats(spark):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").orderBy("lang")
    enc = engine.encode_table(docs.coalesce(1), stripe_rows=128).cache()
    total = enc.count()
    kept = engine.prune_stripes(enc, "lang", "fr", "fr", numeric=False)
    assert 0 < kept.count() < total
    # decoded pruned stripes still contain every 'fr' row
    dec = engine.decode_table(kept, docs.schema, columns=["lang", "doc_id"])
    assert (dec.filter(F.col("lang") == "fr").count()
            == docs.filter(F.col("lang") == "fr").count())
    # pruning on a column with no stats keeps everything (never wrong)
    assert engine.prune_stripes(enc, "nonexistent", 0, 1).count() == total
    enc.unpersist()


def test_encode_parquet_fused_roundtrip(spark, tmp_path):
    """Fused Python-side scan+encode (encode_parquet) must produce
    stripes that decode bit-identical to the source table, with zero
    payload bytes crossing the JVM (only split metadata in the plan's
    input)."""
    from pyspark.sql import functions as F

    df = gen.pages_df(spark, PAGES_N, num_partitions=4)
    p = str(tmp_path / "pages_pq")
    df.write.parquet(p)
    src = spark.read.parquet(p)
    enc = engine.encode_parquet(spark, p, stripe_rows=1000,
                                num_partitions=4)
    enc.cache()
    assert enc.count() >= 4
    dec = engine.decode_table(enc, src.schema)
    _assert_same_rows(src, dec, "url")
    joined = (src.select("url", F.col("text").alias("t0"))
              .join(dec.select("url", F.col("text").alias("t1")), "url"))
    assert joined.filter(F.col("t0") != F.col("t1")).count() == 0
    enc.unpersist()


def test_encode_parquet_column_projection(spark, tmp_path):
    """`columns` projects at the parquet column-chunk level: encoded
    stripes carry only those columns and raw_bytes shrink accordingly
    (html/text never read for a url+lang encode)."""
    df = gen.pages_df(spark, 2000, num_partitions=2)
    p = str(tmp_path / "pages_pq")
    df.write.parquet(p)
    full = engine.encode_parquet(spark, p, num_partitions=2)
    slim = engine.encode_parquet(spark, p, columns=["url", "lang"],
                                 num_partitions=2)
    from pyspark.sql import functions as F

    fb = full.agg(F.sum("raw_bytes")).collect()[0][0]
    sb = slim.agg(F.sum("raw_bytes")).collect()[0][0]
    assert sb < fb / 5
    from pyspark.sql.types import StructType

    sub = StructType([df.schema["url"], df.schema["lang"]])
    dec = engine.decode_table(slim, sub)
    assert dec.columns == ["url", "lang"]
    assert dec.count() == 2000


def test_encode_parquet_rowgroup_pruning(spark, tmp_path):
    """`ranges` prunes row groups on parquet footer stats before any
    data IO: a selective predicate over a sorted column must encode
    strictly fewer rows, and every surviving source row must be there."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "sorted.parquet")
    t = pa.table({"k": list(range(10000)),
                  "v": [f"row{i}" for i in range(10000)]})
    pq.write_table(t, p, row_group_size=1000)  # 10 row groups, k-sorted
    enc = engine.encode_parquet(spark, p, ranges=[("k", 2500, 3500)],
                                num_partitions=2)
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", LongType()),
                         StructField("v", StringType())])
    dec = engine.decode_table(enc, schema).cache()
    n = dec.count()
    assert 1001 <= n <= 3000  # 2 or 3 row groups of 1000, never all 10
    assert dec.filter((F.col("k") >= 2500) & (F.col("k") <= 3500)) \
        .count() == 1001
    # unknown column / no-stats ranges keep everything (never wrong)
    enc_all = engine.encode_parquet(spark, p, ranges=[("nope", 1, 2)],
                                    num_partitions=2)
    assert engine.decode_table(enc_all, schema).count() == 10000
    dec.unpersist()


def test_parquet_splits_df_distributes_rowgroups(spark, tmp_path):
    """Splits are row groups spread round-robin: one big file must not
    pin all its row groups to one task."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "big.parquet")
    pq.write_table(pa.table({"x": list(range(8000))}), p,
                   row_group_size=1000)
    from orc_haskell_spark import sources

    splits = sources.parquet_splits_df(spark, p, num_partitions=4)
    rows = splits.collect()
    assert len(rows) == 8
    assert sorted(r.rg for r in rows) == list(range(8))
    assert all(r.nrows == 1000 for r in rows)
    import pyspark.sql.functions as F

    per_part = splits.withColumn("pid", F.spark_partition_id()) \
        .groupBy("pid").count().collect()
    assert max(r["count"] for r in per_part) <= 3


def test_fused_sink_roundtrip_and_resume(spark, tmp_path):
    """encode_parquet_to_dir: zero-crossing fused sink. Round 1 encodes
    everything; the decoded table is bit-identical to the source; a
    re-run resumes (0 splits encoded); an uncommitted orphan part file
    is invisible to readers."""
    import pyarrow.parquet as pq

    df = gen.pages_df(spark, PAGES_N, num_partitions=4)
    src_path = str(tmp_path / "pages_pq")
    df.write.parquet(src_path)
    out = str(tmp_path / "encoded")

    r1 = manifest.encode_parquet_to_dir(spark, src_path, out,
                                        stripe_rows=1000,
                                        num_partitions=4, source="t1")
    assert r1["splits_done_before"] == 0
    assert r1["splits_encoded"] == r1["splits_total"] > 0

    src = spark.read.parquet(src_path)
    enc = manifest.read_fused_encoded(spark, out)
    dec = engine.decode_table(enc, src.schema)
    _assert_same_rows(src, dec, "url")

    # resume: nothing left to do, nothing re-encoded
    r2 = manifest.encode_parquet_to_dir(spark, src_path, out,
                                        stripe_rows=1000,
                                        num_partitions=4, source="t2")
    assert r2["splits_done_before"] == r1["splits_total"]
    assert r2["splits_encoded"] == 0

    # an orphaned (uncommitted) part file must be invisible
    stripes_dir = tmp_path / "encoded" / "stripes"
    committed = sorted(stripes_dir.glob("part-*.parquet"))
    orphan_tbl = pq.read_table(str(committed[0]))
    orphan = orphan_tbl.set_column(
        orphan_tbl.schema.get_field_index("task_key"), "task_key",
        [["deadbeef"] * orphan_tbl.num_rows])
    pq.write_table(orphan, str(stripes_dir / "part-deadbeef.parquet"))
    n_after = manifest.read_fused_encoded(spark, out).count()
    assert n_after == enc.count()
    assert manifest.read_fused_encoded(spark, out) \
        .join(dec.limit(0), how="cross").count() == 0 or True
    dec2 = engine.decode_table(
        manifest.read_fused_encoded(spark, out), src.schema)
    _assert_same_rows(src, dec2, "url")


def test_fused_sink_partial_resume(spark, tmp_path):
    """Delete some manifest coverage -> only the missing splits are
    re-encoded, and the final dataset is still exactly the source."""
    df = gen.pages_df(spark, 2000, num_partitions=4)
    src_path = str(tmp_path / "pages_pq")
    df.write.parquet(src_path)
    out = str(tmp_path / "encoded")
    manifest.encode_parquet_to_dir(spark, src_path, out,
                                   stripe_rows=500, num_partitions=2)
    m = manifest.read_fused_manifest(spark, out)
    files = [r.file for r in m.select("file").distinct().collect()]
    assert len(files) >= 2
    # rewrite the manifest without one input file's rows (simulates a
    # run that died before finishing that file's splits)
    import shutil as _shutil

    keep_dir = str(tmp_path / "manifest_keep")
    m.filter(m.file != files[0]).write.parquet(keep_dir)
    _shutil.rmtree(str(tmp_path / "encoded" / "manifest"))
    _shutil.move(keep_dir, str(tmp_path / "encoded" / "manifest"))
    r = manifest.encode_parquet_to_dir(spark, src_path, out,
                                       stripe_rows=500, num_partitions=2)
    assert 0 < r["splits_encoded"] < r["splits_total"]
    src = spark.read.parquet(src_path)
    dec = engine.decode_table(
        manifest.read_fused_encoded(spark, out), src.schema)
    _assert_same_rows(src, dec, "url")


def test_fused_sink_resume_rebalances_remaining_splits(spark, tmp_path):
    """A resume packs only the splits still missing: with the manifest
    rows of two of four tasks' splits deleted, the re-encode spreads
    over four byte-balanced tasks instead of re-running the two emptied
    task buckets, and the dataset still decodes to the source."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n = 16 * 500
    src = str(tmp_path / "src.parquet")
    pq.write_table(pa.table({
        "x": pa.array(range(n), pa.int64()),
        "s": pa.array([f"row-{i:08d}" for i in range(n)])}),
        src, row_group_size=500)
    out = str(tmp_path / "enc")
    manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=250,
                                   num_partitions=4)
    mdir = tmp_path / "enc" / "manifest"
    m = pq.read_table(str(mdir))
    keys = sorted(set(m.column("task_key").to_pylist()))
    assert len(keys) == 4
    kept = pa.array(keys[:2])
    shutil.rmtree(mdir)
    mdir.mkdir()
    pq.write_table(m.filter(pc.is_in(m.column("task_key"), kept)),
                   str(mdir / "part-00000-kept.parquet"))

    r = manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=250,
                                       num_partitions=4)
    remaining = r["splits_total"] - r["splits_done_before"]
    assert remaining == 8 and r["splits_encoded"] == remaining
    m2 = pq.read_table(str(mdir))
    new = m2.filter(pc.invert(pc.is_in(m2.column("task_key"), kept)))
    md = pq.ParquetFile(src).metadata
    loads: dict = {}
    for key, rg in set(zip(new.column("task_key").to_pylist(),
                           new.column("rg").to_pylist())):
        loads[key] = loads.get(key, 0) + md.row_group(rg).total_byte_size
    assert len(loads) == min(remaining, 4)
    assert max(loads.values()) < min(loads.values()) * 1.5

    dec = engine.decode_table(manifest.read_fused_encoded(spark, out),
                              spark.read.parquet(src).schema)
    _assert_same_rows(spark.read.parquet(src), dec, "x")


def test_fused_sink_refuses_corrupt_manifest(spark, tmp_path):
    """Only a MISSING manifest directory means a fresh write: an
    unreadable manifest part raises naming the directory instead of
    being read as "nothing done" (which would re-encode everything),
    commits no new stripe part, and stops vacuum from sweeping the
    committed parts as orphans."""
    df = gen.pages_df(spark, 1000, num_partitions=2)
    src = str(tmp_path / "pq")
    df.write.parquet(src)
    out = str(tmp_path / "enc")
    manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=500,
                                   num_partitions=2)
    stripes = tmp_path / "enc" / "stripes"
    parts = sorted(p.name for p in stripes.glob("part-*.parquet"))
    assert parts
    (tmp_path / "enc" / "manifest" / "part-99999-corrupt.parquet") \
        .write_bytes(b"not a parquet file")
    with pytest.raises(ValueError, match="unreadable fused manifest"):
        manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=500,
                                       num_partitions=4)
    with pytest.raises(ValueError, match="unreadable fused manifest"):
        manifest.vacuum_fused(spark, out)
    assert sorted(p.name for p in stripes.glob("part-*.parquet")) == parts


def _jobs(spark, group, run):
    """(run(), number of Spark jobs it launched) via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fused_sink_job_budget(spark, tmp_path):
    """A fresh fused write is ONE Spark job (sink mapInArrow + manifest
    write: no split count, no manifest probe or re-count), and a resume
    with nothing left to encode launches none."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "src.parquet")
    pq.write_table(pa.table({"x": pa.array(range(2000), pa.int64())}),
                   src, row_group_size=500)
    out = str(tmp_path / "enc")

    def write():
        return manifest.encode_parquet_to_dir(spark, src, out,
                                              stripe_rows=250,
                                              num_partitions=2)

    fresh, n_fresh = _jobs(spark, "fused-fresh", write)
    assert n_fresh == 1
    assert fresh["splits_encoded"] == fresh["splits_total"] == 4
    assert all(fresh[k] >= 0 for k in ("plan_s", "encode_s", "commit_s"))
    noop, n_noop = _jobs(spark, "fused-noop", write)
    assert n_noop == 0
    assert noop["splits_done_before"] == 4 and noop["splits_encoded"] == 0


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _sorted_arrow(df, key):
    t = df.toArrow()
    return t.sort_by(key).combine_chunks()


def _typed_source(path, n=6000, row_group_size=1500):
    """Parquet source with int, nullable timestamp, nullable string and
    double columns, several row groups."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(1965, 3, 1)
    pq.write_table(pa.table({
        "k": pa.array(range(n), pa.int64()),
        "ts": pa.array([None if i % 7 == 0 else
                        base + dt.timedelta(seconds=37 * i, microseconds=i)
                        for i in range(n)], pa.timestamp("us")),
        "s": pa.array([None if i % 5 == 0 else f"s{i % 97}-{i}"
                       for i in range(n)]),
        "f": pa.array([i / 7 for i in range(n)], pa.float64())}),
        path, row_group_size=row_group_size)


def _assert_fused_equals_general(enc, schema, key, columns=None):
    """decode_table over a bare encoded scan fuses (no parquet scan in
    the plan) and gives rows bit-identical to the general mapInArrow
    path, forced with a no-op filter."""
    from pyspark.sql import functions as F

    assert engine._encoded_scan_files(enc) is not None
    fused = engine.decode_table(enc, schema, columns)
    general = engine.decode_table(enc.filter(F.lit(True)), schema, columns)
    assert "Scan parquet" not in _physical_plan(fused)
    assert "Scan parquet" in _physical_plan(general)
    assert fused.schema == general.schema
    assert fused.columns == (columns or [f.name for f in schema])
    a, b = _sorted_arrow(fused, key), _sorted_arrow(general, key)
    assert a.num_rows == b.num_rows > 0
    assert a.equals(b)
    return a


def test_fused_decode_matches_general_spark_written(spark, tmp_path):
    """encode_parquet output written by Spark (several stripes per
    parquet row group) decodes through the fused path bit-identically
    to the general path and to the source, with and without a
    byte-level projection in the caller's column order."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "src.parquet")
    _typed_source(src)
    enc_dir = str(tmp_path / "enc")
    engine.encode_parquet(spark, src, stripe_rows=400, num_partitions=2) \
        .write.option("compression", "uncompressed").parquet(enc_dir)
    parts = sorted((tmp_path / "enc").glob("part-*.parquet"))
    md = pq.ParquetFile(str(parts[0])).metadata
    assert md.num_row_groups == 1 and md.row_group(0).num_rows > 1

    enc = spark.read.parquet(enc_dir)
    source = spark.read.parquet(src)
    full = _assert_fused_equals_general(enc, source.schema, "k")
    assert full.equals(_sorted_arrow(source, "k"))
    proj = _assert_fused_equals_general(enc, source.schema, "k",
                                        columns=["ts", "k"])
    assert proj.equals(_sorted_arrow(source.select("ts", "k"), "k"))


def _fused_dir(spark, tmp_path, n=2000, stripe_rows=250):
    src = str(tmp_path / "src.parquet")
    _typed_source(src, n, row_group_size=500)
    out = str(tmp_path / "fused")
    manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=stripe_rows,
                                   num_partitions=2)
    return src, out


def _plant_orphan(tmp_path):
    """Copy a committed stripe part under an unledgered task_key."""
    import pyarrow.parquet as pq

    stripes = tmp_path / "fused" / "stripes"
    t = pq.read_table(str(sorted(stripes.glob("part-*.parquet"))[0]))
    t = t.set_column(t.schema.get_field_index("task_key"), "task_key",
                     [["deadbeef"] * t.num_rows])
    pq.write_table(t, str(stripes / "part-deadbeef.parquet"))


def test_fused_decode_matches_general_fused_sink(spark, tmp_path):
    """read_fused_encoded over a complete ledger is a bare scan of the
    committed parts: its columns are ENCODED_DDL's, decode fuses, the
    rows match the general path and the source, and an orphan part is
    invisible on both paths."""
    src, out = _fused_dir(spark, tmp_path)
    _plant_orphan(tmp_path)
    enc = manifest.read_fused_encoded(spark, out)
    assert enc.columns == ["part_id", "stripe_id", "n_rows", "n_cols",
                           "raw_bytes", "enc_bytes", "footer", "data"]
    assert not any("deadbeef" in f for f in enc.inputFiles())
    source = spark.read.parquet(src)
    full = _assert_fused_equals_general(enc, source.schema, "k")
    assert full.equals(_sorted_arrow(source, "k"))
    _assert_fused_equals_general(enc, source.schema, "k",
                                 columns=["s", "k"])


def test_read_fused_encoded_partial_ledger_falls_back(spark, tmp_path):
    """Manifest rows lost for part of a task's splits (the partial
    resume shape): the task key no longer hashes back from the ledger,
    so read_fused_encoded keeps the exact semi-join — before and after
    the resume — and an orphan part stays invisible."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src, out = _fused_dir(spark, tmp_path)
    mdir = tmp_path / "fused" / "manifest"
    m = pq.read_table(str(mdir))
    key = m.column("task_key")[0].as_py()
    rgs = sorted(set(m.filter(pc.equal(m.column("task_key"), key))
                     .column("rg").to_pylist()))
    assert len(rgs) >= 2
    keep = pc.invert(pc.and_(pc.equal(m.column("task_key"), key),
                             pc.equal(m.column("rg"), rgs[0])))
    shutil.rmtree(mdir)
    mdir.mkdir()
    pq.write_table(m.filter(keep), str(mdir / "part-00000-kept.parquet"))
    _plant_orphan(tmp_path)
    source = spark.read.parquet(src)

    enc = manifest.read_fused_encoded(spark, out)
    assert engine._encoded_scan_files(enc) is None  # semi-join kept
    # the semi-join keys come from the ledger the driver already read:
    # the only scan in the plan is the stripes directory's
    plan = _physical_plan(enc)
    assert plan.count("Scan parquet") == 1
    assert str(mdir) not in plan
    assert engine.decode_table(enc, source.schema).count() \
        == source.count() - 250 * 2  # rg rgs[0]: two 250-row stripes

    r = manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=250,
                                       num_partitions=2)
    assert r["splits_encoded"] == 1
    enc = manifest.read_fused_encoded(spark, out)
    assert engine._encoded_scan_files(enc) is None
    dec = engine.decode_table(enc, source.schema)
    assert _sorted_arrow(dec, "k").equals(_sorted_arrow(source, "k"))


def test_prune_stripes_keeps_general_decode(spark, tmp_path):
    """prune_stripes output is a filter, not a bare scan: decode keeps
    the mapInArrow path and only the surviving stripes decode."""
    from pyspark.sql import functions as F

    src, out = _fused_dir(spark, tmp_path)
    source = spark.read.parquet(src)
    enc = manifest.read_fused_encoded(spark, out)
    pruned = engine.prune_stripes(enc, "k", lo=1000, hi=1249)
    assert engine._encoded_scan_files(pruned) is None
    dec = engine.decode_table(pruned, source.schema)
    assert "Scan parquet" in _physical_plan(dec)
    assert pruned.count() == 1
    assert _sorted_arrow(dec, "k").equals(_sorted_arrow(
        source.filter(F.col("k").between(1000, 1249)), "k"))


def test_read_fused_encoded_ledger_errors(spark, tmp_path):
    """A corrupt manifest part raises the writer's "unreadable fused
    manifest" ValueError when read_fused_encoded is called, and a
    missing manifest raises a ValueError naming the directory."""
    import shutil

    _, out = _fused_dir(spark, tmp_path, n=1000, stripe_rows=500)
    mdir = tmp_path / "fused" / "manifest"
    (mdir / "part-99999-corrupt.parquet").write_bytes(b"not parquet")
    with pytest.raises(ValueError, match="unreadable fused manifest"):
        manifest.read_fused_encoded(spark, out)
    shutil.rmtree(mdir)
    with pytest.raises(ValueError, match=re.escape(
            f"no fused manifest under {out!r}")):
        manifest.read_fused_encoded(spark, out)


def test_fused_read_job_budget(spark, tmp_path):
    """decode_table(read_fused_encoded(...)) to the noop sink is ONE
    Spark job: no ledger semi-join, no JVM parquet scan — Range feeds
    the decoding mapInArrow, with min(defaultParallelism, splits)
    partitions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dp = spark.sparkContext.defaultParallelism
    for n_stripes in (2 * dp, 2):
        src = str(tmp_path / f"src{n_stripes}.parquet")
        pq.write_table(pa.table({"x": pa.array(range(250 * n_stripes),
                                               pa.int64())}),
                       src, row_group_size=250)
        out = str(tmp_path / f"enc{n_stripes}")
        manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=250,
                                       num_partitions=2)
        schema = spark.read.parquet(src).schema

        def read():
            dec = engine.decode_table(
                manifest.read_fused_encoded(spark, out), schema)
            dec.write.format("noop").mode("overwrite").save()
            return dec

        dec, n_jobs = _jobs(spark, f"fused-read-{n_stripes}", read)
        assert n_jobs == 1
        plan = _physical_plan(dec)
        assert "Range" in plan and "MapInArrow" in plan
        assert plan.index("Range") > plan.index("MapInArrow")  # child
        for node in ("Scan parquet", "BroadcastExchange", "Exchange"):
            assert node not in plan
        assert dec.rdd.getNumPartitions() == min(dp, n_stripes)
        assert dec.count() == 250 * n_stripes


def test_decode_parquet_to_dir_transcode(spark, tmp_path):
    """Fused decode export: encoded stripes -> plain parquet written by
    the workers; output equals the source; column projection and
    zone-map pruning apply before payload decode; re-run idempotent."""
    df = gen.pages_df(spark, 2000, num_partitions=2)
    src_path = str(tmp_path / "pages_pq")
    df.write.parquet(src_path)
    enc_path = str(tmp_path / "enc")
    engine.encode_parquet(spark, src_path, stripe_rows=500,
                          num_partitions=2) \
        .write.option("compression", "uncompressed").parquet(enc_path)
    out = str(tmp_path / "decoded")
    summary = engine.decode_parquet_to_dir(spark, enc_path, out,
                                           num_partitions=2).collect()
    assert sum(r.n_rows for r in summary) == 2000
    back = spark.read.parquet(out)
    src = spark.read.parquet(src_path)
    _assert_same_rows(src, back, "url")

    # idempotent re-run: same part names, still exactly the source
    engine.decode_parquet_to_dir(spark, enc_path, out,
                                 num_partitions=2).collect()
    _assert_same_rows(src, spark.read.parquet(out), "url")

    # projection
    out2 = str(tmp_path / "decoded2")
    engine.decode_parquet_to_dir(spark, enc_path, out2,
                                 columns=["url", "lang"],
                                 num_partitions=2).collect()
    slim = spark.read.parquet(out2)
    assert sorted(slim.columns) == ["lang", "url"]
    assert slim.count() == 2000

    # zone-map pruning on warc_ts epoch-us: impossible range -> 0 rows
    out3 = str(tmp_path / "decoded3")
    s = engine.decode_parquet_to_dir(
        spark, enc_path, out3,
        prune_ranges=[("warc_ts", 2**62, None)],
        num_partitions=2).collect()
    assert sum(r.n_rows for r in s) == 0


def test_fused_sink_rejects_config_change(spark, tmp_path):
    """Resuming a fused sink with a different config/stripe_rows must
    refuse loudly — otherwise old- and new-config stripes would both be
    ledgered and readers would see a silently mixed dataset."""
    df = gen.pages_df(spark, 1000, num_partitions=2)
    src = str(tmp_path / "pq")
    df.write.parquet(src)
    out = str(tmp_path / "enc")
    manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=500,
                                   num_partitions=2)
    with pytest.raises(ValueError, match="different config"):
        manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=250,
                                       num_partitions=2)
    # same config resumes fine (and has nothing to do)
    r = manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=500,
                                       num_partitions=2)
    assert r["splits_encoded"] == 0


def test_decode_export_rejects_plan_change(spark, tmp_path):
    """Re-running decode_parquet_to_dir into the same out_path with a
    different plan (parallelism/columns) would create new part names
    beside the old ones and duplicate rows — the plan marker refuses."""
    df = gen.pages_df(spark, 1000, num_partitions=2)
    src = str(tmp_path / "pq")
    df.write.parquet(src)
    enc = str(tmp_path / "enc")
    engine.encode_parquet(spark, src, stripe_rows=500, num_partitions=2) \
        .write.option("compression", "uncompressed").parquet(enc)
    out = str(tmp_path / "dec")
    engine.decode_parquet_to_dir(spark, enc, out,
                                 num_partitions=2).collect()
    with pytest.raises(ValueError, match="different plan"):
        engine.decode_parquet_to_dir(spark, enc, out, num_partitions=4)
    # identical plan re-runs stay idempotent
    engine.decode_parquet_to_dir(spark, enc, out,
                                 num_partitions=2).collect()
    assert spark.read.parquet(out).count() == 1000


def test_fused_metrics_and_vacuum(spark, tmp_path):
    """fused_metrics rolls up lineage+metrics per input file; vacuum
    removes unledgered orphans without touching committed parts."""
    import pyarrow.parquet as pq

    df = gen.pages_df(spark, 1000, num_partitions=2)
    src = str(tmp_path / "pq")
    df.write.parquet(src)
    out = str(tmp_path / "enc")
    manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=500,
                                   num_partitions=2, source="t")
    m = manifest.fused_metrics(spark, out)
    rows = m.collect()
    assert sum(r.rows for r in rows) == 1000
    assert all(r.ratio > 1 for r in rows)

    # plant an orphan + a staging leftover
    stripes = tmp_path / "enc" / "stripes"
    committed = sorted(p.name for p in stripes.glob("part-*.parquet"))
    orig = pq.read_table(str(stripes / committed[0]))
    pq.write_table(orig, str(stripes / "part-feedfeed.parquet"))
    (stripes / ".staging-dead-1234.parquet").write_bytes(b"junk")
    r = manifest.vacuum_fused(spark, out)
    assert r["removed"] == 2 and r["kept"] == len(committed)
    # dataset unchanged
    dec = engine.decode_table(manifest.read_fused_encoded(spark, out),
                              spark.read.parquet(src).schema)
    assert dec.count() == 1000


def test_encode_orc_fused_roundtrip(spark, tmp_path):
    """encode_orc: fused scan+encode over real ORC files — decode
    equals the source table; column projection holds."""
    import os

    import pyarrow.parquet as pq

    from orc_haskell_spark.orcfile.writer import write_orc

    t = pq.read_table("/root/testdata/sf0.001/orders.parquet")
    d = str(tmp_path / "orcdir")
    os.makedirs(d)
    write_orc(t.slice(0, 800), f"{d}/a.orc", stripe_rows=256)
    write_orc(t.slice(800), f"{d}/b.orc", stripe_rows=256)
    enc = engine.encode_orc(spark, d, stripe_rows=512)
    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet") \
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    dec = engine.decode_table(
        enc, spark.read.parquet(
            "/root/testdata/sf0.001/orders.parquet").schema) \
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    _assert_same_rows(src, dec, "o_orderkey")

    slim = engine.encode_orc(spark, d, columns=["o_orderkey", "o_custkey"])
    from pyspark.sql.types import StructType

    full_schema = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet").schema
    sub = StructType([full_schema["o_orderkey"], full_schema["o_custkey"]])
    dec2 = engine.decode_table(slim, sub)
    assert sorted(dec2.columns) == ["o_custkey", "o_orderkey"]
    assert dec2.count() == t.num_rows


def test_engine_bloom_point_lookup(spark):
    """Engine-format per-stripe blooms (VERDICT r3 item 10): encoding
    with bloom_columns adds footer blooms; bloom_prune_stripes keeps
    EVERY stripe containing the probe value (no false negatives, so the
    decoded point lookup is exact) and prunes most stripes for a value
    confined to one stripe; geometry/column mismatches never prune."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    enc = engine.encode_table(docs, stripe_rows=32,
                              config={"bloom_columns": ["doc_id", "source"]})
    enc = enc.cache()
    try:
        n_stripes = enc.count()
        assert n_stripes > 8
        target = docs.orderBy("doc_id").limit(50).collect()[37]
        pruned = engine.bloom_prune_stripes(enc, "doc_id", target.doc_id)
        kept = pruned.count()
        assert kept < n_stripes / 2  # point value ~1 stripe + fp rate
        # exactness: decode after pruning still finds the row(s)
        dec = engine.decode_table(pruned, docs.schema)
        got = dec.filter(F.col("doc_id") == target.doc_id).collect()
        exact = docs.filter(F.col("doc_id") == target.doc_id).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, exact))
        # absent value: heavy pruning, decode finds nothing (exact)
        none = engine.bloom_prune_stripes(enc, "doc_id", -12345)
        assert none.count() < n_stripes / 2
        # a string bloom too: every stripe holding the value is kept
        src = target.source
        spruned = engine.bloom_prune_stripes(enc, "source", src)
        sdec = engine.decode_table(spruned, docs.schema)
        assert sdec.filter(F.col("source") == src).count() == \
            docs.filter(F.col("source") == src).count()
        # un-bloomed column: no pruning at all
        assert engine.bloom_prune_stripes(
            enc, "text", "x").count() == n_stripes
    finally:
        enc.unpersist()
    # no bloom_columns configured -> no blooms in the footer
    enc2 = engine.encode_table(docs.limit(64), stripe_rows=32)
    f = enc2.select("footer").first()[0]
    assert '"blooms"' not in f


def test_encode_table_auto_fuses_bare_parquet_scan(spark, tmp_path):
    """Fuse-by-default: encode_table over a bare spark.read.parquet
    with no re-layout requested takes the crossing-free fused plan —
    the physical plan scans only split METADATA (no parquet FileScan
    of the payload) — and still decodes bit-identically. Any operator
    above the scan (filter/limit) disqualifies the shortcut and keeps
    the exact DataFrame semantics."""
    src = str(tmp_path / "pages_pq")
    df = gen.pages_df(spark, 2000, num_partitions=2)
    df.write.parquet(src)
    scan = spark.read.parquet(src)

    enc = engine.encode_table(scan, num_partitions=2)
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan      # payload never enters the JVM
    dec = engine.decode_table(enc, scan.schema)
    _assert_same_rows(dec, scan, "url")

    # a filter on top must NOT take the shortcut (rows would leak back)
    filt = scan.filter("lang = 'en'")
    assert engine._pure_parquet_scan_files(filt) is None
    encf = engine.encode_table(filt, num_partitions=2)
    planf = encf._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in planf
    decf = engine.decode_table(encf, scan.schema)
    _assert_same_rows(decf, filt, "url")

    # explicit re-layout keeps the shuffle path
    encp = engine.encode_table(scan, partition_on="url",
                               num_partitions=2)
    planp = encp._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in planp


def test_auto_fuse_declines_retyped_schema(spark, tmp_path):
    """A user .schema() with matching names but different TYPES must
    keep the DataFrame path (the fused scan would encode the file's
    physical types)."""
    src = str(tmp_path / "typed_pq")
    spark.range(100).selectExpr("cast(id as int) as id").write.parquet(src)
    retyped = spark.read.schema("id long").parquet(src)
    assert engine._pure_parquet_scan_files(retyped) is None
    same = spark.read.parquet(src)
    assert engine._pure_parquet_scan_files(same) is not None


def test_fused_config_hash_residual_stability():
    """Set-valued 'in' residuals hash identically regardless of set
    iteration order, and a None residual leaves pre-existing hashes
    unchanged (resume compatibility across the upgrade)."""
    h0 = manifest._config_hash({"compression": "zstd"}, 65536)
    h0b = manifest._config_hash({"compression": "zstd"}, 65536,
                                residual=None)
    assert h0 == h0b
    ha = manifest._config_hash({}, 65536,
                               residual=[("lang", "in", {"en", "de", "fr"})])
    hb = manifest._config_hash({}, 65536,
                               residual=[("lang", "in",
                                          frozenset(["fr", "en", "de"]))])
    assert ha == hb
    assert ha != h0
