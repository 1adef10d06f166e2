"""Skew-safe salted aggregation + source resolution."""

from __future__ import annotations

from pyspark.sql import functions as F

from orc_haskell_spark import engine, sources


def test_salted_agg_matches_plain_groupby(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    salted = engine.salted_agg(
        docs, "lang",
        {"docs": ("count", "doc_id"), "chars": ("sum", "n_chars"),
         "min_doc": ("min", "doc_id"), "max_doc": ("max", "doc_id")},
        buckets=16)
    plain = docs.groupBy("lang").agg(
        F.count("doc_id").alias("docs"), F.sum("n_chars").alias("chars"),
        F.min("doc_id").alias("min_doc"), F.max("doc_id").alias("max_doc"))
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_agg_rejects_non_reaggregable(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import pytest

    with pytest.raises(ValueError, match="not re-aggregable"):
        engine.salted_agg(docs, "lang", {"a": ("avg", "n_chars")})


def test_salted_partial_stage_fans_out(spark):
    """The partial aggregation must group on (key, salt): a hot key's
    rows land in multiple partial groups."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    # key + a distinct input column, as salted_agg passes: the salt is a
    # deterministic hash, so the key alone would give every 'en' row the
    # same bucket
    salted = engine.salted(docs, ["lang", "doc_id"], 16)
    partial_groups = salted.groupBy("lang", "_salt").count()
    en_groups = partial_groups.filter(F.col("lang") == "en").count()
    assert en_groups > 4  # 218 'en' docs spread over ~16 salt buckets


def test_sources_parquet_path(spark):
    df = sources.read_table(spark, "/root/testdata/sf0.001/region.parquet")
    assert df.count() == 5


def test_sources_catalog_name(spark):
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet") \
        .createOrReplaceTempView("nation_view")
    df = sources.read_table(spark, "nation_view")
    assert df.count() == 25


def test_read_table_resolves_catalog_names(spark):
    """sources.read_table: catalog/temp-view names resolve through
    spark.read.table (the Iceberg path on a real cluster); unknown
    names fall through to parquet; non-not-found errors re-raise."""
    import pytest

    from orc_haskell_spark import sources

    df = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    df.createOrReplaceTempView("region_view")
    got = sources.read_table(spark, "region_view")
    assert got.count() == df.count()
    # path fallback still works
    assert sources.read_table(
        spark, "/root/testdata/sf0.001/region.parquet").count() == df.count()
    # unknown bare name: falls through to parquet and fails THERE
    with pytest.raises(Exception) as e:
        sources.read_table(spark, "no_such_table_anywhere")
    assert "PATH_NOT_FOUND" in str(e.value) or "Path does not exist" in str(e.value)


def test_salted_repartition_spreads_hot_encode_key(spark):
    """Encoding partitioned on a skewed key (lang, one dominant value)
    must spread the hot key across tasks when salted — otherwise one
    task encodes most of the corpus."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    n_parts = 8

    def max_partition_share(salt):
        cols = [F.xxhash64("lang")]
        if salt > 1:
            cols.append(F.pmod(F.xxhash64(*docs.columns), F.lit(salt)))
        # engine's SALTED shuffle form (range: salt buckets never
        # hash-collide into one partition; plain keys use hash)
        rep = docs.repartitionByRange(n_parts, *cols)
        sizes = (rep.withColumn("p", F.spark_partition_id())
                 .groupBy("p").count().collect())
        total = sum(r["count"] for r in sizes)
        return max(r["count"] for r in sizes) / total

    unsalted = max_partition_share(1)
    salted = max_partition_share(8)
    assert salted < unsalted  # hot key actually spread
    assert salted < 0.3       # no task holds the bulk anymore
    # and the salted encode still roundtrips exactly
    enc = engine.encode_table(docs, stripe_rows=256, partition_on="lang",
                              num_partitions=n_parts, salt_buckets=8)
    dec = engine.decode_table(enc, docs.schema)
    assert dec.exceptAll(docs).count() == 0
    assert docs.exceptAll(dec).count() == 0


def test_fused_scan_resolves_catalog_tables(spark, tmp_path):
    """encode_parquet over a CATALOG TABLE name: the split planner pulls
    the file list from the table's snapshot via inputFiles() (the
    Iceberg-compatible path), so the fused scan needs no path."""
    import pyarrow.parquet as pq

    from orc_haskell_spark import engine

    t = pq.read_table("/root/testdata/sf0.001/region.parquet")
    p = str(tmp_path / "region_pq")
    pq.write_table(t, p + ".parquet")
    import os
    os.makedirs(p, exist_ok=True)
    pq.write_table(t, f"{p}/part-0.parquet")
    spark.read.parquet(p).createOrReplaceTempView("region_fused_view")
    enc = engine.encode_parquet(spark, "region_fused_view",
                                num_partitions=2)
    schema = spark.read.parquet(p).schema
    dec = engine.decode_table(enc, schema)
    assert dec.count() == t.num_rows
    assert sorted(r.r_name for r in dec.collect()) == \
        sorted(t.column("r_name").to_pylist())


def test_parquet_splits_distributed_planning_matches_driver(
        spark, tmp_path, monkeypatch):
    """Beyond DRIVER_SPLITS_MAX_FILES the planner switches to
    distributed footer reads (only file names touch the driver); the
    split set must be identical to driver-side planning, and the fused
    encode must still roundtrip."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "many"
    d.mkdir()
    for i in range(6):
        pq.write_table(pa.table({"x": list(range(i * 100, i * 100 + 100)),
                                 "s": [f"r{j}" for j in range(100)]}),
                       str(d / f"f{i}.parquet"), row_group_size=40)
    driver_splits = sorted(
        map(tuple, sources.parquet_splits_df(spark, str(d),
                                             num_partitions=3).collect()))
    monkeypatch.setattr(sources, "DRIVER_SPLITS_MAX_FILES", 2)
    dist = sources.parquet_splits_df(spark, str(d), num_partitions=3)
    dist_splits = sorted(map(tuple, dist.collect()))
    assert dist_splits == driver_splits
    assert len(dist_splits) == 6 * 3  # 3 row groups per file

    # ranges prune identically in both modes
    pruned = sorted(map(tuple, sources.parquet_splits_df(
        spark, str(d), ranges=[("x", 250, 260)],
        num_partitions=3).collect()))
    assert 0 < len(pruned) < len(dist_splits)

    # fused encode over distributed-planned splits roundtrips
    enc = engine.encode_parquet(spark, str(d), num_partitions=3)
    schema = spark.read.parquet(str(d)).schema
    dec = engine.decode_table(enc, schema)
    assert dec.count() == 600
    assert dec.agg(F.sum("x")).collect()[0][0] == sum(range(0, 600))

    # the fused sink plans, encodes and resumes in distributed mode too
    from orc_haskell_spark import manifest

    out = str(tmp_path / "enc")
    r1 = manifest.encode_parquet_to_dir(spark, str(d), out,
                                        num_partitions=3)
    assert r1["splits_encoded"] == r1["splits_total"] == 18
    r2 = manifest.encode_parquet_to_dir(spark, str(d), out,
                                        num_partitions=3)
    assert r2["splits_done_before"] == 18 and r2["splits_encoded"] == 0
    dec = engine.decode_table(manifest.read_fused_encoded(spark, out),
                              schema)
    assert dec.count() == 600


def test_split_planning_byte_balanced(spark, tmp_path):
    """Driver-mode split planning packs by BYTES (LPT), not counts: a
    mix of one fat file and many small ones must not land the fat row
    groups on one task."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "skewed"
    d.mkdir()
    # 4 fat row groups (~0.8 MB each) + 12 tiny ones
    pq.write_table(
        pa.table({"s": pa.array(["x" * 4000 for _ in range(800)])}),
        str(d / "fat.parquet"), row_group_size=200)
    for i in range(3):
        pq.write_table(pa.table({"s": pa.array(["y"] * 40)}),
                       str(d / f"tiny{i}.parquet"), row_group_size=10)
    splits = sources.parquet_splits_df(spark, str(d), num_partitions=4)
    per_part = (splits.withColumn("pid", F.spark_partition_id())
                .groupBy("pid").agg(F.sum("nbytes").alias("b")).collect())
    loads = sorted(r.b for r in per_part)
    assert len(loads) == 4
    # each task gets exactly one fat group: max/min byte load ~ 1
    assert loads[-1] < loads[0] * 1.5

    # the fused sinks receive the same placement directly (no splits
    # DataFrame in between): encoded raw bytes per task are balanced too
    enc = engine.encode_parquet(spark, str(d), num_partitions=4)
    per_task = enc.groupBy("part_id").agg(
        F.sum("raw_bytes").alias("b")).collect()
    loads = sorted(r.b for r in per_task)
    assert len(loads) == 4
    assert loads[-1] < loads[0] * 1.5


def test_parquet_handle_cache_lru_evicts_one(tmp_path):
    """A 65th file evicts exactly ONE handle (the least recently
    used), not the whole cache — VERDICT r3 item 6."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = []
    for i in range(5):
        p = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({"x": pa.array([i])}), p)
        paths.append(p)
    cache = sources.ParquetHandleCache(cap=4)
    first = {p: cache.get(p) for p in paths[:4]}
    cache.get(paths[0])           # touch f0 -> f1 becomes LRU
    cache.get(paths[4])           # 5th file: evict exactly one (f1)
    assert len(cache._handles) == 4
    assert paths[1] not in cache._handles
    for p in (paths[0], paths[2], paths[3]):
        assert cache.get(p) is first[p]  # survivors kept, not reopened


def _write_orc_dir(tmp_path, n_files=6, rows=300, stripe_rows=100):
    import pyarrow as pa

    from orc_haskell_spark.orcfile.writer import write_orc

    d = tmp_path / "orcmany"
    d.mkdir()
    for i in range(n_files):
        t = pa.table({"x": pa.array(range(i * rows, i * rows + rows),
                                    pa.int64()),
                      "s": pa.array([f"r{j}" for j in range(rows)])})
        write_orc(t, str(d / f"f{i}.orc"), stripe_rows=stripe_rows)
    return d


def test_orc_splits_distributed_planning_matches_driver(
        spark, tmp_path, monkeypatch):
    """The ORC twin of the parquet planner test: ORC stripes plan
    through ``sources.plan_splits`` (``planner.plan_stripes``), which
    beyond DRIVER_SPLITS_MAX_FILES switches to a distributed tail-read
    stage; split sets identical in both modes, stripe-stat ranges prune
    identically, and the Spark read over the planned splits still
    matches."""
    from orc_haskell_spark.orcfile import planner, spark_source

    d = _write_orc_dir(tmp_path)
    files = sorted(str(p) for p in d.glob("*.orc"))

    def splits(ranges=None):
        return sorted(map(tuple, planner.plan_stripes(
            spark, files, ranges=ranges, num_partitions=3)[1]
            .to_df().collect()))

    sch_drv, _ = planner.plan_stripes(spark, files, num_partitions=3)
    driver_splits = splits()
    assert len(driver_splits) == 6 * 3  # 3 stripes per file
    assert all(r[2] > 0 and r[3] == 100 for r in driver_splits)

    monkeypatch.setattr(sources, "DRIVER_SPLITS_MAX_FILES", 2)
    sch_dist, plan = planner.plan_stripes(spark, files, num_partitions=3)
    assert plan.buckets is None  # distributed mode
    assert splits() == driver_splits
    assert sch_dist.equals(sch_drv)

    # stripe-stat ranges prune identically in both modes
    pruned_dist = splits([("x", 250, 260)])
    monkeypatch.setattr(sources, "DRIVER_SPLITS_MAX_FILES", 1024)
    pruned_drv = splits([("x", 250, 260)])
    assert pruned_dist == pruned_drv
    assert 0 < len(pruned_drv) < len(driver_splits)

    # the full read path over distributed-planned splits
    monkeypatch.setattr(sources, "DRIVER_SPLITS_MAX_FILES", 2)
    df = spark_source.read_orc_distributed(spark, str(d))
    assert df.count() == 6 * 300
    assert df.agg(F.sum("x")).collect()[0][0] == sum(range(0, 6 * 300))


def test_orc_splits_distributed_schema_mismatch_names_file(
        spark, tmp_path, monkeypatch):
    """Schema agreement is enforced by the ORC stripe lister in both
    planning modes: threaded on the driver it raises at planning time,
    in the distributed planning tasks when the job runs, and a mixed
    directory fails with the offending file named."""
    import pyarrow as pa
    import pytest

    from orc_haskell_spark.orcfile import planner, spark_source
    from orc_haskell_spark.orcfile.writer import write_orc

    d = tmp_path / "mixed"
    d.mkdir()
    write_orc(pa.table({"x": pa.array([1, 2], pa.int64())}),
              str(d / "a.orc"))
    write_orc(pa.table({"y": pa.array(["z"])}), str(d / "b.orc"))
    files = sorted(str(p) for p in d.glob("*.orc"))

    with pytest.raises(ValueError, match="schema mismatch.*b.orc"):
        planner.orc_splits_threaded(files, check_schema=True)

    with pytest.raises(ValueError, match="schema mismatch.*b.orc"):
        spark_source.read_orc_distributed(spark, str(d))

    monkeypatch.setattr(sources, "DRIVER_SPLITS_MAX_FILES", 1)
    _, dist = planner.plan_stripes(spark, files, num_partitions=2)
    with pytest.raises(Exception, match="schema mismatch"):
        dist.to_df().collect()
    with pytest.raises(Exception, match="schema mismatch in .*b.orc"):
        spark_source.read_orc_distributed(spark, str(d)).collect()
