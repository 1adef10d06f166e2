"""Iceberg table format (iceberg.py) + the Avro codec under it (avro.py).

The north rule's canonical input is an Iceberg table of web pages; no
iceberg runtime exists in the sandbox, so the metadata layer is ours
and these tests are its spec gate: container roundtrips, snapshot
commits, time travel, torn-commit safety, partition/bounds pruning,
and end-to-end Spark reads + fused encodes over a committed table."""

import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from orc_haskell_spark import avro, iceberg

# ---------------------------------------------------------------------------
# avro


REC = {"type": "record", "name": "t", "fields": [
    {"name": "s", "type": "string"},
    {"name": "n", "type": "long"},
    {"name": "f", "type": "double"},
    {"name": "ob", "type": ["null", "bytes"], "default": None},
    {"name": "tags", "type": {"type": "array", "items": "string"}},
    {"name": "m", "type": {"type": "map", "values": "long"}},
    {"name": "flag", "type": "boolean"},
]}

ROWS = [
    {"s": "héllo", "n": -1, "f": 2.5, "ob": b"\x00\xff", "tags": ["a"],
     "m": {"x": 9, "y": -(2 ** 62)}, "flag": True},
    {"s": "", "n": 2 ** 62, "f": -0.0, "ob": None, "tags": [],
     "m": {}, "flag": False},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_container_roundtrip(codec):
    blob = avro.write_container(REC, ROWS, codec=codec)
    meta, out = avro.read_container(blob)
    assert out == ROWS
    assert meta["avro.codec"] == codec.encode()
    assert meta["avro.schema"]["name"] == "t"


def test_avro_zigzag_long_goldens():
    """Wire bytes for known longs (Avro spec examples)."""
    out = bytearray()
    for v, expect in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"),
                      (-2, b"\x03"), (2, b"\x04"), (-64, b"\x7f"),
                      (64, b"\x80\x01")]:
        out.clear()
        avro._write_long(out, v)
        assert bytes(out) == expect, v
        import io
        assert avro._read_long(io.BytesIO(bytes(out))) == v


def test_avro_named_type_reference():
    """A schema that refers to a named record by string (Java Iceberg's
    habit for repeated partition types) resolves on read."""
    schema = {"type": "record", "name": "outer", "fields": [
        {"name": "a", "type": {"type": "record", "name": "pt",
                               "fields": [{"name": "v", "type": "int"}]}},
        {"name": "b", "type": "pt"}]}
    rows = [{"a": {"v": 1}, "b": {"v": 2}}]
    _, out = avro.read_container(avro.write_container(schema, rows))
    assert out == rows


def test_avro_corrupt_raises():
    blob = avro.write_container(REC, ROWS)
    with pytest.raises(ValueError):
        avro.read_container(b"NOPE" + blob[4:])
    with pytest.raises(ValueError):
        avro.read_container(blob[:-10])          # sync truncated
    bad = bytearray(blob)
    bad[-8] ^= 0xFF                              # corrupt sync marker
    with pytest.raises(ValueError):
        avro.read_container(bytes(bad))


# ---------------------------------------------------------------------------
# iceberg fixtures


def _write_part(dirpath, name, langs, ids):
    t = pa.table({
        "url": pa.array([f"https://{l}.site/{i}" for l, i in
                         zip(langs, ids)]),
        "warc_ts": pa.array(
            np.array(ids, np.int64) * 1_000_000 + 1_600_000_000_000_000,
            pa.timestamp("us")),
        "text": pa.array([f"text {l} {i}" for l, i in zip(langs, ids)]),
        "lang": pa.array(langs),
        "views": pa.array(ids, pa.int64()),
    })
    p = os.path.join(dirpath, "data", name)
    pq.write_table(t, p)
    return p, t


@pytest.fixture()
def table(tmp_path):
    """Two-snapshot partitioned table: snap1 = en+de, snap2 adds fr."""
    root = str(tmp_path / "pages_ice")
    _, t0 = _write_part_schema_probe(root)
    p_en, t_en = _write_part(root, "en-0.parquet", ["en"] * 4, [0, 1, 2, 3])
    p_de, t_de = _write_part(root, "de-0.parquet", ["de"] * 3, [10, 11, 12])
    iceberg.append_files(root, [p_en, p_de],
                         [{"lang": "en"}, {"lang": "de"}])
    p_fr, t_fr = _write_part(root, "fr-0.parquet", ["fr"] * 2, [20, 21])
    iceberg.append_files(root, [p_fr], [{"lang": "fr"}])
    return root, {"en": t_en, "de": t_de, "fr": t_fr}


def _write_part_schema_probe(root):
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    probe = pa.table({
        "url": pa.array([], pa.string()),
        "warc_ts": pa.array([], pa.timestamp("us")),
        "text": pa.array([], pa.string()),
        "lang": pa.array([], pa.string()),
        "views": pa.array([], pa.int64())})
    iceberg.create_table(root, probe.schema, partition_by=["lang"])
    return root, probe


def test_create_commit_read_current(table):
    root, parts = table
    files = iceberg.plan_files(root)
    assert [os.path.basename(f["file_path"]) for f in files] == \
        ["de-0.parquet", "en-0.parquet", "fr-0.parquet"]
    assert sum(f["record_count"] for f in files) == 9
    # bounds decoded back to python values
    en = next(f for f in files if "en-" in f["file_path"])
    assert en["lower_bounds"]["views"] == 0
    assert en["upper_bounds"]["views"] == 3
    assert en["partition"] == {"lang": "en"}


def test_time_travel_and_snapshot_id(table):
    root, _ = table
    meta = iceberg.table_metadata(root)
    assert len(meta["snapshots"]) == 2
    first = meta["snapshots"][0]
    files1 = iceberg.plan_files(root, snapshot_id=first["snapshot-id"])
    assert len(files1) == 2 and \
        not any("fr-" in f["file_path"] for f in files1)
    files_t = iceberg.plan_files(root, as_of_ms=first["timestamp-ms"])
    assert files_t == files1
    with pytest.raises(ValueError):
        iceberg.plan_files(root, as_of_ms=first["timestamp-ms"] - 10_000)
    with pytest.raises(ValueError):
        iceberg.plan_files(root, snapshot_id=424242)


def test_partition_and_bounds_pruning(table):
    root, _ = table
    only_de = iceberg.plan_files(root, where=[("lang", "=", "de")])
    assert [os.path.basename(f["file_path"]) for f in only_de] == \
        ["de-0.parquet"]
    # bounds pruning on a non-partition column: views in en=0..3,
    # de=10..12, fr=20..21
    hi = iceberg.plan_files(root, where=[("views", ">=", 15)])
    assert [os.path.basename(f["file_path"]) for f in hi] == \
        ["fr-0.parquet"]
    both = iceberg.plan_files(root, where=[("views", ">", 2),
                                           ("views", "<", 12)])
    assert {os.path.basename(f["file_path"]) for f in both} == \
        {"en-0.parquet", "de-0.parquet"}
    none = iceberg.plan_files(root, where=[("views", ">", 99)])
    assert none == []
    # string bounds prune too (url is partition-independent)
    fr = iceberg.plan_files(root, where=[("url", ">=", "https://fr")])
    assert [os.path.basename(f["file_path"]) for f in fr] == \
        ["fr-0.parquet"]


def test_torn_commit_leaves_previous_version_readable(table):
    """Crash between metadata-json write and hint flip: readers keep
    the OLD version (hint still points there) and a retried commit is
    possible. The hint file is the atomic commit point."""
    root, _ = table
    mdir = os.path.join(root, "metadata")
    before = iceberg.plan_files(root)
    # simulate: next version's metadata json exists, hint NOT flipped
    meta = iceberg.table_metadata(root)
    iceberg._write_metadata(root, 99, meta)   # orphan future version
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("3")                          # hint still at v3
    assert iceberg.plan_files(root) == before


def test_reader_accepts_avro_map_wire_shape(tmp_path):
    """Bounds written as a plain Avro map (string keys) — the other
    legal wire shape — normalize identically."""
    root = str(tmp_path / "t2")
    _write_part_schema_probe(root)
    p, _ = _write_part(root, "x.parquet", ["en"] * 2, [5, 6])
    iceberg.append_files(root, [p], [{"lang": "en"}])
    # rewrite the manifest with map-typed bounds
    meta = iceberg.table_metadata(root)
    snap = iceberg.select_snapshot(meta)
    _, mans = avro.read_container_file(snap["manifest-list"])
    mpath = mans[0]["manifest_path"]
    _, entries = avro.read_container_file(mpath)
    schema = json.loads(json.dumps(
        iceberg._manifest_schema(iceberg._partition_schema(
            [{"name": "lang"}], {"lang": "string"}))))
    for f in schema["fields"]:
        if f["name"] != "data_file":
            continue
        for g in f["type"]["fields"]:
            if g["name"] in ("lower_bounds", "upper_bounds"):
                g["type"] = ["null", {"type": "map", "values": "bytes"}]
            if g["name"] in ("value_counts", "null_value_counts"):
                g["type"] = ["null", {"type": "map", "values": "long"}]
    for e in entries:
        df = e["data_file"]
        for k in ("lower_bounds", "upper_bounds"):
            df[k] = {str(x["key"]): x["value"] for x in df[k]}
        for k in ("value_counts", "null_value_counts"):
            df[k] = {str(x["key"]): x["value"] for x in df[k]}
    avro.write_container_file(mpath, schema, entries)
    files = iceberg.plan_files(root, where=[("views", "=", 6)])
    assert len(files) == 1 and files[0]["lower_bounds"]["views"] == 5


def test_position_deletes_end_to_end(spark, table):
    """v2 position deletes: tombstoned rows disappear from reads, the
    pre-delete snapshot still sees them (time travel), delete-blind
    paths refuse to run, and the result matches a DuckDB anti-join."""
    import duckdb

    root, _ = table
    files = iceberg.plan_files(root)
    en = next(f["file_path"] for f in files if "en-0" in f["file_path"])
    de = next(f["file_path"] for f in files if "de-0" in f["file_path"])
    before = iceberg.select_snapshot(iceberg.table_metadata(root))
    snap = iceberg.delete_rows(root, [(en, 1), (en, 3), (de, 0)])
    assert snap["summary"]["operation"] == "delete"
    got = sorted(r.url for r in iceberg.read_iceberg(spark, root)
                 .select("url").collect())
    con = duckdb.connect()
    want = sorted(r[0] for r in con.execute(f"""
        WITH d AS (SELECT * FROM read_parquet('{root}/data/*.parquet',
                                              filename=true)
                   WHERE filename NOT LIKE '%delete-%')
        SELECT url FROM (
          SELECT url, filename,
                 row_number() OVER (PARTITION BY filename
                                    ORDER BY views) - 1 AS pos
          FROM d)
        WHERE NOT (filename LIKE '%en-0%' AND pos IN (1, 3))
          AND NOT (filename LIKE '%de-0%' AND pos = 0)
        """).fetchall())
    assert got == want and len(got) == 6
    # time travel to the pre-delete snapshot sees all 9 rows
    old = iceberg.read_iceberg(spark, root,
                               snapshot_id=before["snapshot-id"])
    assert old.count() == 9
    # delete-blind planners refuse
    with pytest.raises(NotImplementedError):
        iceberg.plan_files(root)
    with pytest.raises(NotImplementedError):
        iceberg.iceberg_splits_df(spark, root)
    # predicate + deletes compose (en file pruned away, its deletes moot)
    de_rows = iceberg.read_iceberg(spark, root,
                                   where=[("lang", "=", "de")])
    assert sorted(r.views for r in de_rows.collect()) == [11, 12]


def test_delete_files_raise(tmp_path):
    root = str(tmp_path / "t3")
    _write_part_schema_probe(root)
    p, _ = _write_part(root, "x.parquet", ["en"], [1])
    iceberg.append_files(root, [p], [{"lang": "en"}])
    meta = iceberg.table_metadata(root)
    snap = iceberg.select_snapshot(meta)
    mlist = snap["manifest-list"]
    _, mans = avro.read_container_file(mlist)
    mans[0]["content"] = 1                     # delete manifest
    avro.write_container_file(mlist, iceberg._MANIFEST_LIST_SCHEMA, mans)
    with pytest.raises(NotImplementedError):
        iceberg.plan_files(root)


def test_single_value_serialization_goldens():
    """Spec: little-endian fixed width; strings are raw UTF-8."""
    assert iceberg.encode_bound("int", 1) == b"\x01\x00\x00\x00"
    assert iceberg.encode_bound("long", -1) == b"\xff" * 8
    assert iceberg.encode_bound("double", 1.0) == struct.pack("<d", 1.0)
    assert iceberg.encode_bound("string", "naïve") == "naïve".encode()
    assert iceberg.decode_bound("timestamptz", struct.pack("<q", 77)) == 77


def test_incremental_files_between_snapshots(table):
    """Nightly-delta shape: only files appended after a snapshot."""
    root, _ = table
    meta = iceberg.table_metadata(root)
    s1, s2 = (s["snapshot-id"] for s in meta["snapshots"])
    delta = iceberg.incremental_files(root, after_snapshot_id=s1)
    assert [os.path.basename(f["file_path"]) for f in delta] == \
        ["fr-0.parquet"]
    assert iceberg.incremental_files(root, s1, to_snapshot_id=s1) == []
    # pruning composes with the delta
    none = iceberg.incremental_files(root, s1,
                                     where=[("lang", "=", "en")])
    assert none == []
    with pytest.raises(ValueError):
        iceberg.incremental_files(root, s2, to_snapshot_id=s1)


def test_schema_evolution_add_column(spark, table):
    """ADD COLUMN: old files read the new column as null; new files
    carry values; the pre-evolution snapshot still reads with whatever
    schema is CURRENT (Iceberg semantics: current schema governs)."""
    root, _ = table
    iceberg.add_column(root, "views2", "long")
    # new file carries the new column
    t = pa.table({
        "url": pa.array(["https://it.site/30"]),
        "warc_ts": pa.array(np.array([0], np.int64), pa.timestamp("us")),
        "text": pa.array(["text it 30"]),
        "lang": pa.array(["it"]),
        "views": pa.array([30], pa.int64()),
        "views2": pa.array([300], pa.int64())})
    p = os.path.join(root, "data", "it-0.parquet")
    pq.write_table(t, p)
    iceberg.append_files(root, [p], [{"lang": "it"}])
    df = iceberg.read_iceberg(spark, root)
    assert "views2" in df.columns
    rows = {r.url: r.views2 for r in df.collect()}
    assert rows["https://it.site/30"] == 300
    assert rows["https://en.site/0"] is None
    with pytest.raises(ValueError):
        iceberg.add_column(root, "views2", "long")
    with pytest.raises(NotImplementedError):
        iceberg.add_column(root, "bad", "struct<a:int>")


def test_where_prunes_row_groups_inside_kept_files(spark, tmp_path):
    """The manifest-bounds file prune continues into parquet row
    groups: a range predicate drops whole 100-row groups of the
    surviving file before any data IO."""
    root = str(tmp_path / "t_rg")
    os.makedirs(os.path.join(root, "data"))
    ids = list(range(1000))
    t = pa.table({
        "url": pa.array([f"u{i:05d}" for i in ids]),
        "warc_ts": pa.array(
            np.array(ids, np.int64) * 1_000, pa.timestamp("us")),
        "text": pa.array([f"t{i}" for i in ids]),
        "lang": pa.array(["en"] * 1000),
        "views": pa.array(ids, pa.int64())})
    p = os.path.join(root, "data", "big.parquet")
    pq.write_table(t, p, row_group_size=100)
    iceberg.create_table(root, t.schema, partition_by=["lang"])
    iceberg.append_files(root, [p], [{"lang": "en"}])
    all_splits = iceberg.iceberg_splits_df(spark, root,
                                           num_partitions=2).collect()
    assert len(all_splits) == 10
    pruned = iceberg.iceberg_splits_df(
        spark, root, where=[("views", ">=", 800)],
        num_partitions=2).collect()
    assert len(pruned) == 2 and all(r.rg >= 8 for r in pruned)
    # equality predicate pins one group
    one = iceberg.iceberg_splits_df(
        spark, root, where=[("views", "=", 555)],
        num_partitions=2).collect()
    assert len(one) == 1 and one[0].rg == 5


def test_commit_parquet_dir_idempotent_and_incremental(spark, tmp_path):
    """The fused encode sink's output dir committed as Iceberg
    snapshots: first commit = all parts, re-commit with nothing new =
    None (idempotent), a new part = incremental snapshot holding BOTH;
    the old snapshot still reads exactly the first part set."""
    from orc_haskell_spark import manifest

    src = str(tmp_path / "src")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .write.parquet(src)
    out = str(tmp_path / "enc_out")
    manifest.encode_parquet_to_dir(spark, src, out, num_partitions=2,
                                   source="ice-test")
    ice = str(tmp_path / "enc_ice")
    stripes = os.path.join(out, "stripes")   # sink layout: parts live here
    snap1 = iceberg.commit_parquet_dir(ice, stripes)
    assert snap1 is not None
    files1 = iceberg.plan_files(ice)
    assert files1 and all(f["record_count"] > 0 for f in files1)
    # idempotent: nothing new -> no snapshot
    assert iceberg.commit_parquet_dir(ice, stripes) is None
    # "resumed run" drops one more committed part into the dir
    extra_rows = spark.read.parquet(stripes).limit(1)
    extra = str(tmp_path / "extra.parquet")
    extra_rows.toPandas().to_parquet(extra)
    import shutil

    shutil.copy(extra, os.path.join(stripes, "part-extra.parquet"))
    snap2 = iceberg.commit_parquet_dir(ice, stripes)
    assert snap2 is not None and snap2["snapshot-id"] != \
        snap1["snapshot-id"]
    files2 = iceberg.plan_files(ice)
    assert len(files2) == len(files1) + 1
    # snapshot isolation: the first snapshot still sees only its files
    old = iceberg.plan_files(ice, snapshot_id=snap1["snapshot-id"])
    assert {f["file_path"] for f in old} == \
        {f["file_path"] for f in files1}
    # and the committed encoded table decodes through the normal path
    from orc_haskell_spark import engine

    enc_df = iceberg.read_iceberg(
        spark, ice, snapshot_id=snap1["snapshot-id"])
    dec = engine.decode_table(
        enc_df.select("part_id", "stripe_id", "n_rows", "n_cols",
                      "raw_bytes", "enc_bytes", "footer", "data"),
        spark.read.parquet(src).schema)
    assert dec.count() == spark.read.parquet(src).count()


def test_distributed_manifest_planning_matches_driver(spark, tmp_path,
                                                      monkeypatch):
    """Beyond DISTRIBUTED_MANIFESTS_MIN manifests the per-manifest
    reads fan out to a Spark stage; the plan must be identical to the
    driver-side walk (same files, same pruning)."""
    root = str(tmp_path / "many")
    os.makedirs(os.path.join(root, "data"))
    first = pa.table({
        "url": pa.array(["u"]), "warc_ts": pa.array(
            np.array([0], np.int64), pa.timestamp("us")),
        "text": pa.array(["t"]), "lang": pa.array(["aa"]),
        "views": pa.array([0], pa.int64())})
    iceberg.create_table(root, first.schema, partition_by=["lang"])
    for k in range(6):                     # 6 snapshots -> 6 manifests
        lang = f"l{k}"
        p = os.path.join(root, "data", f"{lang}.parquet")
        pq.write_table(pa.table({
            "url": pa.array([f"https://{lang}/{i}" for i in range(3)]),
            "warc_ts": pa.array(np.arange(3, dtype=np.int64),
                                pa.timestamp("us")),
            "text": pa.array(["x"] * 3), "lang": pa.array([lang] * 3),
            "views": pa.array(np.arange(3) + 10 * k, pa.int64())}), p)
        iceberg.append_files(root, [p], [{"lang": lang}])
    driver_plan = iceberg.plan_files(root, where=[("views", ">=", 20)])
    monkeypatch.setattr(iceberg, "DISTRIBUTED_MANIFESTS_MIN", 2)
    dist_plan = iceberg.plan_files(root, where=[("views", ">=", 20)],
                                   spark=spark)
    assert dist_plan == driver_plan
    assert [os.path.basename(f["file_path"]) for f in dist_plan] == \
        ["l2.parquet", "l3.parquet", "l4.parquet", "l5.parquet"]


def test_avro_value_roundtrip_property():
    """Hypothesis: arbitrary values matching a nested schema roundtrip
    through the container codec."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "i", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "d", "type": "double"},
        {"name": "ob", "type": ["null", "bytes"], "default": None},
        {"name": "xs", "type": {"type": "array", "items": "long"}},
        {"name": "kv", "type": {"type": "map", "values": "string"}}]}
    row = st.fixed_dictionaries({
        "i": st.integers(-(2 ** 63), 2 ** 63 - 1),
        "s": st.text(max_size=40),
        "d": st.floats(allow_nan=False),
        "ob": st.none() | st.binary(max_size=20),
        "xs": st.lists(st.integers(-(2 ** 40), 2 ** 40), max_size=8),
        "kv": st.dictionaries(st.text(max_size=8),
                              st.text(max_size=8), max_size=5)})

    @settings(max_examples=60, deadline=None)
    @given(st.lists(row, max_size=6), st.sampled_from(["null", "deflate"]))
    def check(rows, codec):
        _, out = avro.read_container(
            avro.write_container(schema, rows, codec=codec))
        assert out == rows

    check()


def test_iceberg_streaming_source(spark, table, tmp_path):
    """readStream over an Iceberg table: snapshot sequence numbers are
    the offsets. Drain 1 sees both existing snapshots' rows; a new
    append committed afterwards is delivered by drain 2 from the SAME
    checkpoint, exactly once; start_seq tails from a later offset."""
    from orc_haskell_spark.iceberg_stream import IcebergStreamDataSource

    root, _ = table
    spark.dataSource.register(IcebergStreamDataSource)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (spark.readStream.format("iceberg_stream").load(root)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    got = spark.read.parquet(out)
    assert got.count() == 9
    assert sorted(r.lang for r in got.select("lang").distinct()
                  .collect()) == ["de", "en", "fr"]
    # new snapshot appended AFTER the first drain
    p, t_it = _write_part(root, "it-0.parquet", ["it"] * 2, [30, 31])
    iceberg.append_files(root, [p], [{"lang": "it"}])
    drain()
    got2 = spark.read.parquet(out)
    assert got2.count() == 11                       # exactly once
    assert got2.filter("lang = 'it'").count() == 2
    vals = {(r.url, r.views) for r in got2.filter("lang='it'").collect()}
    assert vals == {("https://it.site/30", 30), ("https://it.site/31", 31)}
    # tail-only mode: start_seq = current sequence number -> no rows
    meta = iceberg.table_metadata(root)
    out2, ckpt2 = str(tmp_path / "s2"), str(tmp_path / "c2")
    q = (spark.readStream.format("iceberg_stream")
         .option("start_seq", meta["last-sequence-number"]).load(root)
         .writeStream.format("parquet")
         .option("path", out2).option("checkpointLocation", ckpt2)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert spark.read.parquet(out2).count() == 0


# ---------------------------------------------------------------------------
# spark integration


def test_read_iceberg_matches_duckdb_union(spark, table):
    root, parts = table
    import duckdb

    got = sorted((r.url, r.lang, r.views) for r in
                 iceberg.read_iceberg(spark, root).collect())
    con = duckdb.connect()
    want = sorted(con.execute(
        f"SELECT url, lang, views FROM "
        f"read_parquet('{root}/data/*.parquet')").fetchall())
    assert got == want
    # predicate path: pruned read + residual filter
    de = iceberg.read_iceberg(spark, root,
                              where=[("lang", "=", "de")],
                              columns=["url", "views"]).collect()
    assert len(de) == 3 and all("de.site" in r.url for r in de)


def test_iceberg_fused_encode_roundtrip(spark, table):
    """Snapshot-pruned Iceberg planning feeding the fused Python-side
    encode: the split planner must see ONLY the surviving file, and the
    encoded stripes must decode bit-identical to that partition."""
    from orc_haskell_spark import engine

    root, parts = table
    splits = iceberg.iceberg_splits_df(
        spark, root, where=[("lang", "=", "en")], num_partitions=2)
    files = {r.file for r in splits.select("file").distinct().collect()}
    assert len(files) == 1 and "en-0" in next(iter(files))
    enc = iceberg.encode_iceberg(spark, root,
                                 where=[("lang", "=", "en")],
                                 num_partitions=2)
    schema = spark.read.parquet(
        os.path.join(root, "data", "en-0.parquet")).schema
    dec = engine.decode_table(enc, schema)
    got = sorted((r.url, r.lang, r.views, r.text, r.warc_ts)
                 for r in dec.collect())
    want = sorted(zip(*(parts["en"].column(c).to_pylist()
                        for c in ["url", "lang", "views", "text",
                                  "warc_ts"])))
    assert [g[:4] for g in got] == [w[:4] for w in want]
    assert [g[4].replace(tzinfo=None) for g in got] == \
        [w[4] for w in want]


def test_equality_deletes_sequence_rule(spark, table):
    """v2 equality deletes: matching rows in EARLIER-sequence files
    die; a row with the same key re-appended AFTER the delete survives
    (the spec's strict-inequality rule — the upsert pattern)."""
    root, _ = table
    snap = iceberg.delete_where(root, [{"url": "https://en.site/1"},
                                       {"url": "https://de.site/11"}])
    assert snap["summary"]["operation"] == "delete"
    got = sorted(r.url for r in iceberg.read_iceberg(spark, root)
                 .select("url").collect())
    assert "https://en.site/1" not in got
    assert "https://de.site/11" not in got
    assert len(got) == 7
    # re-append one of the deleted keys AFTER the delete commit
    p, _t = _write_part(root, "en-1.parquet", ["en"], [1])
    iceberg.append_files(root, [p], [{"lang": "en"}])
    got2 = sorted(r.url for r in iceberg.read_iceberg(spark, root)
                  .select("url").collect())
    assert got2.count("https://en.site/1") == 1     # resurrected row
    assert len(got2) == 8
    # a SECOND equality delete kills the resurrected row too
    iceberg.delete_where(root, [{"url": "https://en.site/1"}])
    got3 = sorted(r.url for r in iceberg.read_iceberg(spark, root)
                  .select("url").collect())
    assert "https://en.site/1" not in got3 and len(got3) == 7
    # composite-key deletes and validation
    with pytest.raises(ValueError):
        iceberg.delete_where(root, [{"nope": 1}])
    with pytest.raises(ValueError):
        iceberg.delete_where(root, [])
    snap4 = iceberg.delete_where(root, [{"lang": "fr", "views": 20}])
    got4 = sorted(r.url for r in iceberg.read_iceberg(spark, root)
                  .select("url").collect())
    assert "https://fr.site/20" not in got4 and len(got4) == 6
    # delete-blind planners still refuse
    with pytest.raises(NotImplementedError):
        iceberg.plan_files(root)


def test_compact_applies_deletes_and_restores_fused_paths(spark, table):
    """delete -> compact: the replace snapshot is tombstone-free, holds
    exactly the surviving rows, fused planners run again, and time
    travel still reaches the pre-compaction (delete-bearing) state."""
    root, _ = table
    files0 = iceberg.plan_files(root)
    en = next(f["file_path"] for f in files0 if "en-0" in f["file_path"])
    iceberg.delete_rows(root, [(en, 0)])
    iceberg.delete_where(root, [{"url": "https://fr.site/21"}])
    pre_compact = iceberg.select_snapshot(iceberg.table_metadata(root))
    want = sorted(r.url for r in iceberg.read_iceberg(spark, root)
                  .select("url").collect())
    assert len(want) == 7
    snap = iceberg.compact(spark, root)
    assert snap["summary"]["operation"] == "replace"
    # fused raw-position path works again (no tombstones)
    files = iceberg.plan_files(root)
    assert files and all(f["content"] == 0 for f in files)
    assert sum(f["record_count"] for f in files) == 7
    got = sorted(r.url for r in iceberg.read_iceberg(spark, root)
                 .select("url").collect())
    assert got == want
    # partition pruning still works on the rewritten layout
    de = iceberg.plan_files(root, where=[("lang", "=", "de")])
    assert de and all(f["partition"] == {"lang": "de"} for f in de)
    splits = iceberg.iceberg_splits_df(spark, root, num_partitions=2)
    assert splits.count() >= len(files)
    # time travel: the delete-bearing snapshot still reads correctly
    old = iceberg.read_iceberg(
        spark, root, snapshot_id=pre_compact["snapshot-id"])
    assert sorted(r.url for r in old.select("url").collect()) == want


def test_compact_restores_partition_columns(spark, table):
    """Review fix: compact()'s hive-layout output files lack the
    identity partition columns; reads restore them from manifest
    partition values — and a post-compact append (files DO carry the
    column) reads mixed layouts correctly."""
    root, _ = table
    iceberg.compact(spark, root)
    df = iceberg.read_iceberg(spark, root)
    langs = {r.lang for r in df.select("lang").distinct().collect()}
    assert langs == {"en", "de", "fr"}          # not None
    assert df.filter("lang IS NULL").count() == 0
    # per-row value correctness: lang matches the url's domain
    for r in df.select("url", "lang").collect():
        assert f"https://{r.lang}.site/" in r.url
    # mixed layout: append a normal (column-carrying) file after compact
    p, _t = _write_part(root, "it-0.parquet", ["it"] * 2, [40, 41])
    iceberg.append_files(root, [p], [{"lang": "it"}])
    df2 = iceberg.read_iceberg(spark, root)
    assert df2.filter("lang = 'it'").count() == 2
    assert df2.filter("lang IS NULL").count() == 0
    assert df2.count() == 11
    # splits/fused planning also works on the compacted layout
    sp = iceberg.iceberg_splits_df(spark, root,
                                   where=[("lang", "=", "it")],
                                   num_partitions=2)
    assert sp.count() >= 1
    # field-id resolution restores hive-layout partition values too
    # (review finding: compact output read lang=NULL on this path)
    df3 = iceberg.read_iceberg_by_field_id(spark, root)
    assert df3.filter("lang IS NULL").count() == 0
    assert df3.filter("lang = 'it'").count() == 2


def test_ts_micros_ignores_local_timezone():
    """Review fix: naive parquet-stat datetimes are UTC wall time; the
    conversion must not re-interpret them in the machine's zone."""
    from datetime import datetime, timezone

    from orc_haskell_spark.iceberg import _ts_micros

    naive = datetime(2024, 1, 1, 12, 0, 0)
    aware = datetime(2024, 1, 1, 12, 0, 0, tzinfo=timezone.utc)
    assert _ts_micros(naive) == _ts_micros(aware) == 1704110400_000_000


def test_append_files_length_mismatch_raises(tmp_path):
    root = str(tmp_path / "t_len")
    _write_part_schema_probe(root)
    p1, _ = _write_part(root, "a.parquet", ["en"], [1])
    p2, _ = _write_part(root, "b.parquet", ["de"], [2])
    with pytest.raises(ValueError, match="partition_values"):
        iceberg.append_files(root, [p1, p2], [{"lang": "en"}])


def test_incremental_and_stream_refuse_replace_range(spark, table,
                                                     tmp_path):
    """Review fix: a compact() replace snapshot inside the consumed
    range breaks the append-delta — both consumers refuse instead of
    double-processing every rewritten row."""
    from orc_haskell_spark.iceberg_stream import IcebergStreamDataSource

    root, _ = table
    meta = iceberg.table_metadata(root)
    s1 = meta["snapshots"][0]["snapshot-id"]
    # drain the stream BEFORE compaction
    spark.dataSource.register(IcebergStreamDataSource)
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    q = (spark.readStream.format("iceberg_stream").load(root)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 9
    iceberg.compact(spark, root)
    with pytest.raises(ValueError, match="replace"):
        iceberg.incremental_files(root, after_snapshot_id=s1)
    # the stream's next drain must FAIL, not re-emit the table
    q2 = (spark.readStream.format("iceberg_stream").load(root)
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    with pytest.raises(Exception):
        q2.awaitTermination(120)
    # re-baselined stream (start_seq at the replace) works again
    meta2 = iceberg.table_metadata(root)
    out2, ckpt2 = str(tmp_path / "o2"), str(tmp_path / "c2")
    p, _t = _write_part(root, "pt-0.parquet", ["pt"], [50])
    iceberg.append_files(root, [p], [{"lang": "pt"}])
    q3 = (spark.readStream.format("iceberg_stream")
          .option("start_seq", meta2["last-sequence-number"]).load(root)
          .writeStream.format("parquet").option("path", out2)
          .option("checkpointLocation", ckpt2)
          .trigger(availableNow=True).start())
    q3.awaitTermination(120)
    assert spark.read.parquet(out2).count() == 1


def test_manifest_entry_sequence_inheritance(spark, table):
    """Review fix: entries with sequence_number=null inherit the
    manifest-list entry's sequence number (Java Iceberg writes added
    entries that way); equality deletes must still sequence correctly."""
    root, _ = table
    meta = iceberg.table_metadata(root)
    snap = iceberg.select_snapshot(meta)
    _, mans = avro.read_container_file(snap["manifest-list"])
    # null out every entry-level sequence number in the newest manifest
    target = mans[-1]["manifest_path"]
    hdr, entries = avro.read_container_file(target)
    for e in entries:
        e["sequence_number"] = None
        e["file_sequence_number"] = None
    avro.write_container_file(target, hdr["avro.schema"], entries)
    files = iceberg.plan_files(root)
    by_name = {os.path.basename(f["file_path"]): f for f in files}
    # fr came from snapshot/manifest 2: inherited seq == 2
    assert by_name["fr-0.parquet"]["sequence_number"] == \
        mans[-1]["sequence_number"]


def test_field_id_resolution_reads_renamed_columns(spark, tmp_path):
    """Spec field-id resolution: a column renamed in the table schema
    still reads from older files under its OLD parquet name, matched
    by PARQUET:field_id; id-less files fall back to name resolution."""
    root = str(tmp_path / "t_fid")
    os.makedirs(os.path.join(root, "data"))

    def stamped(names, ids, arrays):
        fields = [pa.field(n, a.type,
                           metadata={b"PARQUET:field_id":
                                     str(i).encode()})
                  for n, i, a in zip(names, ids, arrays)]
        return pa.table(dict(zip(names, arrays)),
                        schema=pa.schema(fields))

    # current schema names the count column "views_new" (field id 2)
    probe = pa.table({"url": pa.array([], pa.string()),
                      "views_new": pa.array([], pa.int64())})
    iceberg.create_table(root, probe.schema)
    # old file: same field ids, OLD column name "views"
    t_old = stamped(["url", "views"], [1, 2],
                    [pa.array(["a", "b"]), pa.array([1, 2], pa.int64())])
    p_old = os.path.join(root, "data", "old.parquet")
    pq.write_table(t_old, p_old)
    # new file: current name, stamped
    t_new = stamped(["url", "views_new"], [1, 2],
                    [pa.array(["c"]), pa.array([3], pa.int64())])
    p_new = os.path.join(root, "data", "new.parquet")
    pq.write_table(t_new, p_new)
    # id-less plain file with the current name
    t_plain = pa.table({"url": pa.array(["d"]),
                        "views_new": pa.array([4], pa.int64())})
    p_plain = os.path.join(root, "data", "plain.parquet")
    pq.write_table(t_plain, p_plain)
    iceberg.append_files(root, [p_old, p_new, p_plain])
    df = iceberg.read_iceberg_by_field_id(spark, root)
    got = sorted((r.url, r.views_new) for r in df.collect())
    assert got == [("a", 1), ("b", 2), ("c", 3), ("d", 4)]
    # name-based read would have missed the old file's values
    df_name = iceberg.read_iceberg(spark, root)
    by_name = sorted((r.url, r.views_new) for r in df_name.collect())
    assert by_name[0][1] is None and by_name[1][1] is None


def test_fused_encode_applies_position_deletes(spark, table):
    """encode_iceberg over a position-delete-bearing snapshot: the
    worker filters tombstoned row indices per row group before
    encoding — decoded output equals read_iceberg exactly, including
    deletions that straddle scan-batch boundaries."""
    from orc_haskell_spark import engine

    root, _ = table
    files = iceberg.plan_files(root)
    en = next(f["file_path"] for f in files if "en-0" in f["file_path"])
    de = next(f["file_path"] for f in files if "de-0" in f["file_path"])
    iceberg.delete_rows(root, [(en, 0), (en, 3), (de, 1)])
    schema = spark.read.parquet(en).schema
    # tiny batch_rows forces multiple batches per row group, so local
    # delete indices must track the batch cursor correctly
    enc = iceberg.encode_iceberg(spark, root, num_partitions=2,
                                 batch_rows=2)
    dec = engine.decode_table(enc, schema)
    got = sorted((r.url, r.views) for r in dec.collect())
    want = sorted((r.url, r.views) for r in
                  iceberg.read_iceberg(spark, root)
                  .select("url", "views").collect())
    assert got == want and len(got) == 6
    # single-column equality deletes now apply on the fused path too
    # (vectorized pc.is_in in the worker, sequence rule honored)
    iceberg.delete_where(root, [{"lang": "fr"}])
    enc2 = iceberg.encode_iceberg(spark, root, num_partitions=2)
    got2 = sorted(r.url for r in engine.decode_table(enc2, schema)
                  .select("url").collect())
    want2 = sorted(r.url for r in iceberg.read_iceberg(spark, root)
                   .select("url").collect())
    assert got2 == want2 and not any("fr" in u for u in got2)
    # a row re-appended AFTER the delete survives (strict sequence rule)
    p, _t = _write_part(root, "fr-1.parquet", ["fr"], [22])
    iceberg.append_files(root, [p], [{"lang": "fr"}])
    enc3 = iceberg.encode_iceberg(spark, root, num_partitions=2)
    got3 = sorted(r.url for r in engine.decode_table(enc3, schema)
                  .select("url").collect())
    assert "https://fr.site/22" in got3 and \
        not any(u.startswith("https://fr.site/2") and u.endswith("/20")
                for u in got3)
    assert got3 == sorted(r.url for r in
                          iceberg.read_iceberg(spark, root)
                          .select("url").collect())
    # multi-column equality deletes apply too (pyarrow anti-join with
    # order restored; composes with the earlier single-column delete)
    iceberg.delete_where(root, [{"lang": "de", "views": 12}])
    enc4 = iceberg.encode_iceberg(spark, root, num_partitions=2)
    got4 = sorted(r.url for r in engine.decode_table(enc4, schema)
                  .select("url").collect())
    want4 = sorted(r.url for r in iceberg.read_iceberg(spark, root)
                   .select("url").collect())
    assert got4 == want4 and "https://de.site/12" not in got4


def test_encode_iceberg_to_dir_sink_with_deletes(spark, table, tmp_path):
    """Resumable fused sink over a tombstoned snapshot: committed
    stripes decode to exactly the live rows; an immediate re-run
    encodes 0 splits; a re-run after MORE deletes refuses (tombstones
    are in the resume config hash); optional Iceberg commit of the
    output works."""
    from orc_haskell_spark import engine, manifest

    root, _ = table
    files = iceberg.plan_files(root)
    en = next(f["file_path"] for f in files if "en-0" in f["file_path"])
    iceberg.delete_rows(root, [(en, 2)])
    out = str(tmp_path / "sink_out")
    ice_out = str(tmp_path / "sink_ice")
    s1 = iceberg.encode_iceberg_to_dir(
        spark, root, out, num_partitions=2, commit_to=ice_out)
    assert s1["splits_encoded"] > 0 and s1["iceberg_snapshot"]
    enc = manifest.read_fused_encoded(spark, out)
    schema = spark.read.parquet(en).schema
    got = sorted(r.url for r in engine.decode_table(
        enc.select("part_id", "stripe_id", "n_rows", "n_cols",
                   "raw_bytes", "enc_bytes", "footer", "data"),
        schema).select("url").collect())
    want = sorted(r.url for r in iceberg.read_iceberg(spark, root)
                  .select("url").collect())
    assert got == want and len(got) == 8
    # resume: nothing to do
    s2 = iceberg.encode_iceberg_to_dir(spark, root, out,
                                       num_partitions=2)
    assert s2["splits_encoded"] == 0
    # different tombstone set -> loud refusal, not silent mixing
    iceberg.delete_rows(root, [(en, 0)])
    with pytest.raises(ValueError, match="different config"):
        iceberg.encode_iceberg_to_dir(spark, root, out,
                                      num_partitions=2)


def test_transform_partition_pruning_day_and_bucket(spark, tmp_path):
    """Spec partition transforms prune: a table partitioned by
    days(warc_ts) + bucket(url, 4) drops files by date range (order-
    preserving) and by url equality (bucket hash) — the layouts a
    web-crawl table actually uses."""
    root = str(tmp_path / "t_tr")
    os.makedirs(os.path.join(root, "data"))
    probe = pa.table({
        "url": pa.array([], pa.string()),
        "warc_ts": pa.array([], pa.timestamp("us")),
        "views": pa.array([], pa.int64())})
    iceberg.create_table(
        root, probe.schema,
        partition_by=[{"source": "warc_ts", "transform": "day"},
                      {"source": "url", "transform": "bucket[4]"}])
    meta = iceberg.table_metadata(root)
    spec = meta["partition-specs"][0]["fields"]
    assert [f["name"] for f in spec] == ["warc_ts_day", "url_bucket"]
    # three files: two days x buckets of two urls
    us_day = 86_400_000_000
    rows = [("https://a.example/x", 19000), ("https://b.example/y", 19000),
            ("https://a.example/x", 19020)]
    paths, parts = [], []
    for i, (url, day) in enumerate(rows):
        t = pa.table({"url": pa.array([url] * 3),
                      "warc_ts": pa.array(
                          np.arange(3, dtype=np.int64) + day * us_day,
                          pa.timestamp("us")),
                      "views": pa.array([i, i + 1, i + 2], pa.int64())})
        p = os.path.join(root, "data", f"f{i}.parquet")
        pq.write_table(t, p)
        paths.append(p)
        parts.append({"warc_ts_day": day,
                      "url_bucket": iceberg.bucket_value("string", url, 4)})
    iceberg.append_files(root, paths, parts)
    assert len(iceberg.plan_files(root)) == 3
    # day-range prune (timestamp predicate in micros)
    late = iceberg.plan_files(
        root, where=[("warc_ts", ">=", 19010 * us_day)])
    assert [os.path.basename(f["file_path"]) for f in late] == \
        ["f2.parquet"]
    early = iceberg.plan_files(
        root, where=[("warc_ts", "<", 19001 * us_day)])
    assert {os.path.basename(f["file_path"]) for f in early} == \
        {"f0.parquet", "f1.parquet"}
    # bucket prune on url equality (b.example hashes to its own bucket
    # unless of a 1-in-4 collision; assert against computed buckets)
    ba = iceberg.bucket_value("string", "https://a.example/x", 4)
    bb = iceberg.bucket_value("string", "https://b.example/y", 4)
    got = iceberg.plan_files(
        root, where=[("url", "=", "https://b.example/y")])
    expect = {"f1.parquet"} | ({"f0.parquet", "f2.parquet"}
                               if ba == bb else set())
    assert {os.path.basename(f["file_path"]) for f in got} == expect
    # combined: day + bucket
    both = iceberg.plan_files(
        root, where=[("url", "=", "https://a.example/x"),
                     ("warc_ts", ">=", 19010 * us_day)])
    assert [os.path.basename(f["file_path"]) for f in both] == \
        (["f2.parquet"] if ba != bb or True else None)
    # reads still correct (transform names never masquerade as columns)
    df = iceberg.read_iceberg(spark, root)
    assert df.count() == 9 and "warc_ts_day" not in df.columns
    # compaction over TRANSFORM specs: delete a row, compact, and the
    # rewritten layout keeps correct transform partition values
    f0 = next(f["file_path"] for f in iceberg.plan_files(root)
              if "f0" in f["file_path"])
    iceberg.delete_rows(root, [(f0, 1)])
    want = sorted((r.url, r.views) for r in
                  iceberg.read_iceberg(spark, root)
                  .select("url", "views").collect())
    snap = iceberg.compact(spark, root)
    assert snap["summary"]["operation"] == "replace"
    got = sorted((r.url, r.views) for r in
                 iceberg.read_iceberg(spark, root)
                 .select("url", "views").collect())
    assert got == want and len(got) == 8
    # pruning on the compacted layout still works through transforms
    late2 = iceberg.plan_files(
        root, where=[("warc_ts", ">=", 19010 * us_day)])
    assert late2 and all(f["partition"]["warc_ts_day"] >= 19010
                         for f in late2)
    bb2 = iceberg.plan_files(
        root, where=[("url", "=", "https://b.example/y")])
    assert all(f["partition"]["url_bucket"] == bb for f in bb2)


def test_bucket_transform_spec_goldens():
    """bucket[N] must hash per spec: int and long of the same value
    agree (8-byte little-endian long hashing), deterministic across
    runs, and truncate/temporal transforms match hand computations."""
    assert iceberg.bucket_value("int", 34, 16) == \
        iceberg.bucket_value("long", 34, 16)
    assert 0 <= iceberg.bucket_value("string", "iceberg", 32) < 32
    assert iceberg.bucket_value("string", "iceberg", 32) == \
        iceberg.bucket_value("string", "iceberg", 32)
    assert iceberg.apply_transform("truncate[10]", "long", -7) == -10
    assert iceberg.apply_transform("truncate[3]", "string", "abcdef") \
        == "abc"
    us_day = 86_400_000_000
    assert iceberg.apply_transform("day", "timestamp", 19000 * us_day
                                   + 5) == 19000
    assert iceberg.apply_transform("year", "timestamp",
                                   19000 * us_day) == 2022 - 1970
    assert iceberg.apply_transform("month", "date", 31) == 1  # 1970-02
    assert iceberg.apply_transform("void", "string", "x") is None


def test_avro_corruption_fuzz_never_crashes():
    """300 seeded byte flips through the Avro container reader:
    raise-or-read, never crash/hang — the same contract the ORC reader
    fuzz enforces (corrupt metadata is a when, not an if, at corpus
    scale)."""
    import random

    blob = bytearray(avro.write_container(REC, ROWS * 20,
                                          codec="deflate"))
    rng = random.Random(1234)
    for _ in range(300):
        pos = rng.randrange(len(blob))
        old = blob[pos]
        blob[pos] ^= 1 << rng.randrange(8)
        try:
            avro.read_container(bytes(blob))
        except (ValueError, NotImplementedError, KeyError,
                UnicodeDecodeError, EOFError, OverflowError,
                MemoryError):
            pass
        except Exception as ex:            # zlib errors etc: named OK
            import zlib
            assert isinstance(ex, zlib.error), type(ex)
        finally:
            blob[pos] = old


def test_single_value_serialization_property():
    """Hypothesis: encode_bound/decode_bound roundtrip for every
    supported Iceberg type (bounds pruning correctness rests on this)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    cases = st.one_of(
        st.tuples(st.just("int"), st.integers(-2**31, 2**31 - 1)),
        st.tuples(st.just("long"), st.integers(-2**63, 2**63 - 1)),
        st.tuples(st.just("date"), st.integers(-2**31, 2**31 - 1)),
        st.tuples(st.just("timestamp"), st.integers(-2**63, 2**63 - 1)),
        st.tuples(st.just("double"), st.floats(allow_nan=False)),
        st.tuples(st.just("float"), st.floats(allow_nan=False,
                                              width=32)),
        st.tuples(st.just("string"), st.text(max_size=50)),
        st.tuples(st.just("binary"), st.binary(max_size=50)),
        st.tuples(st.just("boolean"), st.booleans()))

    @settings(max_examples=200, deadline=None)
    @given(cases)
    def check(case):
        t, v = case
        assert iceberg.decode_bound(t, iceberg.encode_bound(t, v)) == v

    check()


def test_iceberg_orc_data_files_read_through_own_reader(spark, table,
                                                        tmp_path):
    """Mixed-format Iceberg table: an appended ORC data file (written
    by OUR writer) reads through our stripe-parallel ORC scan, unioned
    with the parquet files, partition pruning intact."""
    import pyarrow as pa_

    from orc_haskell_spark.orcfile.writer import write_orc

    root, _ = table
    t = pa_.table({
        "url": pa_.array([f"https://it.site/{i}" for i in (60, 61)]),
        "warc_ts": pa_.array(np.array([0, 1], np.int64),
                             pa_.timestamp("us")),
        "text": pa_.array(["text it 60", "text it 61"]),
        "lang": pa_.array(["it", "it"]),
        "views": pa_.array([60, 61], pa_.int64())})
    p = os.path.join(root, "data", "it-0.orc")
    write_orc(t.to_batches(), p)
    iceberg.append_files(root, [p], [{"lang": "it"}])
    files = iceberg.plan_files(root)
    assert {f["file_format"] for f in files} == {"PARQUET", "ORC"}
    df = iceberg.read_iceberg(spark, root)
    assert df.count() == 11
    got = sorted(r.views for r in df.filter("lang = 'it'").collect())
    assert got == [60, 61]
    # partition pruning still drops the ORC file for other langs
    only_en = iceberg.plan_files(root, where=[("lang", "=", "en")])
    assert all(f["file_format"] == "PARQUET" for f in only_en)
    # fused encode refuses ORC data files honestly... unless routed
    with pytest.raises(Exception):
        iceberg.encode_iceberg(spark, root, num_partitions=2)


def test_encode_iceberg_all_orc_snapshot(spark, tmp_path):
    """All-ORC Iceberg snapshot encodes through the fused ORC twin
    (engine.encode_orc over the snapshot's file list)."""
    import pyarrow as pa_

    from orc_haskell_spark import engine
    from orc_haskell_spark.orcfile.writer import write_orc

    root = str(tmp_path / "t_orc")
    os.makedirs(os.path.join(root, "data"))
    t = pa_.table({
        "url": pa_.array([f"u{i}" for i in range(50)]),
        "views": pa_.array(np.arange(50), pa_.int64())})
    iceberg.create_table(root, t.schema)
    p = os.path.join(root, "data", "a.orc")
    write_orc(t.to_batches(), p)
    iceberg.append_files(root, [p])
    enc = iceberg.encode_iceberg(spark, root)
    dec = engine.decode_table(
        enc, spark.createDataFrame([("x", 1)], ["url", "views"]).schema)
    got = sorted((r.url, r.views) for r in dec.collect())
    assert got == sorted(zip(t.column("url").to_pylist(),
                             t.column("views").to_pylist()))


def test_encode_iceberg_all_orc_honours_num_partitions(spark, tmp_path):
    """encode_iceberg forwards num_partitions to the ORC twin: the
    snapshot's stripes are LPT-packed into that many tasks, the same as
    on a parquet snapshot."""
    import pyarrow as pa_

    from orc_haskell_spark import engine
    from orc_haskell_spark.orcfile.writer import write_orc

    root = str(tmp_path / "t_orc")
    os.makedirs(os.path.join(root, "data"))
    t = pa_.table({"views": pa_.array(np.arange(600), pa_.int64())})
    iceberg.create_table(root, t.schema)
    p = os.path.join(root, "data", "a.orc")
    write_orc(t.to_batches(), p, stripe_rows=100)
    iceberg.append_files(root, [p])
    enc = iceberg.encode_iceberg(spark, root, num_partitions=2,
                                 stripe_rows=100)
    assert enc.rdd.getNumPartitions() == 2
    assert sorted(r.part_id for r in enc.select("part_id").distinct()
                  .collect()) == [0, 1]
    dec = engine.decode_table(enc, spark.createDataFrame(
        [(1,)], ["views"]).schema)
    assert sorted(r.views for r in dec.collect()) == list(range(600))


def test_stream_admission_control_bounded_batches(spark, table,
                                                  tmp_path):
    """max_seqs_per_batch=1: within one reader's life the offset
    advances at most ONE commit per batch; across a restart the offset
    NEVER regresses (regression would re-emit committed batches). The
    Spark-call-sequence simulation drives the reader exactly as the
    microbatch engine does."""
    from orc_haskell_spark.iceberg_stream import IcebergStreamReader

    root, _ = table
    fields = [("url", "string")]
    r = IcebergStreamReader(root, fields, start_seq=0, max_seqs=1)
    assert r.initialOffset() == {"seq": 0}      # fresh query: Spark
    o1 = r.latestOffset()                       # calls this first
    assert o1 == {"seq": 1}                     # capped
    assert len(r.partitions({"seq": 0}, o1)) == 2   # en + de files
    o2 = r.latestOffset()
    assert o2 == {"seq": 2}                     # one more commit
    assert len(r.partitions(o1, o2)) == 1       # fr file
    assert r.latestOffset() == {"seq": 2}       # caught up, stable
    # RESTART with checkpoint at seq 2: a fresh reader must not offer
    # an offset below the checkpoint (start_seq long obsolete)
    r2 = IcebergStreamReader(root, fields, start_seq=0, max_seqs=1)
    o = r2.latestOffset()
    assert o == {"seq": 2}                      # uncapped first call
    assert r2.partitions({"seq": 2}, o) == []   # nothing new, no dupes
    # and the e2e drain with the cap still delivers everything once
    from orc_haskell_spark.iceberg_stream import IcebergStreamDataSource

    spark.dataSource.register(IcebergStreamDataSource)
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    q = (spark.readStream.format("iceberg_stream")
         .option("max_seqs_per_batch", 1).load(root)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() in (7, 9)     # first drain: >= snapshot 1
    q2 = (spark.readStream.format("iceberg_stream")
          .option("max_seqs_per_batch", 1).load(root)
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 9  # exactly once


def test_bucket_values_vectorized_matches_scalar():
    """Hypothesis: the numpy murmur3 bucket path is bit-identical to
    the scalar spec implementation over the full int64 range."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.integers(-2**63, 2**63 - 1), min_size=1,
                    max_size=50),
           st.integers(1, 1024))
    def check(vals, n):
        vec = iceberg.bucket_values_int(np.array(vals, np.int64), n)
        assert vec.tolist() == [
            iceberg.bucket_value("long", v, n) for v in vals]

    check()


def test_expire_snapshots_reclaims_only_unshared_files(spark, table,
                                                       tmp_path):
    """Retention: after compact(), expiring the pre-compact history
    deletes the OLD data files and delete files (referenced only by
    expired snapshots) but never the rewritten files; time travel to
    an expired snapshot raises; the current snapshot reads unchanged."""
    root, _ = table
    files0 = iceberg.plan_files(root)
    en = next(f["file_path"] for f in files0 if "en-0" in f["file_path"])
    iceberg.delete_rows(root, [(en, 0)])
    old_snap = iceberg.select_snapshot(iceberg.table_metadata(root))
    iceberg.compact(spark, root)
    want = sorted(r.url for r in iceberg.read_iceberg(spark, root)
                  .select("url").collect())
    # dry run names the doomed files without touching anything
    plan = iceberg.expire_snapshots(root, keep_last=1, dry_run=True)
    assert plan["expired"] and plan["deleted_files"]
    assert all(os.path.exists(p) for p in plan["deleted_files"])
    assert any("en-0" in p for p in plan["deleted_files"])
    res = iceberg.expire_snapshots(root, keep_last=1)
    assert res["deleted_files"] == plan["deleted_files"]
    assert not any(os.path.exists(p) for p in res["deleted_files"])
    # current snapshot unaffected; expired one unreachable
    got = sorted(r.url for r in iceberg.read_iceberg(spark, root)
                 .select("url").collect())
    assert got == want
    with pytest.raises(ValueError):
        iceberg.plan_files(root, snapshot_id=old_snap["snapshot-id"])
    # shared-file safety: append-only history shares files across
    # snapshots — expiring old appends must delete NOTHING
    root2 = str(tmp_path / "t_share")
    _write_part_schema_probe(root2)
    for k, lang in enumerate(("en", "de", "fr")):
        p, _t = _write_part(root2, f"{lang}.parquet", [lang], [k])
        iceberg.append_files(root2, [p], [{"lang": lang}])
    res2 = iceberg.expire_snapshots(root2, keep_last=1)
    assert len(res2["expired"]) == 2
    # only the expired snapshots' own manifest-LIST metadata goes;
    # every DATA file is shared with the retained snapshot and stays
    assert all(os.sep + "metadata" + os.sep in p
               for p in res2["deleted_files"])
    assert iceberg.read_iceberg(spark, root2).count() == 3


def test_scan_row_group_tombstone_property(tmp_path):
    """Hypothesis: for random row-group layouts, batch sizes, position
    tombstones and equality values, scan_row_group yields exactly the
    rows a naive pandas filter keeps, in order."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import pyarrow.parquet as pq_
    from orc_haskell_spark.engine import scan_row_group

    path = str(tmp_path / "t.parquet")
    n = 200
    t = pa.table({"id": pa.array(np.arange(n), pa.int64()),
                  "k": pa.array([f"k{i % 17}" for i in range(n)])})
    pq_.write_table(t, path, row_group_size=37)   # ragged groups
    pf = pq_.ParquetFile(path)
    counts = [pf.metadata.row_group(i).num_rows
              for i in range(pf.metadata.num_row_groups)]
    offs = np.concatenate(([0], np.cumsum(counts)))

    @settings(max_examples=40, deadline=None)
    @given(st.sets(st.integers(0, n - 1), max_size=60),
           st.integers(1, 64),
           st.sets(st.integers(0, 16), max_size=6))
    def check(positions, batch_rows, dead_k):
        drops = {path: np.array(sorted(positions), np.int64)}
        vals = {path: [("k", pa.array([f"k{i}" for i in sorted(dead_k)]
                                      ))]} if dead_k else None
        got = []
        rg_offsets = {}
        for rg in range(len(counts)):
            for rb in scan_row_group(pf, path, rg, batch_rows,
                                     drop_positions=drops,
                                     rg_offsets=rg_offsets,
                                     drop_values=vals):
                got.extend(rb.column(0).to_pylist())
        want = [i for i in range(n)
                if i not in positions
                and (i % 17) not in (dead_k or set())]
        assert got == want

    check()


def test_stream_reader_read_null_fill_and_casts(tmp_path):
    """IcebergStreamReader.read: files missing an added column emit a
    typed null column; int32 files cast up to the schema's long."""
    import pyarrow.parquet as pq_

    from orc_haskell_spark.iceberg_stream import (IcebergFilePartition,
                                                  IcebergStreamReader)

    p = str(tmp_path / "f.parquet")
    pq_.write_table(pa.table({
        "a": pa.array([1, 2], pa.int32()),
        "ts": pa.array(np.array([0, 1], np.int64),
                       pa.timestamp("us"))}), p)
    fields = [("a", "long"), ("ts", "timestamp"), ("added", "string")]
    r = IcebergStreamReader(str(tmp_path), fields, 0)
    batches = list(r.read(IcebergFilePartition(p, fields)))
    t = pa.Table.from_batches(batches)
    assert t.column("a").type == pa.int64()          # upcast
    assert t.column("ts").type == pa.timestamp("us")
    assert t.column("added").type == pa.string()
    assert t.column("added").null_count == 2         # typed null fill
    assert t.column("a").to_pylist() == [1, 2]


def test_expire_older_than_and_ranges_from_where(table):
    root, _ = table
    meta = iceberg.table_metadata(root)
    s1, s2 = meta["snapshots"]
    # older_than keeps everything newer, regardless of keep_last
    res = iceberg.expire_snapshots(
        root, keep_last=1, older_than_ms=s1["timestamp-ms"] - 1,
        dry_run=True)
    assert res["expired"] == []
    res2 = iceberg.expire_snapshots(
        root, keep_last=1, older_than_ms=s2["timestamp-ms"] + 1,
        dry_run=True)
    assert res2["expired"] == [s1["snapshot-id"]]
    # ranges_from_where op mapping
    assert iceberg.ranges_from_where(None) is None
    assert iceberg.ranges_from_where(
        [("a", "=", 5), ("b", ">", 1), ("c", "<=", 9),
         ("d", "in", [3, 7])]) == [
        ("a", 5, 5), ("b", 1, None), ("c", None, 9), ("d", 3, 7)]


def test_read_iceberg_schedules_only_pruned_files(spark, table):
    """Catalyst never sees pruned files: the scan's inputFiles is
    exactly the metadata-surviving set (file-granular pushdown, the
    plan-shape property the 100 TB grade cares about)."""
    root, _ = table
    df = iceberg.read_iceberg(spark, root, where=[("lang", "=", "de")])
    files = df.inputFiles()
    assert len(files) == 1 and "de-0" in files[0]
    df2 = iceberg.read_iceberg(spark, root,
                               where=[("views", ">=", 15)])
    files2 = df2.inputFiles()
    assert len(files2) == 1 and "fr-0" in files2[0]


def test_delete_antijoins_broadcast_in_plan(spark, table):
    """Plan shape: tombstone application must be a BROADCAST anti-join
    (tombstones are metadata-scale; a shuffle join over the corpus
    would be the 100 TB mistake)."""
    root, _ = table
    files = iceberg.plan_files(root)
    en = next(f["file_path"] for f in files if "en-0" in f["file_path"])
    iceberg.delete_rows(root, [(en, 1)])
    iceberg.delete_where(root, [{"url": "https://fr.site/21"}])
    df = iceberg.read_iceberg(spark, root)
    df.collect()                      # AQE finalizes the executed plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    assert "SortMergeJoin" not in plan


def test_stream_decode_encoded_iceberg_table(spark, tmp_path):
    """Composition: fused-encode a table, commit the stripes as an
    Iceberg table, then STREAM that table and decode each micro-batch
    — the serving shape where consumers tail the encoded corpus and
    decode incrementally, exactly once."""
    from orc_haskell_spark import engine, manifest
    from orc_haskell_spark.iceberg_stream import IcebergStreamDataSource

    src = str(tmp_path / "src")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "enc")
    manifest.encode_parquet_to_dir(spark, src, out, num_partitions=2,
                                   source="stream-decode-test")
    ice = str(tmp_path / "ice")
    iceberg.commit_parquet_dir(ice, os.path.join(out, "stripes"))
    spark.dataSource.register(IcebergStreamDataSource)
    schema = docs.schema
    got = {"rows": 0, "batches": 0}

    def sink(batch_df, batch_id):
        enc = batch_df.select("part_id", "stripe_id", "n_rows",
                              "n_cols", "raw_bytes", "enc_bytes",
                              "footer", "data")
        got["rows"] += engine.decode_table(enc, schema).count()
        got["batches"] += 1

    q = (spark.readStream.format("iceberg_stream").load(ice)
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert got["rows"] == docs.count() and got["batches"] >= 1


def test_local_collapses_every_file_uri_spelling():
    """PyIceberg writes file:///, Spark _metadata writes file:/ — all
    spellings must land on ONE canonical path or position-delete
    anti-joins silently miss and deleted rows resurrect."""
    assert iceberg._local("file:/a/b.parquet") == "/a/b.parquet"
    assert iceberg._local("file:///a/b.parquet") == "/a/b.parquet"
    assert iceberg._local("file://a/b.parquet") == "/a/b.parquet"
    assert iceberg._local("/a/b.parquet") == "/a/b.parquet"
    assert iceberg._local("s3://bucket/k") == "s3://bucket/k"


def test_position_deletes_written_with_triple_slash_uris(spark, tmp_path):
    """A delete file recording file:/// URIs (external writer form)
    still kills the rows on the read path."""
    root = str(tmp_path / "t_uri")
    os.makedirs(os.path.join(root, "data"))
    t = pa.table({"url": pa.array([f"u{i}" for i in range(10)]),
                  "views": pa.array(np.arange(10), pa.int64())})
    iceberg.create_table(root, t.schema)
    p = os.path.join(root, "data", "a.parquet")
    pq.write_table(t, p)
    iceberg.append_files(root, [p])
    # hand-write the position-delete parquet with a file:/// URI (the
    # form external writers like PyIceberg record)
    del_t = pa.table({"file_path": pa.array(["file://" + p]),
                      "pos": pa.array([3], pa.int64())})
    dp = os.path.join(root, "data", "del-uri.parquet")
    pq.write_table(del_t, dp)
    meta = iceberg.table_metadata(root)
    version = iceberg._current_version(root)
    seq = meta["last-sequence-number"] + 1
    iceberg._commit_delete_file(
        root, meta, version, seq, seq, meta["last-updated-ms"] + 1000,
        dp, content=1, n_rows=1,
        summary_key="added-position-deletes")
    got = sorted(r.url for r in
                 iceberg.read_iceberg(spark, root).collect())
    assert got == sorted(f"u{i}" for i in range(10) if i != 3)


def test_keep_partition_spec_type_mismatch_keeps_file():
    """A string partition value (temporal identity values serialize as
    Avro strings) compared against an int predicate must KEEP the file
    conservatively, not crash planning."""
    pred = iceberg.Predicate([("day", ">=", 19700)])
    spec = [{"name": "day", "source-id": 1, "transform": "identity"}]
    assert iceberg.keep_partition_spec(
        pred, {"day": "2024-01-10"}, spec, {1: "int"}, {1: "day"})


def test_encode_iceberg_to_dir_where_is_row_exact(spark, tmp_path):
    """--where semantics on the fused sink: pruning keeps whole row
    groups, but the residual re-applies ROW-level — the encoded output
    contains exactly the matching rows, not the kept groups' extras."""
    from orc_haskell_spark import engine, manifest

    root = str(tmp_path / "t_resid")
    os.makedirs(os.path.join(root, "data"))
    n = 1000
    t = pa.table({
        "url": pa.array([f"u{i:05d}" for i in range(n)]),
        "text": pa.array([f"t{i}" for i in range(n)]),
        "views": pa.array(np.arange(n), pa.int64())})
    p = os.path.join(root, "data", "big.parquet")
    pq.write_table(t, p, row_group_size=100)
    iceberg.create_table(root, t.schema)
    iceberg.append_files(root, [p])
    out = str(tmp_path / "resid_out")
    s = iceberg.encode_iceberg_to_dir(
        spark, root, out, where=[("views", ">=", 850)],
        num_partitions=2)
    # row groups 8 and 9 survive pruning (rows 800..999)...
    assert s["splits_total"] == 2
    enc = manifest.read_fused_encoded(spark, out)
    schema = spark.read.parquet(p).schema
    got = sorted(r.views for r in engine.decode_table(enc, schema)
                 .select("views").collect())
    # ...but rows 800..849 of the kept group are filtered row-level
    assert got == list(range(850, 1000))


def test_where_residual_missing_column_refuses(spark, tmp_path):
    """A residual on a column absent from a file's physical schema must
    refuse loudly (get_field_index returns -1 and the old code filtered
    on the LAST column)."""
    import pyarrow as pa

    from orc_haskell_spark import engine

    rb = pa.record_batch([pa.array([1, 2], pa.int64())], names=["a"])
    with pytest.raises(ValueError, match="absent"):
        engine._residual_mask(rb, [("missing", "=", 1)])


def test_fused_where_on_hive_layout_partition_column(spark, tmp_path):
    """--where on an identity-partition column over hive-layout files
    (column only in metadata, not in the data files): the plan-time
    prune is exact, the term is dropped from the residual, and the
    encode succeeds with exactly the matching rows."""
    import pyarrow.parquet as pq2

    from orc_haskell_spark import engine, manifest

    root = str(tmp_path / "t_hive")
    os.makedirs(os.path.join(root, "data"))
    full = pa.table({
        "url": pa.array([f"u{i}" for i in range(20)]),
        "views": pa.array(np.arange(20), pa.int64()),
        "lang": pa.array(["en" if i % 2 else "de" for i in range(20)])})
    iceberg.create_table(root, full.schema, partition_by=["lang"])
    paths, parts = [], []
    for lang in ("de", "en"):
        import pyarrow.compute as pc

        sub = full.filter(pc.equal(full.column("lang"), lang))
        sub = sub.drop_columns(["lang"])     # hive layout: metadata-only
        p = os.path.join(root, "data", f"{lang}.parquet")
        pq2.write_table(sub, p)
        paths.append(p)
        parts.append({"lang": lang})
    iceberg.append_files(root, paths, parts)
    out = str(tmp_path / "hive_out")
    s = iceberg.encode_iceberg_to_dir(
        spark, root, out, where=[("lang", "=", "en")], num_partitions=2)
    assert s["splits_encoded"] > 0
    enc = manifest.read_fused_encoded(spark, out)
    schema = spark.read.parquet(paths[0]).schema
    got = sorted(r.views for r in engine.decode_table(enc, schema)
                 .select("views").collect())
    assert got == [i for i in range(20) if i % 2 == 1]   # en rows only


def test_read_iceberg_pruned_to_empty_returns_empty(spark, table):
    # a predicate pruning EVERY file is a valid empty scan, not an
    # error (round-6 fix: it used to raise "no live data files")
    root, _ = table
    df = iceberg.read_iceberg(spark, root,
                              where=[("lang", "=", "zz")])
    assert df.count() == 0
    assert df.columns == ["url", "warc_ts", "text", "lang", "views"]
    # projection composes with the empty scan
    df2 = iceberg.read_iceberg(spark, root,
                               where=[("lang", "=", "zz")],
                               columns=["url", "views"])
    assert df2.columns == ["url", "views"] and df2.count() == 0
    # an unpredicated read of a live table still returns rows
    assert iceberg.read_iceberg(spark, root).count() == 9
