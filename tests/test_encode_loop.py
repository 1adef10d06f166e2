"""One worker encode loop (``engine.encode_stripes``) behind every encode
sink: the sinks agree stripe for stripe, ``encode_to_dir`` streams its
parts under the byte budget, and the fused sink's parquet carries no
statistics on its payload columns."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from orc_haskell_spark import engine, gen, manifest, stripe

ROWS = 1500
STRIPE_ROWS = 500
FUSED_EXTRA = [pa.field("task_key", pa.string()), pa.field("file", pa.string()),
               pa.field("rg", pa.int32())]


@pytest.fixture(scope="module")
def one_rg_input(tmp_path_factory):
    """A pages table as ONE parquet row group, so every sink (one task,
    one split) cuts the same stripes."""
    d = tmp_path_factory.mktemp("one_rg")
    t = gen.pages_table(0, ROWS)
    pq.write_table(t, str(d / "part-0.parquet"), row_group_size=ROWS)
    return str(d), t


def _by_stripe(t: pa.Table) -> dict:
    """(part_id, stripe_id) -> the stripe's row, footer parsed."""
    out = {}
    for r in t.to_pylist():
        r["footer"] = json.loads(r["footer"])
        out[(r.pop("part_id"), r.pop("stripe_id"))] = r
    return out


def test_encode_stripe_looked_up_through_its_module(monkeypatch):
    """The loop calls ``stripe.encode_stripe`` by attribute on every
    stripe, so a wrapper installed there (perfbench's tracer) sees each
    call, with the loop's codec cache."""
    calls = []
    real = stripe.encode_stripe

    def spy(b, cfg=None, cache=None):
        calls.append(id(cache))
        return real(b, cfg, cache)

    monkeypatch.setattr(stripe, "encode_stripe", spy)
    t = gen.pages_table(0, 300)
    rows = list(engine.make_encode_fn(stripe_rows=100)(iter(t.to_batches())))
    assert len(rows) == len(calls) == 3
    assert len(set(calls)) == 1  # one cache per task
    assert [r.column("stripe_id")[0].as_py() for r in rows] == [0, 1, 2]


def test_sinks_agree(spark, one_rg_input, tmp_path):
    """make_encode_fn, encode_table, encode_parquet and
    encode_parquet_to_dir give identical stripes (ids, sizes, footer
    and payload bytes) on the same one-row-group input, and every sink's
    rows carry ENCODED_ARROW_SCHEMA (the fused sink plus its three
    split columns). The raw byte counts agree too: Spark's Arrow
    batches carry an all-valid validity buffer on every nullable column
    that the parquet-read batches lack, and it is not counted."""
    src, _ = one_rg_input
    scan = pq.ParquetFile(os.path.join(src, "part-0.parquet")).iter_batches()
    rows = list(engine.make_encode_fn(STRIPE_ROWS)(scan))
    assert all(r.schema == engine.ENCODED_ARROW_SCHEMA for r in rows)
    ref = _by_stripe(pa.Table.from_batches(rows))
    assert len(ref) == ROWS // STRIPE_ROWS

    df = spark.read.parquet(src)
    spark_sinks = {
        "encode_table": engine.encode_table(df, STRIPE_ROWS, auto_fuse=False),
        "encode_parquet": engine.encode_parquet(spark, src, num_partitions=1,
                                                stripe_rows=STRIPE_ROWS),
    }
    for name, enc in spark_sinks.items():
        got = enc.toArrow()
        assert got.schema == engine.ENCODED_ARROW_SCHEMA, name
        assert _by_stripe(got) == ref, name

    out = str(tmp_path / "fused")
    manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=STRIPE_ROWS,
                                   num_partitions=1)
    sdir = os.path.join(out, "stripes")
    parts = [pq.read_table(os.path.join(sdir, f)) for f in os.listdir(sdir)]
    assert len(parts) == 1
    fused = parts[0]
    assert fused.schema == pa.schema(list(engine.ENCODED_ARROW_SCHEMA)
                                     + FUSED_EXTRA)
    assert _by_stripe(fused.drop_columns(["task_key", "file", "rg"])) == ref


def test_fused_sink_parquet_has_no_payload_statistics(spark, one_rg_input,
                                                      tmp_path):
    """The fused sink's part file keeps parquet statistics on its small
    columns only; the stripes still read back and decode."""
    src, t = one_rg_input
    out = str(tmp_path / "fused")
    manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=STRIPE_ROWS,
                                   num_partitions=1)
    sdir = os.path.join(out, "stripes")
    (name,) = os.listdir(sdir)
    md = pq.ParquetFile(os.path.join(sdir, name)).metadata
    rg = md.row_group(0)
    stats = {rg.column(i).path_in_schema: rg.column(i).is_stats_set
             for i in range(rg.num_columns)}
    assert not stats["data"] and not stats["footer"]
    assert all(v for k, v in stats.items() if k not in ("data", "footer"))
    schema = spark.read.parquet(src).schema
    dec = engine.decode_table(manifest.read_fused_encoded(spark, out), schema)
    assert dec.toArrow().sort_by("url").equals(
        spark.read.parquet(src).toArrow().sort_by("url"))


def test_encode_to_dir_streams_sorted_parts(spark, monkeypatch, tmp_path):
    """encode_to_dir sorts each task's rows by part below the Python
    stage, and cuts a part's stripes by the byte budget read at call
    time: a small DEFAULT_STRIPE_BYTES gives one part several stripes,
    with every input row decoded back."""
    df = gen.pages_df(spark, 1000, num_partitions=2)
    with_part = df.withColumn("_part", manifest._part_expr("url", 2))
    plan = manifest._part_stripes(with_part, 2, 100_000, None) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    below = plan[plan.index("MapInArrow"):]
    assert "Sort [_part" in below, plan

    monkeypatch.setattr(engine, "DEFAULT_STRIPE_BYTES", 256 << 10)
    path = str(tmp_path / "enc")
    r = manifest.encode_to_dir(df, path, partition_key="url",
                               num_partitions=2, stripe_rows=100_000)
    assert r["parts_encoded"] == 2
    enc = manifest.read_encoded(spark, path)
    per_part = {row.part_id: row["count"]
                for row in enc.groupBy("part_id").count().collect()}
    assert per_part and all(n > 1 for n in per_part.values()), per_part
    dec = engine.decode_table(enc.drop("part_id"), df.schema)
    assert dec.toArrow().sort_by("url").equals(df.toArrow().sort_by("url"))
