"""Structured Streaming encode: file source -> encoded stripes + ledger."""

from __future__ import annotations

import time

from orc_haskell_spark import gen, streaming


def test_stream_encode_file_source(spark, tmp_path):
    src = str(tmp_path / "landing")
    out = str(tmp_path / "encoded")
    ckpt = str(tmp_path / "ckpt")

    # two "crawl drops" land as parquet files
    gen.pages_df(spark, 1000, 2).write.parquet(src)
    gen.pages_df(spark, 1000, 2).filter("warc_ts IS NOT NULL") \
        .write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "2").parquet(src))
    q = streaming.stream_encode(stream, out, checkpoint=ckpt,
                                stripe_rows=500)
    q.awaitTermination(120)
    assert not q.isActive

    enc = streaming.read_stream_encoded(spark, out)
    assert enc.count() >= 2
    dec = streaming.decode_stream(spark, out, schema)
    assert dec.count() == 2000

    # re-running the drained stream encodes nothing new (ledger idempotence)
    before = enc.count()
    q2 = streaming.stream_encode(
        (spark.readStream.schema(schema).parquet(src)), out,
        checkpoint=ckpt, stripe_rows=500)
    q2.awaitTermination(120)
    after = streaming.read_stream_encoded(spark, out).count()
    assert after == before

    # late-arriving file picked up incrementally, not re-encoding old data
    gen.pages_df(spark, 500, 1).write.mode("append").parquet(src)
    time.sleep(0.2)
    q3 = streaming.stream_encode(
        (spark.readStream.schema(schema).parquet(src)), out,
        checkpoint=ckpt, stripe_rows=500)
    q3.awaitTermination(120)
    dec2 = streaming.decode_stream(spark, out, schema)
    assert dec2.count() == 2500


def test_orphan_stripes_invisible_without_ledger_row(spark, tmp_path):
    """Crash window: stripes written, ledger row not. Readers must not
    see the orphan batch (the ledger is the source of truth)."""
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "landing")
    out = str(tmp_path / "encoded")
    ckpt = str(tmp_path / "ckpt")
    gen.pages_df(spark, 500, 1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    q = streaming.stream_encode(
        spark.readStream.schema(schema).parquet(src), out,
        checkpoint=ckpt, stripe_rows=250)
    q.awaitTermination(120)
    committed = streaming.decode_stream(spark, out, schema).count()
    assert committed == 500

    # simulate a crash that left stripes for batch 999 but no ledger row
    spath = os.path.join(out, "stripes")
    orphan = (spark.read.parquet(spath)
              .withColumn("batch_id", F.lit(999)))
    (orphan.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "uncompressed")
        .partitionBy("batch_id").parquet(spath))

    assert streaming.decode_stream(spark, out, schema).count() == committed


def test_stateful_sessionization_stream(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): gap sessions
    close on event-time timeout; closed sessions match the batch
    (Catalyst lag+cumsum) sessionizer."""
    import datetime
    import glob

    from orc_haskell_spark.pipeline import sessions

    d = str(tmp_path)
    schema = "user_id long, ts timestamp"
    rows1 = [(1, datetime.datetime(2024, 1, 1, 10, 0, 0)),
             (1, datetime.datetime(2024, 1, 1, 10, 5, 0)),
             (2, datetime.datetime(2024, 1, 1, 11, 0, 0))]
    rows2 = [(1, datetime.datetime(2024, 1, 2, 9, 0, 0))]
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(f"{d}/in/f1")

    def drain():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(f"{d}/in/*"))
        q = (sessions.sessionize_stream(stream, gap_minutes=30,
                                        watermark="1 minute")
             .writeStream.format("parquet").option("path", f"{d}/out")
             .outputMode("append")
             .option("checkpointLocation", f"{d}/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append") \
        .parquet(f"{d}/in/f2")
    drain()
    assert glob.glob(f"{d}/out/*.parquet")
    got = {(r.user_id, str(r.session_start), str(r.session_end), r.n_events)
           for r in spark.read.parquet(f"{d}/out").collect()}
    # every closed session agrees with the batch sessionizer on rows1
    batch = {(r.user_id, str(r.session_start), str(r.session_end),
              r.n_events)
             for r in sessions.sessionize(
                 spark.createDataFrame(rows1, schema), "user_id", "ts",
                 30).collect()}
    assert batch <= got | batch and got <= batch  # closed == batch(rows1)


def test_sessionize_into_encode_sink(spark, tmp_path):
    """Composition: the stateful sessionizer's append stream feeds the
    exactly-once encode sink — closed sessions land as encoded stripes
    with a ledger, then decode back exactly."""
    import datetime

    from orc_haskell_spark import engine
    from orc_haskell_spark.pipeline import sessions

    d = str(tmp_path)
    schema = "user_id long, ts timestamp"
    rows1 = [(1, datetime.datetime(2024, 1, 1, 10, 0, 0)),
             (1, datetime.datetime(2024, 1, 1, 10, 5, 0)),
             (2, datetime.datetime(2024, 1, 1, 11, 0, 0))]
    rows2 = [(9, datetime.datetime(2024, 1, 2, 9, 0, 0))]
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(f"{d}/in/f1")

    def drain():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(f"{d}/in/*"))
        sess = sessions.sessionize_stream(stream, gap_minutes=30,
                                          watermark="1 minute")
        q = streaming.stream_encode(sess, f"{d}/enc",
                                    checkpoint=f"{d}/ckpt",
                                    stripe_rows=100)
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append") \
        .parquet(f"{d}/in/f2")
    drain()
    from pyspark.sql.types import (LongType, StructField, StructType,
                                   TimestampType)

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType())])
    dec = streaming.decode_stream(spark, f"{d}/enc", out_schema)
    got = {(r.user_id, r.n_events) for r in dec.collect()}
    assert (1, 2) in got and (2, 1) in got  # rows1 sessions closed+encoded


def test_read_stream_encoded_missing_ledger(spark, tmp_path):
    """Stripes present but no ledger yet (crash before the first append,
    or a reader racing the first micro-batch): committed-only semantics
    mean EMPTY, not an error."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "enc")
    df = spark.range(10).withColumn("batch_id", F.lit(0))
    df.write.parquet(path + "/stripes")
    out = streaming.read_stream_encoded(spark, path)
    assert out.count() == 0
    assert out.columns == df.columns


def test_corrupt_ledger_part_fails_the_sink(spark, tmp_path):
    """A ledger that exists but cannot be read is not "nothing done":
    the next micro-batch must fail instead of re-encoding batches the
    ledger may already hold."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    src, out = str(tmp_path / "landing"), str(tmp_path / "encoded")
    ckpt = str(tmp_path / "ckpt")
    gen.pages_df(spark, 200, 1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def run():
        q = streaming.stream_encode(
            spark.readStream.schema(schema).parquet(src), out,
            checkpoint=ckpt, stripe_rows=100)
        q.awaitTermination(120)
        return q

    assert run().exception() is None
    with open(os.path.join(out, "ledger", "part-corrupt.parquet"),
              "wb") as f:
        f.write(b"PAR1 this is not a parquet footer PAR1")
    gen.pages_df(spark, 200, 1).write.mode("append").parquet(src)
    time.sleep(0.2)
    with pytest.raises(StreamingQueryException):
        run()
    stripes = spark.read.parquet(os.path.join(out, "stripes"))
    assert stripes.select("batch_id").distinct().count() == 1


def test_sessionize_stream_buffers_until_watermark(spark, tmp_path):
    """A session closed by a gap WITHIN a batch must stay buffered until
    the watermark passes its close time: an out-of-order event arriving
    in a LATER micro-batch (above the watermark) that falls inside the
    buffered session's gap window merges into it instead of spawning a
    spurious split session. Emitted set == batch sessionizer over all
    events whose sessions the final watermark closed."""
    import datetime as dt
    import glob

    from orc_haskell_spark.pipeline import sessions

    d = str(tmp_path)
    schema = "user_id long, ts timestamp"
    T = dt.datetime
    f1 = [(1, T(2024, 1, 1, 10, 0)), (1, T(2024, 1, 1, 11, 0)),
          (9, T(2024, 1, 1, 11, 5))]
    # 10:58 is above the watermark (10:55) and inside the 11:00
    # session's 30-min gap window: MUST merge, not split
    f2 = [(1, T(2024, 1, 1, 10, 58)), (9, T(2024, 1, 1, 12, 0))]
    f3 = [(9, T(2024, 1, 2, 9, 0))]

    def drain():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(f"{d}/in/*"))
        q = (sessions.sessionize_stream(stream, gap_minutes=30,
                                        watermark="10 minutes")
             .writeStream.format("parquet").option("path", f"{d}/out")
             .outputMode("append")
             .option("checkpointLocation", f"{d}/ckpt")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    for i, rows in enumerate([f1, f2, f3]):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(f"{d}/in/f{i}")
        drain()
    assert glob.glob(f"{d}/out/*.parquet")
    got = {(r.user_id, str(r.session_start), str(r.session_end), r.n_events)
           for r in spark.read.parquet(f"{d}/out").collect()}
    all_events = f1 + f2 + f3
    final_wm = max(t for _, t in all_events) - dt.timedelta(minutes=10)
    batch = {(r.user_id, str(r.session_start), str(r.session_end),
              r.n_events)
             for r in sessions.sessionize(
                 spark.createDataFrame(all_events, schema), "user_id",
                 "ts", 30).collect()
             if r.session_end + dt.timedelta(minutes=30) <= final_wm}
    assert got == batch
    # the merged session is present as ONE row (the bug produced a split)
    assert (1, "2024-01-01 10:58:00", "2024-01-01 11:00:00", 2) in got
