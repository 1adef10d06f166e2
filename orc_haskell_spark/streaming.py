"""Structured Streaming ingestion into the columnar encoder.

The reference has no event-time streaming — its "streaming" is
constant-memory stripe-at-a-time IO (SURVEY.md §2.3). At cluster scale
the analog is continuous ingestion: a readStream source (files landing
in a crawl directory, Kafka, rate) encoded micro-batch by micro-batch
through the same mapInArrow path, with the manifest as the exactly-once
ledger.

``foreachBatch`` is the right tool (not a stateful operator): encoding
is a stateless per-row transform, and foreachBatch gives us batch-id
idempotence — a replayed micro-batch is skipped because its batch_id is
already in the manifest (checkpoint + ledger = exactly-once sink).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from . import engine


def stream_encode(stream_df: DataFrame, path: str,
                  checkpoint: str | None = None,
                  stripe_rows: int = engine.DEFAULT_STRIPE_ROWS,
                  config: dict | None = None,
                  trigger_available_now: bool = True):
    """Encode a streaming DataFrame into path/stripes with a batch ledger.

    Returns the StreamingQuery. Use ``trigger_available_now`` for
    drain-and-stop semantics (tests, backfills); False for continuous
    micro-batches.
    """
    spark = stream_df.sparkSession
    spath = os.path.join(path, "stripes")
    ledger = os.path.join(path, "ledger")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        done = _read_ledger(spark, ledger)
        if done is not None and batch_id in {
                r.batch_id for r in done.select("batch_id").collect()}:
            # replayed micro-batch: already encoded
            return
        enc = engine.encode_table(batch_df, stripe_rows=stripe_rows,
                                  config=config)
        enc = enc.withColumn("batch_id", F.lit(batch_id))
        # stripes land before the ledger row; a crash in that window
        # leaves orphan stripes for this batch_id. Partitioning by
        # batch_id with dynamic overwrite makes the replay REPLACE them
        # (idempotent), and readers additionally filter by the ledger.
        (enc.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", "uncompressed")
            .partitionBy("batch_id")
            .parquet(spath))
        row = (spark.createDataFrame([(batch_id,)], "batch_id bigint")
               .withColumn("committed_at", F.current_timestamp()))
        row.write.mode("append").parquet(ledger)

    writer = stream_df.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(stream_df: DataFrame, ts_col: str = "ts",
                          key_col: str = "event_type",
                          window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Event-time windowed aggregation with late-data handling: the
    standard watermark + tumbling-window pattern over an event stream
    (crawl-rate monitoring alongside the encode pipeline)."""
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"), key_col)
            .agg(F.count("*").alias("events"),
                 F.approx_count_distinct("user_id").alias("approx_users"))
            .select(F.col("w.start").alias("window_start"), key_col,
                    "events", "approx_users"))


def _read_ledger(spark, path: str) -> DataFrame | None:
    """The batch ledger, or None when it does not exist yet: only a
    MISSING ledger means "nothing committed", an unreadable one raises."""
    try:
        return spark.read.parquet(path)
    except Exception:
        if os.path.exists(path):
            raise
        return None


def read_stream_encoded(spark, path: str):
    """Committed stripes only: the ledger is the source of truth, so
    stripes whose batch_id never reached the ledger (crash between the
    stripe write and the ledger append) are invisible to readers. The
    ledger is one row per micro-batch — the semi-join broadcasts.

    A missing/empty ledger (crash before the very first append, or a
    reader racing the first micro-batch) means NOTHING is committed:
    return an empty DataFrame with the stripes schema, not an error."""
    stripes = spark.read.parquet(os.path.join(path, "stripes"))
    ledger = _read_ledger(spark, os.path.join(path, "ledger"))
    if ledger is None:
        return stripes.filter(F.lit(False))
    return stripes.join(
        F.broadcast(ledger.select("batch_id").distinct()),
        "batch_id", "left_semi")


def decode_stream(spark, path: str, schema) -> DataFrame:
    return engine.decode_table(
        read_stream_encoded(spark, path).drop("batch_id"), schema)
