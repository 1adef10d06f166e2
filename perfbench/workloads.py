"""The workloads: inputs, the reference checksums, the timed write and
read jobs, and the checks on their outputs. Why each workload exists,
and which layer metrics should move which end-to-end metric on it, is
in README.md.

Every timed job returns its own wall seconds, so clean-up and output
checks around it stay out of the measurement.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs

_P = 2147483647


def checksums(df, cols: list[str]) -> list:
    """Row count plus one order-independent checksum per column."""
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)),
                 *[F.sum(F.pmod(F.xxhash64(c), F.lit(_P))) for c in cols]
                 ).collect()[0]
    return list(row)


def _median_rate(units: float, secs: list[float]) -> float:
    return units / statistics.median(secs) if secs else 0.0


class StripeWorkload:
    """A parquet table encoded to stripes (the write job) and decoded
    back in full to the noop sink (the read job)."""

    name = ""
    n_files = 1
    rgs_per_file = 1
    small_rows = 2000

    def __init__(self) -> None:
        self.k = 0
        self.out: str | None = None
        self.enc_bytes = 0

    def table(self, seed: int) -> pa.Table:
        raise NotImplementedError

    # ---------------------------------------------------------- set-up
    def make_inputs(self, b) -> None:
        t = self.table(b.seed)
        self.source = t
        self.cols = t.column_names
        self.rows = t.num_rows
        self.raw = t.nbytes
        inputs.write_parquet(t, b.path("in"), self.n_files,
                             self.rgs_per_file)
        inputs.write_parquet(t.slice(0, self.small_rows), b.path("small_in"),
                             1, 2)

    def cold_start_args(self, b) -> list[str]:
        return [b.path("small_in", "part-000.parquet")]

    def reference(self, b) -> None:
        """The source's schema and checksums, read by Spark."""
        src = b.spark.read.parquet(b.path("in"))
        self.schema = src.schema
        self.ref = checksums(src, self.cols)

    # ------------------------------------------------------- timed jobs
    def _encode(self, b, src: str, out: str) -> None:
        raise NotImplementedError

    def encoded(self, b, out: str):
        raise NotImplementedError

    def encoded_stats(self, out: str) -> pa.Table:
        """The per-stripe rows (n_rows, enc_bytes, ...) of an output."""
        raise NotImplementedError

    def decode_df(self, b, out: str, columns: list[str] | None = None):
        from orc_haskell_spark import engine

        schema = self.schema
        return engine.decode_table(self.encoded(b, out), schema, columns)

    def write(self, b) -> float:
        prev, out = self.out, b.path(f"enc{self.k}")
        self.k += 1
        t0 = time.perf_counter()
        self._encode(b, b.path("in"), out)
        dt = time.perf_counter() - t0
        stats = self.encoded_stats(out)
        b.check("write.rows",
                sum(stats.column("n_rows").to_pylist()) == self.rows)
        self.enc_bytes = sum(stats.column("enc_bytes").to_pylist())
        self.out = out
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
        return dt

    def read(self, b) -> float:
        t0 = time.perf_counter()
        b.noop(self.decode_df(b, self.out))
        return time.perf_counter() - t0

    def verify(self, b) -> None:
        b.check("read.checksums",
                checksums(self.decode_df(b, self.out), self.cols) == self.ref)

    def end_to_end(self, b, samples: dict) -> dict:
        mb = self.raw / 1e6
        return {
            "write_mb_s": (_median_rate(mb, samples["write"]), "MB/s"),
            "read_mb_s": (_median_rate(mb, samples["read"]), "MB/s"),
            "compression_ratio": (self.raw / self.enc_bytes
                                  if self.enc_bytes else 0.0, "ratio"),
        }


class Pages(StripeWorkload):
    """F1 pages through the fused, resumable encode sink
    (``manifest.encode_parquet_to_dir``, the ``encode_job.py --fused``
    path) and ``engine.decode_table`` over the committed stripes."""

    name = "pages"
    n_files = 1
    rgs_per_file = inputs.PAGES_ROW_GROUPS

    def table(self, seed: int) -> pa.Table:
        return inputs.pages_table(seed, inputs.PAGES_ROWS)

    def _encode(self, b, src: str, out: str) -> None:
        from orc_haskell_spark import manifest

        res = manifest.encode_parquet_to_dir(b.spark, src, out,
                                             num_partitions=b.cores)
        b.check("write.splits",
                res["splits_encoded"] == res["splits_total"] > 0)

    def encoded(self, b, out: str):
        from orc_haskell_spark import manifest

        return manifest.read_fused_encoded(b.spark, out)

    def encoded_stats(self, out: str) -> pa.Table:
        return pq.read_table(os.path.join(out, "manifest"),
                             columns=["task_key", "n_rows", "enc_bytes"])


class Lineitem(StripeWorkload):
    """TPC-H-shaped lineitem through ``engine.encode_parquet`` (written
    as the encoded-stripes parquet) and ``engine.decode_table``."""

    name = "lineitem"
    rgs_per_file = 2
    small_rows = 20000

    def make_inputs(self, b) -> None:
        self.n_files = b.cores  # one split per core at least
        super().make_inputs(b)

    def table(self, seed: int) -> pa.Table:
        return inputs.lineitem_table(seed)

    def _encode(self, b, src: str, out: str) -> None:
        from orc_haskell_spark import engine

        engine.encode_parquet(b.spark, src, num_partitions=b.cores) \
            .write.option("compression", "uncompressed").parquet(out)

    def encoded(self, b, out: str):
        return b.spark.read.parquet(out)

    def encoded_stats(self, out: str) -> pa.Table:
        return pq.read_table(out, columns=["part_id", "n_rows", "enc_bytes"])


WORKLOADS = {w.name: w for w in (Pages, Lineitem)}
