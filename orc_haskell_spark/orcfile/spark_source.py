"""Distributed ORC file IO on Spark: stripe-parallel scan, partition-
parallel write.

Scale shape (100 TB): the unit of read parallelism is the STRIPE — the
same self-contained unit the reference streams one at a time
(src/Orc/Serial/Binary/Striped.hs stripe reader). The driver touches
only file TAILS (postscript+footer, a few KB per file) to list
(file, stripe) splits, and the scan is planned and launched like every
fused parquet scan: ``sources.plan_splits`` LPT-packs the splits by
bytes and ``SplitPlan.map_in_arrow`` runs the stripe decode, so a
directory of thousands of multi-GB ORC files reads with full cluster
parallelism and zero driver data movement. ``parquet_to_orc`` plans its
parquet row groups the same way. Writes are one ORC file per Spark
partition (the standard parquet-style layout), each written
independently by its task.

Files must be on storage all executors can reach (local FS here;
HDFS/S3 via a mounted path on a real cluster — same contract as
spark.read.orc).
"""

from __future__ import annotations

import os

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession


def _list_orc_files(path: str) -> list[str]:
    """The .orc files of a directory, skipping hidden names ("." or "_"
    first, the Hadoop convention): an in-flight or abandoned staging
    file is never read as data."""
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".orc") and not f.startswith((".", "_")))


def _spark_schema_for(schema: pa.Schema):
    from pyspark.sql.pandas.types import from_arrow_schema

    # Spark has no ns timestamps: normalize to us. ORC TIMESTAMP is
    # wall time -> TimestampNTZ; TIMESTAMP_INSTANT keeps its zone ->
    # TimestampType (prefer_timestamp_ntz only affects naive types).
    fields = []
    for f in schema:
        t = f.type
        if pa.types.is_timestamp(t):
            t = pa.timestamp("us", tz=t.tz)
        fields.append(pa.field(f.name, t, f.nullable))
    return (from_arrow_schema(pa.schema(fields), prefer_timestamp_ntz=True),
            pa.schema(fields))


def read_orc_distributed(spark: SparkSession, path: str,
                         columns: list[str] | None = None,
                         prune: tuple | None = None,
                         files: list[str] | None = None) -> DataFrame:
    """Read ORC file(s) into a DataFrame, stripes LPT-packed by bytes
    onto the planner's decode tasks.

    100 TB shape: the driver touches only file tails (a few KB each);
    ``columns`` prunes at the BYTE level (unrequested subtrees are
    never decompressed); ``prune=(column, lo, hi)`` drops whole stripes
    whose min/max statistics exclude [lo, hi] before any task is
    scheduled — the reference reader's elimination, at stripe
    granularity, driven by the file Metadata our writer also emits —
    and, when the file carries a ROW_INDEX, eliminates 10k-row groups
    INSIDE each surviving stripe via positional seek at decode time.

    Splits are planned by ``sources.plan_splits`` with the ORC stripe
    lister (``planner.plan_stripes``: threaded driver tail reads below
    ``sources.DRIVER_SPLITS_MAX_FILES`` files, a distributed footer-read
    stage beyond) and the decode runs as ``plan.map_in_arrow`` — in
    driver mode one stage whose only Python process is the decoding
    worker.
    """
    from orc_haskell_spark.orcfile import planner

    files = files if files is not None else _list_orc_files(path)
    if not files:
        raise ValueError(f"no .orc files under {path}")
    schema, plan = planner.plan_stripes(
        spark, files, ranges=[prune] if prune else None)
    if columns is not None:
        schema = pa.schema([schema.field(c) for c in columns])
    spark_schema, arrow_schema = _spark_schema_for(schema)

    def decode(batches):
        from orc_haskell_spark.engine import worker_setup
        from orc_haskell_spark.orcfile.reader import ORCFile as OF

        worker_setup()
        opened: dict[str, OF] = {}
        for b in batches:
            for f, i in zip(b.column("file").to_pylist(),
                            b.column("stripe").to_pylist()):
                orc = opened.get(f) or opened.setdefault(f, OF(f))
                rb = orc.read_stripe_pruned(i, [prune] if prune else (),
                                            columns)
                if not rb.num_rows:
                    continue  # every row group eliminated
                cols = []
                for field, col in zip(arrow_schema, rb.columns):
                    if col.type != field.type:
                        col = col.cast(field.type)
                    cols.append(col)
                yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    return plan.map_in_arrow(decode, spark_schema)


def _part_writer(out_dir: str, compression: str, stripe_rows: int):
    """write_orc_distributed's task: one ORC file per partition, written
    under a hidden staging name and renamed to ``part-NNNNN.orc`` only
    once complete, so a task that fails mid-write leaves no part file
    for a later read to list."""

    def write_part(batches):
        import itertools

        from orc_haskell_spark import sources
        from orc_haskell_spark.engine import worker_setup
        from orc_haskell_spark.orcfile.writer import write_orc

        worker_setup()
        # peek one batch to skip empty partitions, then hand the ITERATOR
        # to write_orc: the writer streams stripe-at-a-time, so task
        # memory is one stripe, not the whole partition (multi-GB
        # partitions at 100 TB would otherwise buffer 2x in RAM)
        it = iter(batches)
        first = next(it, None)
        if first is None:
            return
        ctx = None
        try:
            from pyspark import TaskContext

            ctx = TaskContext.get()
        except Exception:
            pass
        pid = ctx.partitionId() if ctx else os.getpid()
        fs, staging, final = sources.task_output(out_dir, None,
                                                 f"{pid:05d}", ext=".orc")
        try:
            with fs.open_output_stream(staging) as out:
                info = write_orc(itertools.chain([first], it), out,
                                 compression=compression,
                                 stripe_rows=stripe_rows)
            sources.commit_part(fs, staging, final)
        finally:
            sources.discard_part(fs, staging)
        yield pa.RecordBatch.from_arrays(
            [pa.array([final]), pa.array([info["rows"]], pa.int64()),
             pa.array([info["bytes"]], pa.int64()),
             pa.array([info["stripes"]], pa.int32())],
            names=["file", "rows", "bytes", "stripes"])

    return write_part


def write_orc_distributed(df: DataFrame, out_dir: str,
                          compression: str = "ZLIB",
                          stripe_rows: int = 64 * 1024) -> DataFrame:
    """Write a DataFrame as one ORC file per partition under out_dir.

    Returns the manifest DataFrame (file, rows, bytes, stripes) —
    forcing it (e.g. .collect()) executes the write.
    """
    os.makedirs(out_dir, exist_ok=True)
    return df.mapInArrow(
        _part_writer(out_dir, compression, stripe_rows),
        "file string, rows long, bytes long, stripes int")


PARQUET_TO_ORC_DDL = ("file string, n_splits int, rows bigint, "
                      "orc_bytes bigint, raw_bytes bigint")


def parquet_to_orc(spark: SparkSession, in_path: str, out_dir: str,
                   compression: str = "ZSTD",
                   stripe_rows: int = 64 * 1024,
                   columns: list[str] | None = None,
                   num_partitions: int | None = None,
                   batch_rows: int = 16384) -> DataFrame:
    """Fused parquet -> real ORC conversion: pyarrow reads the row
    groups and write_orc streams them into one .orc file per task,
    ALL inside the Python worker — zero payload bytes cross the JVM in
    either direction (the JVM only distributes split metadata and
    collects one summary row per task). Output files carry ROW_INDEX
    streams and are readable by any ORC implementation.

    Rename-on-commit with task-split-keyed names: retries and re-runs
    with the same plan overwrite the same files. Returns the summary
    DataFrame; forcing it (.collect()) runs the conversion.
    """
    from orc_haskell_spark import sources

    plan = sources.plan_splits(spark, in_path,
                               num_partitions=num_partitions)
    sources.guard_export_plan(out_dir, {
        "in_path": in_path, "columns": columns,
        "compression": compression, "stripe_rows": stripe_rows,
        "num_partitions": num_partitions})

    def convert(batches):
        from orc_haskell_spark.engine import worker_setup
        from orc_haskell_spark.orcfile.writer import write_orc

        worker_setup()
        work = sources.split_list(batches)
        if not work:
            return
        key = sources.task_key(work)
        fs, staging, final = sources.task_output(out_dir, None, key,
                                                 ext=".orc")
        raw_bytes = 0
        handles = sources.ParquetHandleCache()

        def scan():
            # NO _spark_safe_batch here: ORC TIMESTAMP stores real
            # nanoseconds, so the converter must NOT truncate ns -> us
            # (that cast exists for Spark's us-only Arrow bridge, which
            # this path never touches)
            nonlocal raw_bytes
            for f, rg in work:
                pf = handles.get(f)
                for rb in pf.iter_batches(batch_size=batch_rows,
                                          row_groups=[rg],
                                          columns=columns,
                                          use_threads=False):
                    raw_bytes += rb.nbytes
                    yield rb

        try:
            with fs.open_output_stream(staging) as out:
                info = write_orc(scan(), out, compression=compression,
                                 stripe_rows=stripe_rows)
            sources.commit_part(fs, staging, final)
        finally:
            sources.discard_part(fs, staging)
        yield pa.RecordBatch.from_arrays(
            [pa.array([final]), pa.array([len(work)], pa.int32()),
             pa.array([info["rows"]], pa.int64()),
             pa.array([info["bytes"]], pa.int64()),
             pa.array([raw_bytes], pa.int64())],
            names=["file", "n_splits", "rows", "orc_bytes", "raw_bytes"])

    return plan.map_in_arrow(convert, PARQUET_TO_ORC_DDL)
