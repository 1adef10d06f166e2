"""PySpark Python DataSource for real ORC files: the idiomatic surface
for the pure-Python reader —

    spark.dataSource.register(OrcFileDataSource)
    df = spark.read.format("orcfile").load("/data/dir_or_file.orc")

Scale shape is identical to spark_source.read_orc_distributed: the
driver touches only file TAILS to plan one InputPartition per stripe,
and Catalyst's pushed filters prune whole stripes against the writer's
min/max statistics before any task is scheduled. All comparison filters
are reported back as unhandled (stripe pruning is conservative — it
only skips stripes that cannot match), so Spark still applies them
exactly; the pruning is pure IO elimination, which is the same contract
DataSourceV2 scans use for zone maps.

Tasks yield pyarrow RecordBatches straight from the stripe reader, so
rows never pass through Python objects.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)


class _StripePartition(InputPartition):
    def __init__(self, file: str, stripe: int):
        self.file = file
        self.stripe = stripe


class OrcFileDataSource(DataSource):
    """format("orcfile") — reads .orc file(s) with stripe parallelism."""

    @classmethod
    def name(cls) -> str:
        return "orcfile"

    def _files(self) -> list[str]:
        from .spark_source import _list_orc_files

        path = self.options.get("path")
        if not path:
            raise ValueError("orcfile source requires .load(path)")
        files = _list_orc_files(path)
        if not files:
            raise ValueError(f"no .orc files under {path}")
        return files

    def schema(self):
        from .reader import ORCFile
        from .spark_source import _spark_schema_for

        spark_schema, _ = _spark_schema_for(ORCFile(self._files()[0]).schema)
        return spark_schema

    def reader(self, schema) -> "OrcFileReader":
        return OrcFileReader(self._files(), schema)

    def writer(self, schema, overwrite: bool) -> "OrcFileWriter":
        path = self.options.get("path")
        if not path:
            raise ValueError("orcfile sink requires .save(path)")
        return OrcFileWriter(path, overwrite)


class OrcFileReader(DataSourceReader):
    def __init__(self, files: list[str], schema):
        self._file_list = files
        self._schema = schema
        self._ranges: list[tuple[str, object, object]] = []  # col, lo, hi

    def pushFilters(self, filters: list[Filter]):
        """Record comparison filters for stripe-stat pruning; report
        EVERY filter back as unhandled so Spark evaluates them exactly
        (pruning only removes stripes that cannot match)."""
        for f in filters:
            try:
                if len(f.attribute) != 1:
                    continue  # nested paths don't map to stripe stats
                if isinstance(f, (EqualTo,)):
                    col, lo, hi = f.attribute[-1], f.value, f.value
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    col, lo, hi = f.attribute[-1], f.value, None
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    col, lo, hi = f.attribute[-1], None, f.value
                else:
                    continue
                if isinstance(lo, bool) or isinstance(hi, bool):
                    continue
                import math

                # NaN compares above everything in Spark but is absent
                # from min/max stats: never prune on it
                if any(isinstance(v, float) and math.isnan(v)
                       for v in (lo, hi) if v is not None):
                    continue
                if lo is None or isinstance(lo, (int, float, str)):
                    if hi is None or isinstance(hi, (int, float, str)):
                        self._ranges.append((col, lo, hi))
            except Exception:
                continue
        return filters  # all unhandled: Spark re-applies them exactly

    def partitions(self):
        # Threaded tail reads (shared two-mode planner's driver mode).
        # The DataSource API REQUIRES the partition list materialized in
        # this planning process, and no SparkSession exists here — so
        # the distributed planning mode is structurally unavailable to
        # this path; threads overlap the footer IO instead.  Schema
        # check is "evolve": files may add columns (ignored) or lack
        # read-schema columns (null-filled) like Spark's own ORC
        # reader; TYPE conflicts still fail at PLANNING with the
        # offending file named, not as a task-side cast error.
        from .planner import orc_splits_threaded

        _, splits = orc_splits_threaded(
            self._file_list, ranges=self._ranges or None,
            check_schema="evolve")
        parts = [_StripePartition(f, i) for f, i, _, _ in splits]
        # Spark requires >= 1 partition; an empty one yields no batches
        return parts or [_StripePartition(self._file_list[0], -1)]

    def read(self, part: _StripePartition):
        from orc_haskell_spark.engine import worker_setup

        from .reader import ORCFile

        worker_setup()
        if part.stripe < 0:
            return
        orc = ORCFile(part.file)
        rb = orc.read_stripe_pruned(part.stripe, self._ranges)
        import pyarrow as pa

        if self._schema is not None:
            # the read schema Spark handed the reader (first file's, via
            # OrcFileDataSource.schema) — the one constant every task
            # aligns to regardless of its own file's evolution state
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_schema = to_arrow_schema(self._schema)
        else:  # direct (non-Spark) test use: derive from the file
            from .spark_source import _spark_schema_for

            _, arrow_schema = _spark_schema_for(orc.schema)
        # align by NAME to the read schema: evolved files may lack a
        # column (null-fill) or carry extras (ignored); types normalize
        # to what the Spark schema expects
        cols = []
        for field in arrow_schema:
            idx = rb.schema.get_field_index(field.name)
            if idx < 0:
                col = pa.nulls(rb.num_rows, type=field.type)
            else:
                col = rb.column(idx)
                if col.type != field.type:
                    col = col.cast(field.type)
            cols.append(col)
        yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


@dataclass
class _OrcCommit(WriterCommitMessage):
    tmp_name: str  # staged file, or "" for an empty task
    rows: int


class OrcFileWriter(DataSourceArrowWriter):
    """df.write.format("orcfile").save(dir) — one ORC file per task,
    staged under a temp name and renamed at COMMIT: a failed/ speculated
    task leaves only an ignored *.tmp, so readers (which list *.orc)
    never observe partial output — the same rename-on-commit protocol
    as Hadoop output committers. mode("overwrite") drops pre-existing
    .orc files at commit time, after the new ones are in place."""

    def __init__(self, path: str, overwrite: bool):
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator) -> _OrcCommit:
        import os
        import uuid

        from orc_haskell_spark.engine import worker_setup

        from .writer import write_orc

        worker_setup()
        os.makedirs(self.path, exist_ok=True)
        it = iter(iterator)
        first = next(it, None)
        if first is None:
            return _OrcCommit("", 0)
        import itertools

        tmp = f"staged-{uuid.uuid4().hex}.orc.tmp"
        info = write_orc(itertools.chain([first], it),
                         os.path.join(self.path, tmp),
                         compression="ZSTD")
        return _OrcCommit(tmp, info["rows"])

    def commit(self, messages):
        import os

        keep = set()
        n = 0
        for m in messages:
            if not m or not m.tmp_name:
                continue
            final = m.tmp_name[:-4].replace("staged-", "part-")
            os.replace(os.path.join(self.path, m.tmp_name),
                       os.path.join(self.path, final))
            keep.add(final)
            n += m.rows
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.endswith(".orc") and f not in keep:
                    os.unlink(os.path.join(self.path, f))

    def abort(self, messages):
        import os

        for m in messages:
            if m and m.tmp_name:
                try:
                    os.unlink(os.path.join(self.path, m.tmp_name))
                except OSError:
                    pass
