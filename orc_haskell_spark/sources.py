"""Input sources: Iceberg-style tables and parquet directories.

The engine is source-agnostic — encode_table takes any DataFrame — but
the north rule names Iceberg tables of Common-Crawl-style pages as the
canonical input. This sandbox has no Iceberg runtime jar, so
``read_table`` resolves in order: catalog table name (Iceberg/hive when
the runtime is on the classpath) → parquet path. On a real cluster the
Iceberg path gives us partition pruning and snapshot isolation for free
through Catalyst's DataSourceV2; nothing in the engine changes.
"""

from __future__ import annotations

import pyarrow as pa
# imported with the module, not per call: a worker's first parquet open
# must not import anything new (pyarrow.fs pulls in ssl) after
# engine.worker_setup has dropped the zip finders, or the import would
# rebuild them for the next task to re-read
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.errors import AnalysisException


def read_table(spark: SparkSession, source: str) -> DataFrame:
    """Read an input table: catalog name (e.g. 'crawl.pages') or a
    parquet path. Iceberg tables resolve through the catalog when the
    iceberg-spark-runtime jar is present.

    Only TABLE_OR_VIEW_NOT_FOUND falls through to the parquet path: a
    genuine catalog error (permissions, bad snapshot, misconfigured
    Iceberg) must surface as itself, not as an unrelated 'parquet path
    not found'.
    """
    if "/" not in source and "\\" not in source:
        try:
            return spark.read.table(source)
        except AnalysisException as e:
            cond = (e.getCondition() or "") if hasattr(e, "getCondition") else ""
            if "TABLE_OR_VIEW_NOT_FOUND" not in cond and \
                    "cannot be found" not in str(e):
                raise
    return spark.read.parquet(source)


SPLIT_SCHEMA = pa.schema([("file", pa.string()), ("rg", pa.int32()),
                          ("nbytes", pa.int64()), ("nrows", pa.int64())])


def list_parquet_files(path: str) -> list[str]:
    """Recursive .parquet listing under ``path`` (a file, a directory,
    or a pyarrow-fs URI like s3://...). Listing is metadata-only and
    cheap even for very large tables; the expensive part — reading each
    file's footer — is distributed by ``plan_splits``."""
    fs, base = _resolve_fs(path)
    info = fs.get_file_info(base)
    if info.type == pafs.FileType.File:
        return [path]
    sel = pafs.FileSelector(base, recursive=True)
    prefix = path[: len(path) - len(base)]  # scheme, e.g. "s3://"
    return sorted(
        prefix + i.path for i in fs.get_file_info(sel)
        if i.type == pafs.FileType.File and i.path.endswith(".parquet"))


def _resolve_fs(path: str):
    """(pyarrow FileSystem, fs-local path) for a local path or URI."""
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def open_parquet(path: str):
    """pyarrow ParquetFile for a local path or filesystem URI."""
    fs, local = _resolve_fs(path)
    return pq.ParquetFile(local, filesystem=fs)


def _keep_rg(md_rg, name_to_idx: dict, ranges) -> bool:
    """Row-group stat pruning: False only when parquet column-chunk
    min/max PROVE no row matches every (col, lo, hi) in ``ranges``
    (None bound = unbounded). Missing columns/stats keep the group."""
    import math

    for col, lo, hi in ranges or ():
        i = name_to_idx.get(col)
        if i is None:
            continue
        st = md_rg.column(i).statistics
        if st is None or not st.has_min_max:
            continue
        mn, mx = st.min, st.max
        if isinstance(lo, float) and math.isnan(lo):
            continue  # NaN predicates never prune (Spark NaN order)
        if isinstance(hi, float) and math.isnan(hi):
            continue
        try:
            if lo is not None and mx < lo:
                return False
            if hi is not None and mn > hi:
                return False
        except TypeError:
            continue  # incomparable stat type: keep
    return True


def _file_splits(f: str, ranges) -> list[tuple]:
    """(file, rg, nbytes, nrows) split rows for one parquet file —
    footer-only IO, row groups pruned against ``ranges``."""
    md = open_parquet(f).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    return [(f, rg, md.row_group(rg).total_byte_size,
             md.row_group(rg).num_rows)
            for rg in range(md.num_row_groups)
            if md.row_group(rg).num_rows
            and _keep_rg(md.row_group(rg), names, ranges)]


def _split_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    """Arrow batch of split rows, one column per ``schema`` field."""
    return pa.RecordBatch.from_arrays(
        [pa.array([r[i] for r in rows], f.type)
         for i, f in enumerate(schema)], schema=schema)


def _splits_fn(lister, ranges, schema: pa.Schema):
    """mapInArrow fn: file-name rows -> the files' split rows."""

    def fn(batches):
        from .engine import worker_setup

        worker_setup()
        for b in batches:
            for f in b.column("file").to_pylist():
                rows = lister(f, ranges)
                if rows:
                    yield _split_batch(rows, schema)

    return fn


def list_splits(files: list[str], ranges=None,
                lister=_file_splits) -> list[tuple]:
    """``lister(file, ranges)``'s split rows of ``files`` in file order,
    read by driver threads (footer reads are IO waits); raises the
    lister's errors."""
    from concurrent.futures import ThreadPoolExecutor

    if not files:
        return []
    with ThreadPoolExecutor(min(16, len(files))) as pool:
        per_file = pool.map(lambda f: lister(f, ranges), files)
        return [row for rows in per_file for row in rows]


DRIVER_SPLITS_MAX_FILES = 1024

# bump when split->task assignment changes (partition contents key the
# plan-guarded exports' part names): v1 = stride round-robin, v2 = LPT
PLANNER_VERSION = "lpt-v2"


def lpt_buckets(splits: list[tuple], n: int) -> list[list]:
    """LPT bin-packing on split BYTES (row[2]; longest-processing-time:
    biggest split to the least-loaded of ``min(n, len(splits))``
    buckets). Round-robin balances counts, but web-corpus row groups
    vary wildly in size — one task with the fat groups would straggle
    the whole job."""
    import heapq

    n_slices = min(n, len(splits))
    heap = [(0, k) for k in range(n_slices)]
    buckets: list[list] = [[] for _ in range(n_slices)]
    for row in sorted(splits, key=lambda r: -r[2]):
        load, k = heapq.heappop(heap)
        buckets[k].append(row)
        heapq.heappush(heap, (load + max(row[2], 1), k))
    return buckets


def _bucket_fn(fn, buckets, schema: pa.Schema):
    """Wrap a mapInArrow fn over split rows so it runs over
    ``spark.range`` ids instead: task k builds bucket k's split batch
    from the broadcast ``buckets`` itself, so the sink's own worker is
    the only Python process in the stage."""

    def run(batches):
        rows = [r for b in batches for k in b.column(0).to_pylist()
                for r in buckets.value[k]]
        return fn(iter([_split_batch(rows, schema)] if rows else []))

    return run


class SplitPlan:
    """The split rows (of ``schema``; column 2 is the byte weight) of
    one fused scan and where they run. Driver mode: ``buckets[k]`` is
    task k's LPT share. Distributed mode: ``df`` holds the split rows
    left to run, produced by footer-reading tasks, and ``all_df`` every
    planned split. ``total`` counts the planned splits before ``skip``
    removed any."""

    def __init__(self, spark, schema: pa.Schema = SPLIT_SCHEMA,
                 buckets=None, total=0, df=None, all_df=None):
        self.spark, self.schema, self.buckets, self.df = \
            spark, schema, buckets, df
        self._total, self._all = total, all_df

    @property
    def total(self) -> int:
        """Planned split count; distributed mode counts with a job."""
        return self._total if self._all is None else self._all.count()

    @property
    def remaining(self) -> int | None:
        """Splits left to run (None in distributed mode: not on the
        driver)."""
        if self.buckets is None:
            return None
        return sum(len(b) for b in self.buckets)

    def map_in_arrow(self, fn, ddl) -> DataFrame:
        """``fn`` (a mapInArrow fn over split-row batches) run once per
        task over that task's splits. Driver mode is ONE stage with no
        Python-RDD or metadata hop: ``spark.range(0, n, 1, n)`` gives
        task k id k, and the bucket plan travels by broadcast, once per
        executor."""
        if self.buckets is None:
            return self.df.mapInArrow(fn, ddl)
        n = len(self.buckets)
        buckets = self.spark.sparkContext.broadcast(self.buckets)
        return self.spark.range(0, n, 1, max(n, 1)) \
            .mapInArrow(_bucket_fn(fn, buckets, self.schema), ddl)

    def to_df(self) -> DataFrame:
        """The split rows, partition k holding task k's splits."""
        if self.df is not None:
            return self.df
        return self.map_in_arrow(lambda bs: bs,
                                 from_arrow_schema(self.schema))


def _list_input(spark: SparkSession, path: str,
                files: list[str] | None) -> list[str]:
    """Sorted parquet files to plan: ``files`` as given, else a catalog
    table's snapshot files, else a listing of the path."""
    if files is not None:
        files = sorted(files)
    elif "/" not in path and "\\" not in path:
        try:
            files = sorted(f for f in spark.read.table(path).inputFiles()
                           if f.endswith(".parquet"))
        except Exception:
            files = []
        if files:
            files = [f[len("file:"):] if f.startswith("file:") else f
                     for f in files]
        else:
            try:
                files = list_parquet_files(path)
            except FileNotFoundError:
                raise ValueError(
                    f"{path!r} is neither a catalog table with parquet "
                    f"files nor a parquet path") from None
    else:
        files = list_parquet_files(path)
    if not files:
        raise ValueError(f"no parquet files under {path!r}")
    return files


def plan_splits(spark: SparkSession, path: str, ranges=None,
                num_partitions: int | None = None,
                files: list[str] | None = None,
                skip: frozenset | set = frozenset(),
                lister=_file_splits,
                schema: pa.Schema = SPLIT_SCHEMA) -> SplitPlan:
    """Plan the splits of a fused scan: the one planner every fused
    sink and fused read runs through (``SplitPlan.map_in_arrow``).
    ``lister(file, ranges)`` gives one file's split rows, of
    ``schema``: parquet row groups by default, or ORC stripes
    (``orcfile.planner.plan_stripes``).

    Two planning modes, picked by file count (Spark's own scan plans
    splits on the driver too — the point is keeping DATA off the
    driver, not metadata):

    - <= DRIVER_SPLITS_MAX_FILES files: footers read on the driver
      (``list_splits``, threaded), the splits in ``skip`` ((file, rg)
      pairs already done, e.g. by a resumed sink) removed, and the rest
      LPT-packed by bytes into ``num_partitions`` buckets, so a resume
      is balanced over what is left.
    - beyond that (the 100 TB shape: millions of files): only file
      NAMES touch the driver; footers are read in parallel tasks, split
      rows round-robin repartitioned as pure metadata (bytes per row,
      not data) and ``skip`` anti-joined out. A lister error fails the
      job that runs the plan.

    ``ranges`` prunes row groups (stripes) on column statistics before
    any data IO — the Python-scan analog of Catalyst filter pushdown.

    ``path`` may also be a CATALOG TABLE NAME (e.g. an Iceberg table):
    the file list then comes from the table's current snapshot via
    Spark's inputFiles(), so the fused scan composes with catalog
    tables without any engine change — the north rule's input shape.

    ``files`` bypasses listing entirely with an explicit file set — the
    hook `iceberg.py` uses after snapshot selection + partition/bounds
    pruning against the table's own metadata (no catalog jar needed),
    and the one the ORC planner uses.
    """
    files = _list_input(spark, path, files)
    n = num_partitions or spark.sparkContext.defaultParallelism * 2

    if len(files) <= DRIVER_SPLITS_MAX_FILES:
        splits = list_splits(files, ranges, lister)
        todo = [r for r in splits if (r[0], r[1]) not in skip]
        return SplitPlan(spark, schema, lpt_buckets(todo, n), len(splits))

    meta_tasks = min(len(files), n)
    fdf = spark.createDataFrame([(f,) for f in files], "file string") \
        .repartition(meta_tasks)
    # round-robin rebalance: splits of one big file must spread across
    # tasks, not stay on the footer-reader's partition
    df = fdf.mapInArrow(_splits_fn(lister, ranges, schema),
                        from_arrow_schema(schema)).repartition(n)
    todo = df
    if skip:
        from pyspark.sql import functions as F

        done = spark.createDataFrame(sorted(skip), "file string, rg int")
        todo = df.join(F.broadcast(done), ["file", "rg"], "left_anti")
    return SplitPlan(spark, schema, df=todo, all_df=df)


def parquet_splits_df(spark: SparkSession, path: str,
                      ranges=None, num_partitions: int | None = None,
                      files: list[str] | None = None) -> DataFrame:
    """DataFrame of parquet row-group splits (file, rg, nbytes, nrows)
    as ``plan_splits`` places them (``SplitPlan.to_df``). Fused sinks
    do not go through this DataFrame — they run
    ``plan_splits(...).map_in_arrow`` — so it is for inspecting a plan
    and for callers that need splits as rows."""
    return plan_splits(spark, path, ranges, num_partitions, files).to_df()


def split_list(batches) -> list[tuple]:
    """The (file, rg) pairs of a task's split-row batches, in order."""
    return [s for b in batches for s in zip(b.column("file").to_pylist(),
                                             b.column("rg").to_pylist())]


def task_key(splits) -> str:
    """A task's part-file key: the hash of its sorted (file, rg) split
    set. A re-run of the same split set writes the same name, and a
    reader holding a key's ledgered splits can recompute it to prove
    the part file holds nothing else."""
    import hashlib
    import json

    return hashlib.sha256(
        json.dumps(sorted(splits)).encode()).hexdigest()[:24]


def task_output(out_path: str, subdir: str | None, key: str,
                ext: str = ".parquet"):
    """(fs, staging_path, final_path) for one task's rename-on-commit
    part file: write to the hidden staging name, then commit_part() it.
    Shared by the fused encode sink and the decode export so the commit
    protocol cannot diverge between them."""
    import uuid

    fs, out_local = _resolve_fs(out_path)
    d = out_local.rstrip("/") + (f"/{subdir}" if subdir else "")
    fs.create_dir(d, recursive=True)
    staging = f"{d}/.staging-{key}-{uuid.uuid4().hex[:8]}{ext}"
    final = f"{d}/part-{key}{ext}"
    return fs, staging, final


def commit_part(fs, staging: str, final: str) -> None:
    """Atomic-replace rename on local filesystems; object stores get
    delete-then-move (safe: deterministic task_key names make the last
    writer win, and readers only see ledgered keys)."""
    try:
        fs.move(staging, final)
    except OSError:
        fs.delete_file(final)
        fs.move(staging, final)


def discard_part(fs, staging: str) -> None:
    try:
        fs.delete_file(staging)
    except Exception:
        pass


def guard_export_plan(out_path: str, plan: dict) -> None:
    """Refuse re-running an export into ``out_path`` under a DIFFERENT
    plan: task part names derive from split sets, so a changed plan
    would add new parts beside the old ones and duplicate rows. First
    run writes the marker; identical plans pass; mismatches raise; an
    unreadable marker raises with a recovery hint (never an opaque
    parse error, never a silent pass)."""
    import hashlib
    import json

    # the packing algorithm determines task split sets and therefore
    # part names: changing it must invalidate old markers too
    plan = {**plan, "planner": PLANNER_VERSION}
    plan_key = hashlib.sha256(
        json.dumps(plan, sort_keys=True).encode()).hexdigest()[:16]
    fs, out_local = _resolve_fs(out_path)
    marker = f"{out_local.rstrip('/')}/_export_plan.json"
    try:
        exists = fs.get_file_info(marker).type != pafs.FileType.NotFound
    except Exception:
        return  # exotic filesystem: marker is best-effort
    if exists:
        try:
            with fs.open_input_stream(marker) as f:
                prev = json.loads(f.read().decode())
        except Exception:
            raise ValueError(
                f"unreadable export-plan marker {marker!r} (interrupted "
                f"first run?); delete it to proceed, or use a fresh "
                f"out_path") from None
        if prev.get("plan_key") != plan_key:
            raise ValueError(
                f"{out_path!r} was exported with a different plan "
                f"({prev.get('plan')}); re-run with the same settings "
                f"or use a fresh out_path")
        return
    fs.create_dir(out_local, recursive=True)
    with fs.open_output_stream(marker) as f:
        f.write(json.dumps({"plan_key": plan_key, "plan": plan}).encode())


class ParquetHandleCache:
    """Small per-task cache of open ParquetFile handles: split lists
    interleave row groups of multiple files, and re-opening a file per
    row group re-reads its footer every time (MBs for wide schemas)."""

    def __init__(self, cap: int = 64):
        self._cap = cap
        self._handles: dict = {}

    def get(self, path: str):
        pf = self._handles.get(path)
        if pf is None:
            if len(self._handles) >= self._cap:
                # LRU: evict exactly one handle (dict preserves access
                # recency because hits re-insert below)
                self._handles.pop(next(iter(self._handles)))
            pf = open_parquet(path)
        else:
            del self._handles[path]  # re-insert -> most recently used
        self._handles[path] = pf
        return pf
