"""Spark engine layer: distributed encode/decode via mapInArrow.

The reference is a single-process streaming encoder (stripe-at-a-time,
constant memory — src/Orc/Serial/Binary/Striped.hs:560-635). Here Spark
provides the parallel "stripe directory": each task's Arrow batches are
re-chunked to exact stripe_rows stripes and encoded entirely JVM→Arrow→
numpy, one output row per stripe. ``encode_stripes`` is that loop, the
one every encode sink runs (``make_encode_fn`` and through it
``encode_table``/``encode_parquet``/``encode_orc``, and the
``manifest`` sinks); ``stripe_row`` builds each stripe's record. Every
worker loop of the package starts with ``worker_setup``, the one
executor-side setup hook (Arrow thread clamp, zip import finders
dropped so PySpark's per-task cache invalidation re-reads no archive). No
per-row Python anywhere; no collect() on the hot path (the iterator
form of mapInArrow never holds more than one stripe per task,
preserving the reference's constant-memory property proved by
test/Test/Orc/Memory/Leaks.hs).

Scale design (100 TB / 1000 executors):
- encode is shuffle-free by default: narrow map over whatever
  partitioning the scan produced. `partition_on` opts into an explicit
  repartition over xxhash64(key): HASH buckets for uniform keys (no
  range-sampling pre-pass — the north rule's pages layout), RANGE when
  `salt_buckets` > 1 so salted hot-key copies land in guaranteed-
  distinct partitions.
- decode is likewise narrow. Over a bare parquet scan of encoded
  stripes it is fused: the driver plans (file, row group) splits and
  each task reads and decodes its stripes with pyarrow, so the read is
  one Spark job and no payload byte enters the JVM. Any other encoded
  DataFrame is decoded by a mapInArrow over its rows. Stripes are
  self-describing (footer carries the Arrow schema), so a decode task
  needs no driver state beyond its split list.
- stripes target a row count AND a byte budget: html/text bodies are
  log-normal, so a fixed row count alone would make stripe memory
  unbounded (reference uses fixed rows, main/main.hs:60 — we improve).
"""

from __future__ import annotations

import json
import sys
import zipimport
from typing import Iterator

import numpy as np
import pyarrow as pa

from . import stripe as stripe_mod

ENCODED_DDL = (
    "part_id int, stripe_id bigint, n_rows bigint, n_cols int, "
    "raw_bytes bigint, enc_bytes bigint, footer string, data binary"
)

ENCODED_ARROW_SCHEMA = pa.schema([
    ("part_id", pa.int32()),
    ("stripe_id", pa.int64()),
    ("n_rows", pa.int64()),
    ("n_cols", pa.int32()),
    ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()),
    ("footer", pa.string()),
    ("data", pa.binary()),
])

DEFAULT_STRIPE_ROWS = 65536
DEFAULT_STRIPE_BYTES = 64 << 20  # byte budget per stripe (see module doc)


def worker_setup() -> None:
    """The one setup hook of executor-side Python, run at the start of
    every worker loop.

    Threads: pin Arrow's internal pools to 1 thread. Every Python worker
    otherwise creates an os.cpu_count()-sized Arrow thread pool on first
    compute call; with 32 workers on a 32-core host that's 1000+ threads
    and a 6x slowdown (measured). Spark provides the parallelism;
    worker-side kernels must be single-threaded.

    Import finders: drop every ``zipimport.zipimporter`` from
    ``sys.path_importer_cache``. PySpark's ``setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every task, and on
    CPython 3.11 a zipimporter's ``invalidate_caches`` re-reads its
    archive's whole central directory. Workers that import PySpark from
    Spark's ``pyspark.zip`` hold about 14 such finders (one per imported
    subpackage), so each task re-read that directory ~14 times: about
    0.2 s per task on a reused worker (measured, 4 cores), about 0.2 ms
    after the drop. A later import that searches a dropped path entry
    builds a new finder from zipimport's module-level directory cache,
    without reading the archive, and the next call drops it again;
    imported modules keep their own loaders. The one assumption: an
    archive is not rewritten in place under the same path while the
    worker lives (Spark ships each file once per application under a
    fixed name), since a new finder would not see the rewrite.
    """
    try:
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
    except Exception:
        pass
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(path, None)


def _rechunk(batches: Iterator[pa.RecordBatch], stripe_rows: int,
             stripe_bytes: int) -> Iterator[pa.RecordBatch]:
    """Re-chunk incoming Arrow batches into stripes of ≤stripe_rows rows
    and ~≤stripe_bytes bytes (reference S9, Convert.hs:197-209)."""
    pending: list[pa.RecordBatch] = []
    pending_rows = 0
    pending_bytes = 0
    for batch in batches:
        if batch.num_rows == 0:
            continue
        pending.append(batch)
        pending_rows += batch.num_rows
        pending_bytes += batch.nbytes
        while pending_rows >= stripe_rows or pending_bytes >= stripe_bytes:
            rows_per_byte = pending_rows / max(pending_bytes, 1)
            take = min(stripe_rows, max(1, int(stripe_bytes * rows_per_byte)),
                       pending_rows)
            tbl = pa.Table.from_batches(pending)
            head = tbl.slice(0, take).combine_chunks()
            rest = tbl.slice(take).combine_chunks()
            yield head.to_batches()[0]
            pending = [b for b in rest.to_batches() if b.num_rows]
            pending_rows = sum(b.num_rows for b in pending)
            pending_bytes = sum(b.nbytes for b in pending)
    if pending_rows:
        tbl = pa.Table.from_batches(pending).combine_chunks()
        yield tbl.to_batches()[0]


def encode_stripes(batches: Iterator[pa.RecordBatch], stripe_rows: int,
                   stripe_bytes: int, config: dict | None, cache: dict
                   ) -> Iterator[tuple[pa.RecordBatch, str, bytes]]:
    """The one worker encode loop of every encode sink: re-chunk
    ``batches`` into stripes of ≤stripe_rows rows and ~≤stripe_bytes
    bytes and encode each, yielding ``(stripe batch, footer JSON,
    payload)``. ``cache`` holds the codec state (selector verdicts, FSST
    tables) shared by the stripes encoded with it; its scope is the
    caller's. ``config["sort_within"]`` (stripe-local clustering) is
    applied inside ``stripe.encode_stripe``."""
    worker_setup()
    for b in _rechunk(batches, stripe_rows, stripe_bytes):
        # looked up through the module on every stripe, so a wrapper
        # installed on stripe.encode_stripe sees each call
        footer, payload = stripe_mod.encode_stripe(b, config, cache)
        yield b, json.dumps(footer, separators=(",", ":")), payload


def stripe_row(part_id: int, stripe_id: int, b: pa.RecordBatch,
               footer_json: str, payload: bytes) -> pa.RecordBatch:
    """One encoded stripe as a one-row ``ENCODED_ARROW_SCHEMA`` batch."""
    raw = sum(map(stripe_mod.raw_nbytes, b.columns))
    vals = [part_id, stripe_id, b.num_rows, b.num_columns, raw,
            len(payload), footer_json, payload]
    return pa.RecordBatch.from_arrays(
        [pa.array([v], f.type) for v, f in zip(vals, ENCODED_ARROW_SCHEMA)],
        schema=ENCODED_ARROW_SCHEMA)


def make_encode_fn(stripe_rows: int = DEFAULT_STRIPE_ROWS,
                   stripe_bytes: int = DEFAULT_STRIPE_BYTES,
                   config: dict | None = None):
    """Build the mapInArrow function: Iterator[RecordBatch] -> encoded
    rows, stripe ``seq`` of task ``pid`` numbered ``pid << 32 | seq``
    with one codec cache per task."""

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        stripes = encode_stripes(batches, stripe_rows, stripe_bytes,
                                 config, {})
        for seq, enc in enumerate(stripes):
            yield stripe_row(pid, (pid << 32) | seq, *enc)

    return encode_fn


def _decode_rows(b: pa.RecordBatch, columns=None,
                 keep=None) -> Iterator[pa.RecordBatch]:
    """Decode each encoded-stripe row of ``b`` (its footer and data
    columns); ``keep(footer)`` false skips a stripe before any payload
    byte is decompressed."""
    footers = b.column("footer").to_pylist()
    datas = b.column("data")
    for i, fjson in enumerate(footers):
        footer = json.loads(fjson)
        if keep is None or keep(footer):
            yield stripe_mod.decode_stripe(
                footer, memoryview(datas[i].as_buffer()), columns)


def decode_fn(batches: Iterator[pa.RecordBatch],
              columns: list[str] | None = None
              ) -> Iterator[pa.RecordBatch]:
    """mapInArrow function: encoded stripe rows -> original RecordBatches
    (only ``columns``, in that order, when given)."""
    worker_setup()
    for b in batches:
        yield from _decode_rows(b, columns)


def decode_splits(splits, columns=None,
                  keep=None) -> Iterator[pa.RecordBatch]:
    """Decoded stripes of the (file, rg) splits of encoded-stripes
    parquet files, read with pyarrow one stripe row at a time inside the
    decoding worker — the payload never enters the JVM. The worker loop
    of the fused ``decode_table`` and of ``decode_parquet_to_dir``."""
    from . import sources

    worker_setup()
    handles = sources.ParquetHandleCache()
    for f, rg in splits:
        for rb in handles.get(f).iter_batches(
                batch_size=1, row_groups=[rg], columns=["footer", "data"],
                use_threads=False):
            yield from _decode_rows(rb, columns, keep)


def _bare_parquet_scan_files(df) -> list[str] | None:
    """The file list IF df is a bare parquet scan (analyzed plan = one
    LogicalRelation over a parquet HadoopFsRelation — no filter/project/
    limit/shuffle on top), is not cached, and pyarrow can open its
    files; else None. Conservative by construction: any operator above
    the scan changes the plan's root class and disqualifies a fused
    shortcut."""
    from . import sources

    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = plan.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        if "Parquet" not in rel.fileFormat().getClass().getSimpleName():
            return None
        files = [f[len("file:"):] if f.startswith("file:") else f
                 for f in df.inputFiles()]
        if not files or not all(f.endswith(".parquet") for f in files):
            return None
        # a cached scan is served from the cache, not re-read
        level = df.storageLevel
        if level.useMemory or level.useDisk:
            return None
        # pyarrow opens the files on the fused path: a scheme it cannot
        # resolve (e.g. s3a://) raises here and keeps the Spark scan
        sources._resolve_fs(files[0])
        return sorted(files)
    except Exception:
        return None


def _pure_parquet_scan_files(df) -> list[str] | None:
    """The file list IF df is a bare parquet scan that reads the files'
    own schema (``encode_table``'s auto-fuse test), else None."""
    files = _bare_parquet_scan_files(df)
    if files is None:
        return None
    # a user-supplied .schema(...) projecting/reordering/retyping
    # columns is still a bare LogicalRelation; the fused scan reads
    # the physical file schema, so require exact agreement — names
    # AND types — with what Spark itself infers (one footer read)
    try:
        if df.schema != df.sparkSession.read.parquet(files[0]).schema:
            return None
    except Exception:
        return None
    return files


def _encoded_scan_files(enc_df) -> list[str] | None:
    """The file list IF enc_df is a bare parquet scan of encoded stripes
    (``footer string`` and ``data binary`` columns), else None."""
    files = _bare_parquet_scan_files(enc_df)
    if files is None:
        return None
    types = {f.name: f.dataType.simpleString() for f in enc_df.schema}
    if types.get("footer") != "string" or types.get("data") != "binary":
        return None
    return files


def encode_table(df, stripe_rows: int = DEFAULT_STRIPE_ROWS,
                 stripe_bytes: int = DEFAULT_STRIPE_BYTES,
                 config: dict | None = None,
                 partition_on: str | list[str] | None = None,
                 num_partitions: int | None = None,
                 salt_buckets: int = 1,
                 auto_fuse: bool = True):
    """DataFrame -> encoded-stripes DataFrame (1 row per stripe).

    partition_on: explicit range partitioning on xxhash64(cols) — the
    north rule's layout for the pages table (url hash). Leave None to
    stay shuffle-free on the scan's partitioning.

    salt_buckets > 1 adds a row-position salt to the range key — the
    north rule's "salted repartition for skewed lang/domain hot keys":
    a key holding 60% of the corpus spreads over up to salt_buckets
    partitions instead of funnelling into one task. (Use with
    low-cardinality keys; url-hash keys don't need it.)

    auto_fuse (default on): when no re-layout is requested and df is a
    bare parquet scan, route through ``encode_parquet`` — the payload
    then never crosses the JVM<->Python boundary (the DataFrame path's
    measured ~0.3 GB/s crossing ceiling; see BENCH/BASELINE.md §2) and
    a naive ``encode_table(spark.read.parquet(p))`` gets the fused
    plan automatically.
    """
    from pyspark.sql import functions as F

    if auto_fuse and partition_on is None:
        files = _pure_parquet_scan_files(df)
        if files is not None:
            return encode_parquet(
                df.sparkSession, "<fused>", stripe_rows=stripe_rows,
                stripe_bytes=stripe_bytes, config=config,
                num_partitions=num_partitions, files=files)
    if partition_on is not None:
        cols = [partition_on] if isinstance(partition_on, str) else list(partition_on)
        n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        keys = [F.xxhash64(*cols)]
        if salt_buckets > 1:
            keys.append(_cheap_salt(salt_buckets))
        if salt_buckets > 1:
            # salted hot keys: RANGE partitioning places the salt
            # copies in contiguous, guaranteed-distinct ranges — hash
            # would collide some of the few salt buckets into one
            # partition (measured share 0.33 vs range's <=0.30)
            df = df.repartitionByRange(n, *keys)
        else:
            # uniform keys: HASH repartition skips range partitioning's
            # SAMPLING JOB (a full extra scan to pick boundaries);
            # xxhash64 buckets are already uniform. Interleaved A/B on
            # 100k pages: hash 1.54-1.73 s vs range 1.88-2.67 s.
            # Murmur3 of the key values is deterministic, so resume
            # semantics are unchanged.
            df = df.repartition(n, *keys)
    elif num_partitions is not None:
        df = df.repartition(num_partitions)
    return df.mapInArrow(
        make_encode_fn(stripe_rows, stripe_bytes, config), ENCODED_DDL
    )


def _spark_safe_type(t: pa.DataType) -> pa.DataType:
    """Map Arrow types pyarrow's parquet reader produces but Spark's
    Arrow bridge rejects: timestamp[ns] -> timestamp[us] (Spark
    timestamps are microseconds; parquet written by Spark itself reads
    back as ns in pyarrow). Recurses through nested types."""
    if pa.types.is_timestamp(t) and t.unit == "ns":
        return pa.timestamp("us", tz=t.tz)
    if pa.types.is_list(t):
        return pa.list_(_spark_safe_type(t.value_type))
    if pa.types.is_large_list(t):
        return pa.large_list(_spark_safe_type(t.value_type))
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, _spark_safe_type(f.type),
                                   f.nullable) for f in t])
    if pa.types.is_map(t):
        return pa.map_(_spark_safe_type(t.key_type),
                       _spark_safe_type(t.item_type))
    return t


def _spark_safe_batch(b: pa.RecordBatch) -> pa.RecordBatch:
    safe = pa.schema([pa.field(f.name, _spark_safe_type(f.type),
                               f.nullable) for f in b.schema])
    if safe == b.schema:
        return b
    # safe=False: ns -> us TRUNCATES sub-microsecond digits, exactly
    # what Spark's own parquet scan does with TIMESTAMP(NANOS) columns
    # (Spark timestamps are microseconds); the default safe cast would
    # instead crash the worker on any true-ns value
    return pa.Table.from_batches([b]).cast(pa.schema(safe), safe=False) \
        .combine_chunks().to_batches()[0]


def _residual_mask(rb, residual):
    """Conjunctive (col, op, val) predicate -> boolean Arrow mask.
    Mirrors iceberg.Predicate ops so a pruning predicate can be
    re-applied row-level inside the fused scan (pruning is only ever
    file/row-group granular)."""
    import pyarrow.compute as pc

    ops = {"=": pc.equal, ">=": pc.greater_equal, "<=": pc.less_equal,
           ">": pc.greater, "<": pc.less}
    mask = None
    for col, op, val in residual:
        idx = rb.schema.get_field_index(col)
        if idx < 0:
            # get_field_index returns -1 and rb.column(-1) is the LAST
            # column — silently filtering on the wrong column. Refuse.
            raise ValueError(
                f"residual predicate column {col!r} is absent from the "
                f"data file's physical schema {rb.schema.names}; "
                f"compact() the table or use the DataFrame read path")
        arr = rb.column(idx)
        if op == "in":
            m = pc.is_in(arr, value_set=pa.array(list(val)))
        else:
            m = ops[op](arr, val)
        m = pc.fill_null(m, False)
        mask = m if mask is None else pc.and_(mask, m)
    return mask


def scan_row_group(pf, f: str, rg: int, batch_rows: int,
                   columns=None, drop_positions=None,
                   rg_offsets: dict | None = None,
                   drop_values=None, residual=None):
    """Yield one row group's batches with optional Iceberg row-level
    delete filtering, shared by the fused encode and the fused
    resumable sink so tombstone semantics cannot diverge between them:

    - ``drop_positions`` (position deletes): file-level positions map
      to row-group-local indices by binary search against the file's
      row-group offsets (cached in ``rg_offsets``); each batch drops
      its slice.
    - ``drop_values`` (equality deletes): per-file list of
      (column, Arrow value array) for single-column sets — one
      vectorized ``pc.is_in`` per batch (the delete-by-url/doc_id
      GDPR shape) — or (column_list, Arrow table of key tuples) for
      multi-column sets, applied as a vectorized pyarrow anti-join
      with row order restored through an index column. No per-row
      Python either way.
    """
    import pyarrow.compute as pc

    vals = (drop_values or {}).get(f)
    if vals and columns is not None:
        need = [c for cs, _ in vals
                for c in (cs if isinstance(cs, (list, tuple)) else [cs])]
        missing = [c for c in need if c not in columns]
        if missing:
            raise ValueError(
                f"equality-delete column(s) {missing} are projected "
                f"out; include them or compact() the table")
    if residual and columns is not None:
        rmiss = [c for c, _, _ in residual if c not in columns]
        if rmiss:
            raise ValueError(
                f"residual predicate column(s) {rmiss} are projected "
                f"out; include them in the projection")
    local = None
    drops = (drop_positions or {}).get(f)
    if drops is not None:
        if rg_offsets is None:
            rg_offsets = {}
        if f not in rg_offsets:
            md = pf.metadata
            counts = [md.row_group(i).num_rows
                      for i in range(md.num_row_groups)]
            rg_offsets[f] = np.concatenate(([0], np.cumsum(counts)))
        start = int(rg_offsets[f][rg])
        end = int(rg_offsets[f][rg + 1])
        local = drops[np.searchsorted(drops, start):
                      np.searchsorted(drops, end)] - start
    cur = 0
    for rb in pf.iter_batches(batch_size=batch_rows, row_groups=[rg],
                              columns=columns, use_threads=False):
        n = rb.num_rows
        if local is not None and local.size:
            sel = local[(local >= cur) & (local < cur + n)] - cur
            if sel.size:
                mask = np.ones(n, bool)
                mask[sel] = False
                rb = rb.filter(pa.array(mask))
        cur += n
        if vals and rb.num_rows:
            for col, value_arr in vals:
                if isinstance(col, (list, tuple)):
                    t = pa.Table.from_batches([rb]).append_column(
                        "__row_idx", pa.array(
                            np.arange(rb.num_rows, dtype=np.int64)))
                    kept = t.join(value_arr, keys=list(col),
                                  join_type="left anti")
                    if kept.num_rows == rb.num_rows:
                        continue       # nothing dropped: keep rb AS IS
                    # Acero's hash join does not preserve row order:
                    # always restore it through the index column
                    kept = kept.sort_by("__row_idx")
                    kept = kept.remove_column(
                        kept.schema.get_field_index("__row_idx"))
                    kept = kept.select(rb.schema.names).combine_chunks()
                    rb = (kept.to_batches()[0] if kept.num_rows
                          else rb.slice(0, 0))
                else:
                    hit = pc.is_in(
                        rb.column(rb.schema.get_field_index(col)),
                        value_set=value_arr)
                    rb = rb.filter(pc.invert(pc.fill_null(hit, False)))
        if residual and rb.num_rows:
            rb = rb.filter(_residual_mask(rb, residual))
        if rb.num_rows:
            yield _spark_safe_batch(rb)


def _scan_encode_fn(columns, stripe_rows, stripe_bytes, config, batch_rows,
                    drop_positions=None, drop_values=None,
                    residual=None):
    """mapInArrow fn over split rows: pyarrow reads the row groups and
    the stripes are encoded in the SAME Python worker — the payload
    bytes never cross the JVM boundary (only file/row-group metadata in,
    encoded stripes out).

    ``drop_positions`` maps file path -> SORTED int64 array of
    file-level row positions to SKIP (Iceberg position deletes): each
    row group subtracts its slice of the array by binary search, and
    batches filter the local indices out before encoding — tombstoned
    rows never reach a stripe."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from . import sources

        enc = make_encode_fn(stripe_rows, stripe_bytes, config)

        def scan() -> Iterator[pa.RecordBatch]:
            handles = sources.ParquetHandleCache()
            rg_offsets: dict[str, np.ndarray] = {}
            for b in batches:
                files = b.column("file").to_pylist()
                rgs = b.column("rg").to_pylist()
                for f, rg in zip(files, rgs):
                    yield from scan_row_group(
                        handles.get(f), f, rg, batch_rows,
                        columns=columns, drop_positions=drop_positions,
                        rg_offsets=rg_offsets, drop_values=drop_values,
                        residual=residual)

        yield from enc(scan())

    return fn


def encode_parquet(spark, path: str, columns: list[str] | None = None,
                   ranges=None,
                   stripe_rows: int = DEFAULT_STRIPE_ROWS,
                   stripe_bytes: int = DEFAULT_STRIPE_BYTES,
                   config: dict | None = None,
                   num_partitions: int | None = None,
                   batch_rows: int = 16384,
                   files: list[str] | None = None,
                   drop_positions=None, drop_values=None,
                   residual=None):
    """Fused Python-side scan + encode over a parquet table: the fast
    path for encode jobs, measured 3-4x the DataFrame route end-to-end.

    ``encode_table`` pays a double conversion the query itself never
    needs: the JVM parquet scan materializes columnar pages into
    InternalRows, ArrowEvalPython re-columnarizes them, and every
    payload byte crosses the JVM->Python socket. Here the splits are
    (file, row_group) metadata planned by sources.plan_splits — on the
    driver, LPT-packed by bytes, one task per bucket, so the job is a
    single stage whose only Python process is the encoding worker — and
    pyarrow reads the pages directly into Arrow inside that worker. Zero
    payload crossing, zero row materialization.

    Scale notes (100 TB / 1000 executors): splits are row groups, the
    same granularity Spark's own scan splits by; ``ranges``
    [(col, lo, hi), ...] prunes row groups on parquet stats before any
    data IO and ``columns`` projects at the column-chunk level, so
    pushdown/pruning parity with the Catalyst scan is kept. Reading one
    row group streams batch-at-a-time (constant memory per task). Use
    ``encode_table`` instead when the input needs a row shuffle first
    (e.g. re-layout by url hash) or is not parquet.
    """
    from . import sources

    plan = sources.plan_splits(spark, path, ranges, num_partitions, files)
    return plan.map_in_arrow(
        _scan_encode_fn(columns, stripe_rows, stripe_bytes, config,
                        batch_rows, drop_positions=drop_positions,
                        drop_values=drop_values, residual=residual),
        ENCODED_DDL)


def decode_table(enc_df, schema, columns: list[str] | None = None):
    """Encoded-stripes DataFrame -> original rows. `schema` is the original
    DataFrame's StructType (stripes are self-describing; Spark just needs
    the static type).

    ``columns`` projects at the byte level: only the requested columns'
    streams are decompressed and decoded in each stripe — the
    column-pruning analog for encoded data (a 2-column read of a wide
    pages table never touches the html payload bytes).

    When ``enc_df`` is a bare parquet scan of encoded stripes (e.g.
    ``spark.read.parquet(p)`` or ``manifest.read_fused_encoded``) the
    decode is fused: the stripes' (file, row group) splits are planned on
    the driver (``sources.plan_splits`` with ``defaultParallelism``
    tasks) and each task reads its stripes with pyarrow and decodes them
    in the same worker, so no payload byte enters the JVM and the read
    is one Spark job with no parquet scan in its plan. Any other
    DataFrame — filtered (``prune_stripes``), projected, cached,
    streaming, or an unwritten ``encode_table`` result — is decoded by
    a ``mapInArrow`` over its rows.
    """
    if columns is not None:
        from pyspark.sql.types import StructType

        schema = StructType([schema[c] for c in columns])
    files = _encoded_scan_files(enc_df)
    if files is None:
        return enc_df.mapInArrow(lambda bs: decode_fn(bs, columns), schema)
    from . import sources

    spark = enc_df.sparkSession
    # one task per core: plan_splits' default of two per core measured
    # slower on the pages read (1.15 s vs 0.74 s, 4 cores)
    plan = sources.plan_splits(
        spark, "<fused>", files=files,
        num_partitions=spark.sparkContext.defaultParallelism)
    return plan.map_in_arrow(
        lambda bs: decode_splits(sources.split_list(bs), columns), schema)


DECODE_SUMMARY_DDL = ("part string, n_stripes bigint, n_rows bigint, "
                      "out_bytes bigint")


def _decode_sink_fn(out_path: str, columns, compression: str,
                    prune_ranges):
    """mapInArrow fn over split rows of an ENCODED-stripes parquet:
    decode each stripe and write plain parquet parts directly from the
    worker (streaming writer, rename-on-commit) — the decode-side twin
    of the fused encode sink; only a summary row returns to the JVM.

    Part names derive from the task's split set, so a re-run with the
    same input and parallelism overwrites the same names (idempotent
    export). ``prune_ranges`` [(col, lo, hi), ...] skips stripes on the
    footer zone maps before any payload decompression."""

    def keep(footer: dict) -> bool:
        st = footer.get("stats") or {}
        for col, lo, hi in prune_ranges or ():
            rng = st.get(col)
            if not rng:
                continue
            try:
                if lo is not None and rng[1] < lo:
                    return False
                if hi is not None and rng[0] > hi:
                    return False
            except TypeError:
                continue
        return True

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        from . import sources

        splits = sources.split_list(batches)
        if not splits:
            return
        key = sources.task_key(splits)
        fs, staging, final = sources.task_output(out_path, None, key)
        writer = None
        n_stripes = n_rows = 0
        try:
            for dec in decode_splits(splits, columns, keep):
                if writer is None:
                    writer = pq.ParquetWriter(
                        staging, dec.schema,
                        compression=compression, filesystem=fs)
                writer.write_batch(dec)
                n_stripes += 1
                n_rows += dec.num_rows
            if writer is not None:
                writer.close()
                writer = None
                sources.commit_part(fs, staging, final)
                out_bytes = fs.get_file_info(final).size
            else:
                out_bytes = 0
        finally:
            if writer is not None:
                writer.close()
            sources.discard_part(fs, staging)
        yield pa.RecordBatch.from_arrays(
            [pa.array([key]), pa.array([n_stripes], pa.int64()),
             pa.array([n_rows], pa.int64()),
             pa.array([out_bytes], pa.int64())],
            names=["part", "n_stripes", "n_rows", "out_bytes"])

    return fn


def decode_parquet_to_dir(spark, enc_path: str, out_path: str,
                          columns: list[str] | None = None,
                          prune_ranges=None,
                          compression: str = "zstd",
                          num_partitions: int | None = None):
    """Fused decode export: encoded-stripes parquet -> plain parquet,
    with scan, decode AND the output write all Python-side (zero
    payload JVM crossing — the decode twin of encode_parquet /
    encode_parquet_to_dir). Returns the per-task summary DataFrame
    (part, n_stripes, n_rows, out_bytes); the job runs when it is
    acted on (.collect()/.count()).

    ``columns`` projects at the byte level (only those streams are
    decompressed); ``prune_ranges`` skips stripes on footer zone maps
    before any payload IO. Re-runs with the same plan rewrite the same
    part names (idempotent export); a re-run whose plan DIFFERS
    (parallelism / columns / pruning / input) would add new part names
    next to the old ones and duplicate rows, so a plan marker is
    checked and mismatches raise — export to a fresh out_path instead.
    """
    from . import sources

    plan = sources.plan_splits(spark, enc_path,
                               num_partitions=num_partitions)
    sources.guard_export_plan(out_path, {
        "enc_path": enc_path, "columns": columns,
        "prune_ranges": [list(r) for r in prune_ranges or []],
        "compression": compression,
        "num_partitions": num_partitions})
    return plan.map_in_arrow(
        _decode_sink_fn(out_path, columns, compression, prune_ranges),
        DECODE_SUMMARY_DDL)


def prune_stripes(enc_df, column: str, lo=None, hi=None, numeric: bool = True):
    """Zone-map stripe skipping over the encoded DataFrame — a pure
    Catalyst filter on the JSON footer's per-stripe [min, max] stats
    (no Python, no decode; composes with decode_table's projection):
    stripes whose range excludes [lo, hi] are never scheduled.

    numeric=False compares as strings (string zone maps). Stripes
    without stats for the column are kept — pruning is never wrong,
    only less selective. Timestamps/dates: pass epoch-us / epoch-days.
    """
    from pyspark.sql import functions as F

    typ = "double" if numeric else "string"
    mn = F.get_json_object("footer", f"$.stats.{column}[0]").cast(typ)
    mx = F.get_json_object("footer", f"$.stats.{column}[1]").cast(typ)
    keep = F.lit(True)
    if lo is not None:
        keep = keep & (mx.isNull() | (mx >= F.lit(lo)))
    if hi is not None:
        keep = keep & (mn.isNull() | (mn <= F.lit(hi)))
    return enc_df.filter(keep)


def bloom_prune_stripes(enc_df, column: str, value):
    """Point-lookup stripe elimination over the encoded DataFrame via
    the footer's per-stripe bloom filter (written when the encode
    config lists the column in ``bloom_columns``) — the fused-path twin
    of the .orc BLOOM_FILTER_UTF8 pruning.

    Pure Catalyst: the probe value's BLOOM_K bit positions are computed
    once on the driver; the filter is a bit test against the stored
    int64 words parsed from the footer JSON. Stripes without a bloom
    for the column, or with a different stored geometry, are KEPT —
    pruning is never a correctness dependency (compose with an exact
    filter after decode, as with zone maps)."""
    from pyspark.sql import functions as F

    from .stripe import BLOOM_K, BLOOM_M, bloom_positions

    bl = F.from_json(
        F.get_json_object("footer", f"$.blooms.{column}"),
        "struct<m:int,k:int,w:array<bigint>>")
    usable = (bl.isNotNull() & (bl["m"] == F.lit(BLOOM_M))
              & (bl["k"] == F.lit(BLOOM_K)))
    hit = F.lit(True)
    for p in bloom_positions(value):
        word = F.element_at(bl["w"], p // 64 + 1)
        # signed-int64 view of the single-bit mask (bit 63 = sign bit;
        # 1<<63 would overflow a LongType literal)
        mask = int(np.uint64(1 << (p % 64)).astype(np.int64))
        hit = hit & (word.bitwiseAND(F.lit(mask)) != 0)
    return enc_df.filter(~usable | hit)


def manifest_df(enc_df):
    """Stripe directory without blobs — the Footer analog
    (reference StripeInformation, src/Orc/Schema/Types.hs:79-90)."""
    return enc_df.drop("data")


def _cheap_salt(buckets: int):
    """Row-position salt for PARTITION ROUTING only:
    pmod(monotonically_increasing_id, buckets).

    The id is (partition_id << 33) | row_offset, so within every
    partition the salt cycles through all buckets round-robin — the
    same uniform spread a row hash gives, at zero column-read cost.
    (The previous full-row xxhash64(*columns) salt re-hashed entire
    html/text bodies per row just to pick a bucket: a whole extra pass
    over the corpus at 100 TB.)

    The id is NONDETERMINISTIC across task retries, which is safe here
    because it only steers which partition encodes a row (any routing
    encodes every row exactly once, and Spark re-runs INDETERMINATE
    shuffle map stages wholesale on fetch failure). Do NOT use it to
    key an aggregation — salted_agg uses a deterministic column hash.
    """
    from pyspark.sql import functions as F

    return F.pmod(F.monotonically_increasing_id(), F.lit(buckets))


def salted(df, cols, buckets: int):
    """Attach a salt column for skew-free grouping on a hot key (north
    rule: skewed lang/domain keys). Salt is a DETERMINISTIC hash of the
    named columns — pass the grouping keys plus the aggregation input
    columns (already read by the query, so zero extra IO; never
    html/text bodies). Determinism matters for a shuffle KEY: a task
    retry after a fetch failure must reproduce identical salts or
    partial aggregates would route differently between attempts."""
    from pyspark.sql import functions as F

    cols = [cols] if isinstance(cols, str) else list(cols)
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(*cols), F.lit(buckets)).cast("int"))


def salted_agg(df, key_cols, agg_exprs: dict, buckets: int = 16):
    """Two-phase aggregation for skewed keys: partial-aggregate on
    (key, salt), then merge per key. P(en)=0.55-style hot languages never
    funnel into one reducer.

    agg_exprs: {out_name: ("sum"|"count"|"min"|"max", in_col)} — the
    re-aggregable subset (avg = sum/count at the call site).
    """
    from pyspark.sql import functions as F

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    in_cols = [col for _, col in agg_exprs.values()]
    salted_df = salted(df, keys + in_cols, buckets)
    partial_aggs, final_aggs = [], []
    for out, (fn, col) in agg_exprs.items():
        pname = f"_p_{out}"
        if fn == "count":
            partial_aggs.append(F.count(col).alias(pname))
            final_aggs.append(F.sum(pname).alias(out))
        elif fn == "sum":
            partial_aggs.append(F.sum(col).alias(pname))
            final_aggs.append(F.sum(pname).alias(out))
        elif fn == "min":
            partial_aggs.append(F.min(col).alias(pname))
            final_aggs.append(F.min(pname).alias(out))
        elif fn == "max":
            partial_aggs.append(F.max(col).alias(pname))
            final_aggs.append(F.max(pname).alias(out))
        else:
            raise ValueError(f"not re-aggregable: {fn}")
    partial = salted_df.groupBy(*keys, "_salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


def encode_orc(spark, path: str, columns: list[str] | None = None,
               stripe_rows: int = DEFAULT_STRIPE_ROWS,
               stripe_bytes: int = DEFAULT_STRIPE_BYTES,
               config: dict | None = None,
               num_partitions: int | None = None,
               files: list[str] | None = None):
    """Fused Python-side scan+encode over REAL ORC files: the ORC
    twin of encode_parquet. The driver reads file tails only to plan
    (file, stripe) splits through ``sources.plan_splits`` (LPT-packed
    into ``num_partitions`` tasks, like encode_parquet); each worker
    decodes its stripes with the pure-Python ORC reader and encodes
    them in place — payload bytes never cross the JVM. ``columns``
    projects at the ORC byte level (unrequested subtrees are never
    decompressed)."""
    from .orcfile import planner
    from .orcfile.spark_source import _list_orc_files

    files = files if files is not None else _list_orc_files(path)
    if not files:
        raise ValueError(f"no .orc files under {path}")
    # check_schema=False keeps the parquet twin's behavior — each
    # stripe encodes independently
    _, plan = planner.plan_stripes(spark, files,
                                   num_partitions=num_partitions,
                                   check_schema=False)

    def scan_encode(batches: Iterator[pa.RecordBatch]
                    ) -> Iterator[pa.RecordBatch]:
        from .orcfile.reader import ORCFile as OF

        enc = make_encode_fn(stripe_rows, stripe_bytes, config)

        def scan() -> Iterator[pa.RecordBatch]:
            opened: dict[str, OF] = {}
            for b in batches:
                for f, i in zip(b.column("file").to_pylist(),
                                b.column("stripe").to_pylist()):
                    orc = opened.get(f) or opened.setdefault(f, OF(f))
                    yield _spark_safe_batch(orc.read_stripe(i, columns))

        yield from enc(scan())

    return plan.map_in_arrow(scan_encode, ENCODED_DDL)
