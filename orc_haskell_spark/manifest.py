"""Checkpointed per-partition stripe manifests: lineage + metrics + resume.

The reference's Footer is a stripe directory (offsets, row counts) that
lets a reader resume mid-file (StripeInformation,
src/Orc/Schema/Types.hs:79-90; ColumnStatistics :115-128). At cluster
scale that becomes a manifest *table*: one row per (part_id, stripe),
carrying rows/bytes/codec-choice metrics and a lineage stamp (source,
config hash), checkpointed next to the encoded data so an interrupted
run re-encodes only missing partitions.

Both sinks here encode through ``engine.encode_stripes``, the one
worker encode loop; they differ only in stripe numbering, codec-cache
scope (per part in ``encode_to_dir``, per task in the fused sink) and
output.

Layout under `path/`:
  stripes/part_id=N/...parquet   encoded stripe rows (engine.ENCODED_DDL)
  manifest/...parquet            stripe directory w/o blobs + lineage
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os

import numpy as np

from . import engine


def _config_hash(config: dict | None, stripe_rows: int,
                 drop_positions=None, drop_values=None,
                 residual=None) -> str:
    extra = vextra = None
    if drop_positions:
        h = hashlib.sha256()
        for k in sorted(drop_positions):
            h.update(k.encode())
            h.update(drop_positions[k].tobytes())
        extra = h.hexdigest()
    if drop_values:
        h = hashlib.sha256()
        for k in sorted(drop_values):
            h.update(k.encode())
            for col, arr in drop_values[k]:
                h.update(str(col).encode())
                rows = (arr.to_pydict() if hasattr(arr, "to_pydict")
                        else arr.to_pylist())
                h.update(str(rows).encode())
        vextra = h.hexdigest()
    blob_dict = {"config": config or {}, "stripe_rows": stripe_rows,
                 "drops": extra, "vdrops": vextra}
    if residual:
        # sort unordered collections ('in' predicates): set iteration
        # order varies across interpreter runs and would make the
        # resume hash refuse its own job after a driver restart. The
        # key is OMITTED when no residual so pre-existing out_paths
        # keep their original hashes.
        blob_dict["residual"] = [
            [c, o, repr(sorted(v) if isinstance(v, (set, frozenset))
                        else v)] for c, o, v in residual]
    blob = json.dumps(blob_dict, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _part_expr(partition_key, num_partitions: int):
    from pyspark.sql import functions as F

    cols = [partition_key] if isinstance(partition_key, str) else list(partition_key)
    return F.pmod(F.xxhash64(*cols), F.lit(num_partitions)).cast("int")


def completed_parts(spark, path: str) -> set[int]:
    """part_ids in the manifest under ``path``, read with pyarrow on the
    driver: empty when no manifest exists yet, ValueError naming the
    directory when it is unreadable (never "nothing done")."""
    m = _fused_manifest_table(path, ["part_id"])
    return set() if m is None else set(m.column("part_id").to_pylist())


def _part_stripes(df, num_partitions: int, stripe_rows: int, config):
    """Encoded-stripe rows of ``df`` (which carries a ``_part`` column),
    one stripe sequence per logical part: the exchange co-locates each
    part in one task and the sort makes it one consecutive run there, so
    the worker streams run after run through ``engine.encode_stripes``
    with a fresh codec cache per part — never more than one stripe of
    input held, whatever the part's size. The JVM sort spills to disk."""
    stripe_bytes = engine.DEFAULT_STRIPE_BYTES

    def encode_parts(batches):
        def runs():  # (part, slice) for each run of one _part value
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                parts = batch.column("_part").to_numpy()
                data = batch.drop_columns(["_part"])
                cuts = [0, *(np.flatnonzero(parts[1:] != parts[:-1]) + 1),
                        len(parts)]
                for lo, hi in zip(cuts, cuts[1:]):
                    yield int(parts[lo]), data.slice(lo, hi - lo)

        for pid, run in itertools.groupby(runs(), key=lambda r: r[0]):
            stripes = engine.encode_stripes((d for _, d in run), stripe_rows,
                                            stripe_bytes, config, {})
            for seq, enc in enumerate(stripes):
                yield engine.stripe_row(pid, (pid << 32) | seq, *enc)

    return df.repartition(num_partitions, "_part") \
        .sortWithinPartitions("_part") \
        .mapInArrow(encode_parts, engine.ENCODED_DDL)


def encode_to_dir(df, path: str, partition_key="url", num_partitions: int = 32,
                  stripe_rows: int = engine.DEFAULT_STRIPE_ROWS,
                  config: dict | None = None, source: str = "unknown") -> dict:
    """Encode df into path/, skipping partitions already in the manifest.

    Deterministic partition assignment: part_id = pmod(xxhash64(key), N),
    so a re-run maps every row to the same part regardless of input
    split order — that's what makes skip-completed sound.

    Returns a summary dict {parts_total, parts_done_before, parts_encoded}.
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    done = completed_parts(spark, path)
    cfg_hash = _config_hash(config, stripe_rows)

    with_part = df.withColumn("_part", _part_expr(partition_key, num_partitions))
    todo = with_part.filter(~F.col("_part").isin(list(done))) if done else with_part

    enc = _part_stripes(todo, num_partitions, stripe_rows, config)
    spath = os.path.join(path, "stripes")
    # Crash-safety: stripes land before their manifest rows, so a driver
    # crash in that window leaves committed stripes with no manifest.
    # The re-run sees the part as not-done and encodes it again —
    # dynamic partition overwrite makes that REPLACE the orphan
    # part_id=N directory instead of appending duplicate stripes, so
    # the two-step commit is idempotent.
    # blobs are already block-compressed: parquet re-compression off
    enc.write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .option("compression", "uncompressed") \
        .partitionBy("part_id").parquet(spath)

    # manifest: directory + metrics + lineage, appended per run
    written = spark.read.parquet(spath)
    new_manifest = (
        written.drop("data")
        .filter(~F.col("part_id").isin(list(done)) if done else F.lit(True))
        .withColumn("source", F.lit(source))
        .withColumn("config_hash", F.lit(cfg_hash))
    )
    new_manifest.write.mode("append").parquet(os.path.join(path, "manifest"))

    after = completed_parts(spark, path)
    return {
        "parts_total": num_partitions,
        "parts_done_before": len(done),
        "parts_encoded": len(after) - len(done),
    }


def read_encoded(spark, path: str):
    return spark.read.parquet(os.path.join(path, "stripes"))


def read_manifest(spark, path: str):
    return spark.read.parquet(os.path.join(path, "manifest"))


def metrics(spark, path: str):
    """Aggregate manifest metrics: rows/bytes/ratio per partition."""
    from pyspark.sql import functions as F

    m = read_manifest(spark, path)
    return m.groupBy("part_id").agg(
        F.count("*").alias("n_stripes"),
        F.sum("n_rows").alias("rows"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        (F.sum("raw_bytes") / F.sum("enc_bytes")).alias("ratio"),
    )


# ---- fused sink: Python-side scan -> encode -> Python-side parquet write

FUSED_MANIFEST_DDL = (
    "task_key string, file string, rg int, stripe_id bigint, "
    "n_rows bigint, raw_bytes bigint, enc_bytes bigint, footer string")


def _fused_sink_fn(out_path: str, stripe_rows: int, stripe_bytes: int,
                   config, batch_rows: int, drop_positions=None,
                   drop_values=None, residual=None):
    """mapInArrow fn over split rows: scan row groups with pyarrow,
    encode stripes, and WRITE the encoded-stripes parquet part directly
    from the worker (streaming ParquetWriter, one row group per stripe
    row — constant memory). Only tiny manifest rows return to the JVM:
    the complete encode job moves zero payload bytes across the
    JVM<->Python boundary in either direction.

    Commit protocol: the part file is written under a name derived from
    the task's split set (task_key) into stripes/, staged as a hidden
    .staging-* file and renamed at the end. Readers count ONLY files
    whose task_key appears in the manifest (written by the driver after
    the job succeeds), so half-written or orphaned parts — task retry,
    speculative attempt, stage re-run with different split assignment —
    are never observed. Same-name replace makes retried attempts
    last-wins idempotent.
    """

    def fn(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from . import sources

        splits = sources.split_list(batches)
        if not splits:
            return
        key = sources.task_key(splits)
        fs, staging, final = sources.task_output(out_path, "stripes", key)

        # stripe rows carry (task_key, file, rg) so readers can filter
        # at SPLIT granularity — the same unit resume uses. If a split's
        # manifest coverage is lost and it is re-encoded under a new
        # task_key, the old part's stripes for that split become
        # invisible instead of duplicating rows.
        out_schema = pa.schema(list(engine.ENCODED_ARROW_SCHEMA)
                               + [pa.field("task_key", pa.string()),
                                  pa.field("file", pa.string()),
                                  pa.field("rg", pa.int32())])
        # parquet statistics and dictionaries only on the small columns:
        # on the multi-MB data values and the footer JSON they cost more
        # than the stripe write, and nothing reads them
        small = [n for n in out_schema.names if n not in ("footer", "data")]
        # the manifest rows (FUSED_MANIFEST_DDL): each stripe row less data
        ledger_cols = ["task_key", "file", "rg", "stripe_id", "n_rows",
                       "raw_bytes", "enc_bytes", "footer"]
        ledger = []
        writer = None
        handles = sources.ParquetHandleCache()
        rg_offsets: dict = {}
        cache: dict = {}  # per-TASK codec state (FSST tables, selector
        # trials); stripes are self-describing so reuse across splits
        # is safe and skips re-training per 25k-row split
        try:
            writer = pq.ParquetWriter(staging, out_schema,
                                      compression="NONE", filesystem=fs,
                                      write_statistics=small,
                                      use_dictionary=small)
            for f, rg in splits:
                scan = engine.scan_row_group(
                    handles.get(f), f, rg, batch_rows,
                    drop_positions=drop_positions, rg_offsets=rg_offsets,
                    drop_values=drop_values, residual=residual)
                stripes = engine.encode_stripes(scan, stripe_rows,
                                                stripe_bytes, config, cache)
                for seq, enc in enumerate(stripes):
                    row = engine.stripe_row(0, (rg << 20) | seq, *enc)
                    row = pa.RecordBatch.from_arrays(
                        row.columns + [pa.array([key]), pa.array([f]),
                                       pa.array([rg], pa.int32())],
                        schema=out_schema)
                    writer.write_batch(row)
                    ledger.append(row.select(ledger_cols))
                    # free this stripe's batch and payload copies before
                    # the next stripe encodes (pages bench, 4-core VM:
                    # worker peak RSS 242 → 218 MB)
                    del row, enc
            writer.close()
            writer = None
            sources.commit_part(fs, staging, final)
        finally:
            if writer is not None:
                writer.close()
            sources.discard_part(fs, staging)
        if ledger:
            yield from pa.Table.from_batches(ledger).combine_chunks() \
                .to_batches()

    return fn


def encode_parquet_to_dir(spark, in_path: str, out_path: str,
                          stripe_rows: int = engine.DEFAULT_STRIPE_ROWS,
                          stripe_bytes: int = engine.DEFAULT_STRIPE_BYTES,
                          config: dict | None = None,
                          num_partitions: int | None = None,
                          batch_rows: int = 16384,
                          source: str = "unknown",
                          files: list[str] | None = None,
                          drop_positions=None, drop_values=None,
                          residual=None, ranges=None) -> dict:
    """Fused resumable encode job: parquet table -> encoded-stripe files
    + manifest, with ZERO payload bytes crossing the JVM boundary.

    Resume unit is the SPLIT (file, row_group): the driver reads the
    committed manifest with pyarrow, and ``sources.plan_splits`` drops
    the splits it already holds BEFORE LPT packing, so a resume is
    balanced over what is left — finer-grained and cheaper than
    encode_to_dir's hash-partition resume (no row shuffle at all), at
    the cost of keeping the input layout instead of re-partitioning by
    key. A fresh write (in driver planning mode) is ONE Spark job: the
    sink's mapInArrow plus the manifest write, which is the commit
    point (see _fused_sink_fn for the orphan-safety argument); a resume
    with nothing left runs no job at all.

    Returns {splits_total, splits_done_before, splits_encoded} and the
    driver wall seconds of the three phases: ``plan_s`` (manifest read,
    config check, split planning), ``encode_s`` (the Spark job) and
    ``commit_s`` (re-reading the committed manifest for the count).
    """
    import time

    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from . import sources

    t0 = time.perf_counter()
    cfg_hash = _config_hash(config, stripe_rows, drop_positions,
                            drop_values, residual)
    done = set()
    m = _fused_manifest_table(out_path, ["file", "rg", "config_hash"])
    if m is not None:
        # a resume must not silently mix layouts: stripes from an
        # earlier run with a DIFFERENT config/stripe_rows are already
        # ledgered, so re-encoding under the new config would leave
        # both visible to readers. Refuse loudly instead.
        other = m.num_rows - m.filter(
            pc.field("config_hash") == cfg_hash).num_rows
        if other:
            raise ValueError(
                f"{out_path!r} holds {other} manifest rows encoded "
                f"under a different config/stripe_rows; resume with "
                f"the original settings or use a fresh out_path")
        done = _split_set(m)
    plan = sources.plan_splits(spark, in_path, ranges, num_partitions,
                               files, skip=done)
    total = plan.total
    t1 = time.perf_counter()
    if plan.remaining != 0:
        mdf = plan.map_in_arrow(
            _fused_sink_fn(out_path, stripe_rows, stripe_bytes, config,
                           batch_rows, drop_positions=drop_positions,
                           drop_values=drop_values, residual=residual),
            FUSED_MANIFEST_DDL)
        mdf.withColumn("source", F.lit(source)) \
            .withColumn("config_hash", F.lit(cfg_hash)) \
            .write.mode("append").parquet(os.path.join(out_path, "manifest"))
    t2 = time.perf_counter()
    after = _fused_manifest_table(out_path, ["file", "rg"])
    n_after = len(_split_set(after)) if after is not None else 0
    t3 = time.perf_counter()
    return {"splits_total": total, "splits_done_before": len(done),
            "splits_encoded": n_after - len(done),
            "plan_s": round(t1 - t0, 3), "encode_s": round(t2 - t1, 3),
            "commit_s": round(t3 - t2, 3)}


def _fused_manifest_table(path: str, columns: list[str]):
    """``columns`` of the committed fused manifest under ``path``, read
    with pyarrow on the driver (no Spark job), or None when no manifest
    directory exists yet — the ONLY state that means "nothing
    committed". An unreadable or corrupt manifest raises naming the
    directory: treating it as empty would re-encode, or vacuum,
    everything."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.fs as pafs

    from . import sources

    fs, local = sources._resolve_fs(path)
    mdir = f"{local.rstrip('/')}/manifest"
    if fs.get_file_info(mdir).type == pafs.FileType.NotFound:
        return None
    try:
        d = ds.dataset(mdir, format="parquet", filesystem=fs)
        return d.to_table(columns=columns) if d.files else None
    except (OSError, pa.ArrowException) as e:
        raise ValueError(
            f"unreadable fused manifest {mdir!r}: {e}; repair or remove "
            f"it (removing re-encodes every split)") from e


def _split_set(m) -> set[tuple]:
    return set(zip(m.column("file").to_pylist(), m.column("rg").to_pylist()))


def read_fused_manifest(spark, path: str):
    return spark.read.parquet(os.path.join(path, "manifest"))


def read_fused_encoded(spark, path: str):
    """Committed encoded stripes (``engine.ENCODED_DDL`` columns): stripe
    rows whose (task_key, file, rg) appears in the manifest — the ledger
    filter, at the same SPLIT granularity resume uses, that makes
    orphaned / half-committed / superseded part files invisible.

    The ledger is read with pyarrow on the driver (no Spark job). When
    every ledgered task_key hashes back from its own manifest splits
    (``sources.task_key``), each committed part file provably holds
    committed splits only, so the result is a bare parquet scan of those
    files — ``engine.decode_table`` then fuses the read. Spark lists
    more than ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    (32) explicit paths with a listing job. Otherwise (manifest rows
    lost for part of a task's splits, a split that wrote no stripe, a
    committed part gone missing) the stripes directory is broadcast
    semi-joined against the ledger's distinct (task_key, file, rg)
    keys, built from the table the driver already read, which is exact.
    A missing or unreadable manifest raises ValueError naming it."""
    from pyspark.sql import functions as F

    m = _fused_manifest_table(path, ["task_key", "file", "rg"])
    if m is None:
        raise ValueError(
            f"no fused manifest under {path!r}: nothing committed there "
            f"(missing or empty manifest/ directory)")
    parts = _whole_task_parts(path, m)
    if parts is not None:
        return spark.read.schema(engine.ENCODED_DDL).parquet(*parts)
    stripes = spark.read.parquet(os.path.join(path, "stripes"))
    keys = spark.createDataFrame(
        m.group_by(["task_key", "file", "rg"]).aggregate([]))
    return stripes.join(F.broadcast(keys), ["task_key", "file", "rg"],
                        "left_semi").drop("task_key", "file", "rg")


def _whole_task_parts(path: str, m) -> list[str] | None:
    """The committed part files of manifest table ``m`` if every
    task_key's ledgered (file, rg) set hashes back to the key and its
    part file exists, else None."""
    import pyarrow.fs as pafs

    from . import sources

    by_key: dict[str, set] = {}
    for key, f, rg in zip(m.column("task_key").to_pylist(),
                          m.column("file").to_pylist(),
                          m.column("rg").to_pylist()):
        by_key.setdefault(key, set()).add((f, rg))
    if not by_key or any(sources.task_key(s) != key
                         for key, s in by_key.items()):
        return None
    stripes = f"{path.rstrip('/')}/stripes"
    names = [f"part-{key}.parquet" for key in sorted(by_key)]
    fs, local = sources._resolve_fs(stripes)
    if any(i.type != pafs.FileType.File
           for i in fs.get_file_info([f"{local}/{n}" for n in names])):
        return None
    return [f"{stripes}/{n}" for n in names]


def fused_metrics(spark, path: str):
    """Per-input-file rollup of the fused manifest: stripes, rows,
    raw/encoded bytes and ratio — the lineage + metrics surface the
    north rule asks every checkpointed run to carry."""
    from pyspark.sql import functions as F

    m = read_fused_manifest(spark, path)
    return m.groupBy("file", "config_hash", "source").agg(
        F.countDistinct("rg").alias("n_splits"),
        F.count("*").alias("n_stripes"),
        F.sum("n_rows").alias("rows"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        (F.sum("raw_bytes") / F.sum("enc_bytes")).alias("ratio"))


def vacuum_fused(spark, path: str) -> dict:
    """Delete stripe part files whose task_key never made it into the
    manifest — leftovers of killed runs, superseded re-encodes, or
    stage retries. Readers never see them (the ledger filter), so this
    is pure space reclamation; run it after jobs complete (a run still
    in flight would have its staged work removed). Works through the
    same filesystem abstraction the writers use, so URI-addressed
    datasets (s3://...) vacuum too. A dataset with no manifest at all
    (run died before the first commit) is ALL orphans and is swept
    clean; an unreadable one raises instead of sweeping committed
    parts. Returns {kept, removed}."""
    import pyarrow.fs as pafs

    from . import sources

    m = _fused_manifest_table(path, ["task_key"])
    mkeys = set(m.column("task_key").to_pylist()) if m is not None else set()
    fs, local = sources._resolve_fs(path)
    stripes_dir = f"{local.rstrip('/')}/stripes"
    try:
        infos = fs.get_file_info(
            pafs.FileSelector(stripes_dir, recursive=False))
    except FileNotFoundError:
        return {"kept": 0, "removed": 0}
    kept = removed = 0
    for info in infos:
        if info.type != pafs.FileType.File:
            continue
        name = info.base_name
        if name.startswith(".staging-"):
            fs.delete_file(info.path)  # never visible: always sweep
            removed += 1
        elif name.startswith("part-") and name.endswith(".parquet"):
            key = name[len("part-"):-len(".parquet")]
            if key in mkeys:
                kept += 1
            else:
                fs.delete_file(info.path)
                removed += 1
    return {"kept": kept, "removed": removed}
