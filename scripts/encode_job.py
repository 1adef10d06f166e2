"""Cluster encode job: spark-submit entry point.

    spark-submit --py-files dist/orc_haskell_spark.zip scripts/encode_job.py \
        --input <parquet dir | iceberg table dir> --output <dir> \
        --partitions 4096 [--key url] [--stripe-rows 65536] \
        [--fused] [--snapshot-id N | --as-of-ms MS] \
        [--where lang=en] [--commit-iceberg <table dir>]
        [--compact] [--expire-keep N]      # table maintenance mode

Encodes the input table into output/stripes with a checkpointed
manifest; re-running skips completed partitions/splits
(BASELINE.json north_rule: resumable from checkpoint with per-partition
lineage + metrics).

Input resolution:
- a directory with ``metadata/version-hint.text`` is an ICEBERG table:
  the snapshot (current, --snapshot-id or --as-of-ms) is planned from
  its own Avro manifests with partition/bounds pruning (--where
  col=val / col>=val / col<=val, comma-separated conjunction)
- anything else is a parquet path (or catalog table name)

Modes:
- default: shuffle-partitioned encode (repartition by --key hash) via
  manifest.encode_to_dir — re-layouts the table, hash-resumable
- --fused: zero-crossing Python-side scan+encode via
  manifest.encode_parquet_to_dir — keeps input layout, (file,row_group)
  resumable; Iceberg snapshots feed it through the pruned file list.
  Its summary line adds the driver wall seconds of the plan, encode
  and commit phases (plan_s, encode_s, commit_s)

--commit-iceberg additionally commits the output stripes dir as an
append snapshot of an Iceberg table (idempotent per part file), giving
downstream readers snapshot isolation over the encoded output.
"""

from __future__ import annotations

import argparse
import os


_IDENT = __import__("re").compile(r"[A-Za-z_][A-Za-z0-9_]*")


def parse_where(s: str | None):
    if not s:
        return None
    terms = []
    for raw in s.split(","):
        for op in (">=", "<=", "=", ">", "<"):
            if op in raw:
                col, val = raw.split(op, 1)
                col, val = col.strip(), val.strip()
                if not _IDENT.fullmatch(col):
                    # catches unsupported operators too: 'a!=5' splits
                    # on '=' leaving col 'a!'
                    raise SystemExit(
                        f"--where term {raw!r}: {col!r} is not a "
                        f"column name (supported ops: = < <= > >=)")
                if val[:1] in ("=", "<", ">"):
                    # 'lang==en' would otherwise compare against '=en'
                    # and silently encode 0 rows
                    raise SystemExit(
                        f"--where term {raw!r}: operator {op + val[0]!r} "
                        f"is not supported (use = < <= > >=)")
                for cast in (int, float, str):
                    try:
                        v = cast(val)
                        break
                    except ValueError:
                        continue
                terms.append((col, op, v))
                break
        else:
            raise SystemExit(f"cannot parse --where term {raw!r}")
    return terms


def check_where_columns(terms, table_path: str) -> None:
    """An unknown column would prune nothing and filter nothing — a
    silent no-op. Refuse instead."""
    if not terms:
        return
    from orc_haskell_spark import iceberg

    names = {f["name"]
             for f in iceberg.schema_fields(table_path)}
    bad = sorted({c for c, _, _ in terms} - names)
    if bad:
        raise SystemExit(f"--where column(s) {bad} not in table schema "
                         f"(have: {sorted(names)})")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--partitions", type=int, default=1024)
    ap.add_argument("--key", default="url")
    ap.add_argument("--stripe-rows", type=int, default=65536)
    ap.add_argument("--compression", default="zstd")
    ap.add_argument("--compression-level", type=int, default=None,
                    help="outer block codec level (zstd default 3 = "
                         "size-optimal; 1 trades ~6% size for ~25-30% "
                         "encode throughput — measured tradeoff in "
                         "BENCH/BASELINE.md)")
    ap.add_argument("--string-codec", default="auto")
    ap.add_argument("--float-codec", default="auto",
                    choices=["auto", "raw", "alp"],
                    help="auto = measured raw/ALP/ALP-RD argmin per "
                         "column; raw or alp forces that codec")
    ap.add_argument("--sort-within", default=None, metavar="COLS",
                    help="comma-separated key(s): cluster rows inside "
                         "each stripe before encoding (codec-friendly "
                         "layout for key-correlated columns; decoded "
                         "output is a bit-identical permutation)")
    ap.add_argument("--fused", action="store_true",
                    help="zero-crossing Python-side scan+encode "
                         "(keeps input layout; no row shuffle)")
    ap.add_argument("--snapshot-id", type=int, default=None)
    ap.add_argument("--as-of-ms", type=int, default=None)
    ap.add_argument("--where", default=None,
                    help="comma-separated conjunction, e.g. "
                         "'lang=en,views>=100' (iceberg input only). "
                         "Exact on both paths: prunes files/row-groups "
                         "at plan time AND re-applies row-level "
                         "(df.filter / fused-scan residual)")
    ap.add_argument("--commit-iceberg", default=None, metavar="TABLE",
                    help="commit output stripes as an Iceberg append "
                         "snapshot of TABLE (idempotent)")
    ap.add_argument("--compact", action="store_true",
                    help="MAINTENANCE: rewrite the input Iceberg "
                         "table's live view (applies row-level "
                         "deletes) as a replace snapshot, then exit")
    ap.add_argument("--expire-keep", type=int, default=None,
                    metavar="N", help="MAINTENANCE: expire all but the "
                    "newest N snapshots of the input Iceberg table "
                    "(deletes files only they reference), then exit")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from orc_haskell_spark import iceberg, manifest

    spark = (SparkSession.builder.appName("orc-haskell-spark-encode")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    is_iceberg = os.path.exists(
        os.path.join(args.input, "metadata", "version-hint.text"))
    if args.compact or args.expire_keep is not None:
        if not is_iceberg:
            raise SystemExit("--compact/--expire-keep need an Iceberg "
                             "table as --input")
        if args.compact:
            snap = iceberg.compact(spark, args.input)
            print("compacted: snapshot", snap["snapshot-id"])
        if args.expire_keep is not None:
            res = iceberg.expire_snapshots(args.input,
                                           keep_last=args.expire_keep)
            print(f"expired {len(res['expired'])} snapshot(s), "
                  f"deleted {len(res['deleted_files'])} file(s)")
        spark.stop()
        return
    where = parse_where(args.where)
    if where and not is_iceberg:
        raise SystemExit("--where needs an Iceberg table as --input")
    if where:
        check_where_columns(where, args.input)
    config = {"compression": args.compression,
              "string_codec": args.string_codec}
    if args.float_codec != "auto":
        config["float_codec"] = args.float_codec
    if args.compression_level is not None:
        config["compression_level"] = args.compression_level
    if args.sort_within:
        config["sort_within"] = [c.strip() for c in
                                 args.sort_within.split(",") if c.strip()]

    if args.fused:
        if is_iceberg:
            # encode_iceberg_to_dir plans the snapshot itself and
            # applies position/equality tombstones inside the workers,
            # folding them into the resume config hash
            summary = iceberg.encode_iceberg_to_dir(
                spark, args.input, args.output,
                snapshot_id=args.snapshot_id, as_of_ms=args.as_of_ms,
                where=where, stripe_rows=args.stripe_rows,
                config=config, num_partitions=args.partitions)
            print(f"iceberg snapshot planned: "
                  f"{summary['splits_total']} splits")
        else:
            summary = manifest.encode_parquet_to_dir(
                spark, args.input, args.output,
                stripe_rows=args.stripe_rows, config=config,
                num_partitions=args.partitions, source=args.input)
    else:
        if is_iceberg:
            df = iceberg.read_iceberg(spark, args.input,
                                      args.snapshot_id, args.as_of_ms,
                                      where)
            if where:
                # planning prunes files; re-apply the predicate
                # ROW-level so kept files contribute only matching rows
                from pyspark.sql import functions as F
                ops = {"=": "__eq__", ">=": "__ge__", "<=": "__le__",
                       ">": "__gt__", "<": "__lt__"}
                for col, op, val in where:
                    df = df.filter(getattr(F.col(col), ops[op])(val))
        else:
            df = spark.read.parquet(args.input)
        summary = manifest.encode_to_dir(
            df, args.output, partition_key=args.key,
            num_partitions=args.partitions,
            stripe_rows=args.stripe_rows, config=config,
            source=args.input)
    if args.fused:
        manifest.fused_metrics(spark, args.output) \
            .show(20, truncate=False)
    else:
        manifest.metrics(spark, args.output) \
            .orderBy("part_id").show(20, truncate=False)
    print("summary:", summary)
    if args.commit_iceberg:
        snap = iceberg.commit_parquet_dir(
            args.commit_iceberg, os.path.join(args.output, "stripes"))
        print("iceberg commit:",
              snap["snapshot-id"] if snap else "nothing new")
    spark.stop()


if __name__ == "__main__":
    main()
