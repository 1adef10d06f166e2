"""Driver contract for the spark-graft builder (PySpark target).

The engine is a per-column lightweight-compression engine (SURVEY.md §2),
so its "queries" are encode→decode roundtrips: the Spark side runs the
full distributed pipeline (mapInArrow encode → encoded-stripes DataFrame
→ mapInArrow decode) and must return exactly the rows DuckDB reads from
the raw parquet — the reference's own correctness bar (bit-identical
roundtrip, test/Test/Orc/Logical.hs:103-138) expressed as an oracle
comparison. Additional entries pin each string codec path (dict /
fsst) and the manifest metrics.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from orc_haskell_spark import engine, gen, warc  # noqa: E402
from orc_haskell_spark.pipeline import (decontam, dedup,  # noqa: E402
                                        extract, filters, packing,
                                        sessions, text)

_WORKERS_READY: set[int] = set()


def _pkg_stamp(pkg_dir: str, root: str) -> str:
    """Zip cache key over (sorted relpath, mtime) pairs, so DELETING or
    renaming a module — not just editing one — invalidates the shipped
    worker zip (a max-mtime stamp missed deletions)."""
    import hashlib

    entries = []
    for dirpath, _, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith((".py", ".c")):
                p = os.path.join(dirpath, f)
                entries.append((os.path.relpath(p, root),
                                int(os.path.getmtime(p))))
    return hashlib.md5(repr(sorted(entries)).encode()).hexdigest()[:12]


def _ensure_worker_imports(spark: SparkSession) -> None:
    """Ship the package to executors regardless of the harness cwd.

    sys.path tweaks only affect the driver; a harness launching Spark
    outside /root/repo would hit ModuleNotFoundError inside mapInArrow
    workers. addPyFile of a package zip makes the contract self-carrying.
    """
    key = id(spark.sparkContext)
    if key in _WORKERS_READY:
        return
    import tempfile
    import zipfile

    root = os.path.dirname(os.path.abspath(__file__))
    pkg_dir = os.path.join(root, "orc_haskell_spark")
    stamp = _pkg_stamp(pkg_dir, root)
    zpath = os.path.join(tempfile.gettempdir(),
                         f"orc_haskell_spark_pyfiles_{stamp}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
            pkg = os.path.join(root, "orc_haskell_spark")
            for dirpath, _, files in os.walk(pkg):
                if "__pycache__" in dirpath:
                    continue
                for f in files:
                    # .c kernel sources ship too: a worker importing
                    # from the zip alone (real-cluster --py-files
                    # layout) would otherwise silently fall back to
                    # the numpy kernels — a perf cliff, not an error
                    if f.endswith((".py", ".c")):
                        p = os.path.join(dirpath, f)
                        z.write(p, os.path.relpath(p, root))
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # already added in this context
    _WORKERS_READY.add(key)

_TABLE_COLS = {
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "part": None,
    "supplier": None,
    "nation": None,
    "region": None,
}

_STRIPE_ROWS = 8192


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    _ensure_worker_imports(spark)
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _roundtrip(spark: SparkSession, sf_dir: str, table: str,
               config: dict | None = None) -> DataFrame:
    df = _load(spark, sf_dir, table)
    enc = engine.encode_table(df, stripe_rows=_STRIPE_ROWS, config=config)
    return engine.decode_table(enc, df.schema)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full encode→decode of the documents table at sf0.001,
    summarized per lang (exercises dict/fsst/rle paths end-to-end)."""
    sf_dir = "/root/testdata/sf0.001"
    dec = _roundtrip(spark, sf_dir, "documents")
    return (dec.groupBy("lang")
            .agg(F.count("*").alias("docs"),
                 F.sum("n_chars").alias("chars"),
                 F.min("doc_id").alias("min_doc"),
                 F.max("doc_id").alias("max_doc"))
            .orderBy("lang"))


def _mk_roundtrip(table: str, config: dict | None = None):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _roundtrip(spark, sf_dir, table, config)
    return q


# per-dim-table digest columns: (int/string columns -> md5 row digest,
# double columns -> exact scaled-cents sums). Doubles stay OUT of the
# md5 concat because Spark and DuckDB format float strings differently;
# floor(x*100+0.5) on the same IEEE double is engine-independent.
_DIM_DIGEST: dict[str, tuple[list[str], list[str]]] = {
    "customer": (["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
                 ["c_acctbal"]),
    "part": (["p_partkey", "p_name", "p_brand", "p_type", "p_size"],
             ["p_retailprice"]),
    "supplier": (["s_suppkey", "s_name", "s_nationkey"], ["s_acctbal"]),
    "nation": (["n_nationkey", "n_name", "n_regionkey"], []),
    "region": (["r_regionkey", "r_name"], []),
}


def _roundtrip_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode→decode all five dimension tables; emit one digest row per
    table. sdig = sum of a 48-bit md5 prefix over the concatenated
    int/string columns (48 bits × 1500 rows stays far below int64);
    cents = exact sum of the double columns scaled to integer cents."""
    outs = []
    for tbl, (scols, dcols) in _DIM_DIGEST.items():
        dec = _roundtrip(spark, sf_dir, tbl)
        sdig = F.sum(F.conv(F.substring(
            F.md5(F.concat_ws("|", *scols)), 1, 12), 16, 10)
            .cast("long")).cast("long")
        if dcols:
            per_row = None
            for c in dcols:
                e = F.floor(F.col(c) * 100 + 0.5).cast("long")
                per_row = e if per_row is None else per_row + e
            cents = F.sum(per_row).cast("long")
        else:
            cents = F.sum(F.lit(0)).cast("long")
        outs.append(dec.agg(
            F.count("*").alias("n_rows"), sdig.alias("sdig"),
            cents.alias("cents"))
            .select(F.lit(tbl).alias("tbl"), "n_rows", "sdig", "cents"))
    out = outs[0]
    for p in outs[1:]:
        out = out.unionAll(p)
    return out


def _roundtrip_dims_oracle_sql() -> str:
    parts = []
    for tbl, (scols, dcols) in _DIM_DIGEST.items():
        sdig = (f"CAST(sum(CAST(('0x'||substr(md5(concat_ws('|', "
                f"{', '.join(scols)})),1,12)) AS BIGINT)) AS BIGINT)")
        if dcols:
            per_row = " + ".join(
                f"CAST(floor({c}*100 + 0.5) AS BIGINT)" for c in dcols)
            cents = f"CAST(sum({per_row}) AS BIGINT)"
        else:
            cents = "CAST(sum(0) AS BIGINT)"
        parts.append(
            f"SELECT '{tbl}' AS tbl, count(*) AS n_rows, "
            f"{sdig} AS sdig, {cents} AS cents FROM {tbl}")
    return " UNION ALL ".join(parts)


def _fused_sink_roundtrip_documents(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Fused resumable sink (manifest.encode_parquet_to_dir): scan,
    encode AND the encoded-parquet write all happen Python-side; only
    manifest rows cross the JVM. Decode the committed stripes back;
    oracle = plain SELECT."""
    import tempfile

    from orc_haskell_spark import manifest as mf

    _ensure_worker_imports(spark)
    path = f"{sf_dir}/documents.parquet"
    out = tempfile.mkdtemp(prefix="ohs_fused_sink_")
    mf.encode_parquet_to_dir(spark, path, out, stripe_rows=_STRIPE_ROWS,
                             num_partitions=8, source="driver")
    schema = spark.read.parquet(path).schema
    return engine.decode_table(mf.read_fused_encoded(spark, out), schema)


def _fused_transcode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused decode export (engine.decode_parquet_to_dir): encoded
    stripes -> plain parquet, scan/decode/write all Python-side.
    Returns the re-read exported table; oracle = plain SELECT."""
    import tempfile

    _ensure_worker_imports(spark)
    path = f"{sf_dir}/documents.parquet"
    tmp = tempfile.mkdtemp(prefix="ohs_transcode_")
    engine.encode_parquet(spark, path, stripe_rows=_STRIPE_ROWS,
                          num_partitions=8) \
        .write.option("compression", "uncompressed").parquet(f"{tmp}/enc")
    engine.decode_parquet_to_dir(spark, f"{tmp}/enc", f"{tmp}/out",
                                 num_partitions=8).collect()
    return spark.read.parquet(f"{tmp}/out")


def _fused_orc_encode_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """engine.encode_orc: fused scan+encode over REAL ORC files (the
    worker decodes stripes with the pure-Python ORC reader and encodes
    in place, zero payload crossing); decode back; oracle = SELECT."""
    import os
    import tempfile

    import pyarrow.parquet as pq2

    from orc_haskell_spark.orcfile.writer import write_orc

    _ensure_worker_imports(spark)
    d = tempfile.mkdtemp(prefix="ohs_orcenc_")
    t = pq2.read_table(f"{sf_dir}/orders.parquet")
    write_orc(t, os.path.join(d, "part-0.orc"), compression="ZSTD",
              stripe_rows=8192)
    enc = engine.encode_orc(spark, d, stripe_rows=_STRIPE_ROWS)
    schema = spark.read.parquet(f"{sf_dir}/orders.parquet").schema
    return engine.decode_table(enc, schema).select(*_TABLE_COLS["orders"])


def _fused_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused Python-side scan+encode (engine.encode_parquet): pyarrow
    reads the parquet row groups inside the encoding worker, so payload
    bytes never cross the JVM boundary — the crossing-free fast path.
    Decode back and return all rows; oracle = plain SELECT."""
    _ensure_worker_imports(spark)
    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    enc = engine.encode_parquet(spark, path, stripe_rows=_STRIPE_ROWS,
                                num_partitions=8)
    return engine.decode_table(enc, schema)


def _decoded_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = _roundtrip(spark, sf_dir, "lineitem")
    # sums rounded: Spark and DuckDB accumulate doubles in different
    # orders, so full-precision sums can differ in the last ulp
    return (dec.filter(F.col("l_quantity") > 10)
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 1).alias("sum_price"),
                 F.count("*").alias("cnt")))


def _decoded_window_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    dec = _roundtrip(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (dec.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey", "o_totalprice"))


def _manifest_rows_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "documents")
    enc = engine.encode_table(df, stripe_rows=_STRIPE_ROWS)
    return engine.manifest_df(enc).agg(
        F.sum("n_rows").alias("n_rows"),
        F.max("n_cols").cast("bigint").alias("n_cols"))


def _embeddings_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = _roundtrip(spark, sf_dir, "embeddings")
    return dec.select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        F.size("embedding").cast("bigint").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_elem"),
        F.element_at("embedding", -1).cast("double").alias("last_elem"))


def _pages_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # synthetic pages table (no parquet twin -> rows-only check)
    _ensure_worker_imports(spark)
    df = gen.pages_df(spark, 2000, num_partitions=4)
    enc = engine.encode_table(df, stripe_rows=500, partition_on="url",
                              num_partitions=4)
    dec = engine.decode_table(enc, df.schema)
    joined = (df.select("url", F.col("text").alias("t0"))
              .join(dec.select("url", F.col("text").alias("t1")), "url"))
    return (joined
            .agg(F.count("*").alias("rows"),
                 F.sum(F.when(F.col("t0") == F.col("t1"), 0).otherwise(1))
                 .alias("text_mismatches")))


def _mk_orcfile_roundtrip(table: str):
    """Distributed write to real .orc files (one per partition), then
    stripe-parallel distributed read — the whole-file interop surface
    (reference parity: /root/reference/src/Orc/Serial/Binary/Base.hs)."""
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from orc_haskell_spark.orcfile.spark_source import (
            read_orc_distributed, write_orc_distributed)

        df = _load(spark, sf_dir, table)
        d = tempfile.mkdtemp(prefix=f"orcfile_{table}_")
        write_orc_distributed(df.repartition(4), d, compression="ZLIB",
                              stripe_rows=_STRIPE_ROWS).collect()
        return read_orc_distributed(spark, d)
    return q


def _mk_orcfile_cpp_cross(table: str):
    """C++ ORC (pyarrow) writes the file; OUR reader decodes it
    distributed. Pins real-world ORC-file compatibility in the gate."""
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        import pyarrow.orc as po
        import pyarrow.parquet as pq

        from orc_haskell_spark.orcfile.spark_source import (
            read_orc_distributed)

        _ensure_worker_imports(spark)
        d = tempfile.mkdtemp(prefix=f"orccpp_{table}_")
        t = pq.read_table(f"{sf_dir}/{table}.parquet")
        po.write_table(t, f"{d}/data.orc", compression="zlib",
                       stripe_size=512 * 1024)
        return read_orc_distributed(spark, d)
    return q


def _orcfile_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-idiomatic surface: spark.read.format('orcfile') via the
    PySpark Python DataSource (stripe-granular planning; Catalyst pushes
    the range filter down and stripe stats prune the plan to the
    matching stripes; filters are re-applied exactly by Spark)."""
    import tempfile

    from orc_haskell_spark.orcfile.datasource import OrcFileDataSource
    from orc_haskell_spark.orcfile.writer import write_orc

    _ensure_worker_imports(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(OrcFileDataSource)
    except Exception:
        pass  # already registered in this session
    import os

    import pyarrow.parquet as pq2

    d = tempfile.mkdtemp(prefix="orcds_")
    t = pq2.read_table(f"{sf_dir}/lineitem.parquet").sort_by("l_orderkey")
    write_orc(t, os.path.join(d, "part-0.orc"), compression="ZSTD",
              stripe_rows=8192)
    df = spark.read.format("orcfile").load(d)
    return (df.filter(F.col("l_orderkey").between(100, 2000))
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("cnt"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.min("l_orderkey").alias("min_ok"),
                 F.max("l_orderkey").alias("max_ok")))


def _bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-level per-stripe bloom filters: encode documents with
    blooms on doc_id, eliminate stripes by a pure-Catalyst bit test on
    the footer JSON (engine.bloom_prune_stripes), decode only the
    surviving stripes, exact re-filter. Oracle = the plain point
    lookup."""
    df = _load(spark, sf_dir, "documents")
    enc = engine.encode_table(df.coalesce(2), stripe_rows=32,
                              config={"bloom_columns": ["doc_id"]})
    pruned = engine.bloom_prune_stripes(enc, "doc_id", 37)
    dec = engine.decode_table(pruned, df.schema)
    return dec.filter(F.col("doc_id") == 37)


def _zonemap_pruned_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-level zone maps: encode lineitem sorted by l_orderkey,
    skip stripes via the JSON-footer min/max (pure Catalyst filter, no
    decode), then byte-level projected decode of 3 of 11 columns."""
    df = _load(spark, sf_dir, "lineitem").orderBy("l_orderkey")
    enc = engine.encode_table(df.coalesce(2), stripe_rows=4096)
    pruned = engine.prune_stripes(enc, "l_orderkey", 500, 3000)
    dec = engine.decode_table(
        pruned, df.schema,
        columns=["l_orderkey", "l_quantity", "l_returnflag"])
    return (dec.filter(F.col("l_orderkey").between(500, 3000))
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("cnt"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.min("l_orderkey").alias("min_ok"),
                 F.max("l_orderkey").alias("max_ok")))


def _parquet_to_orc_roundtrip(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Fused parquet -> real ORC conversion (spark_source.parquet_to_orc:
    workers stream row groups through write_orc, zero payload JVM
    crossing), read back through the distributed ORC scan; oracle =
    plain SELECT."""
    import tempfile

    from orc_haskell_spark.orcfile.spark_source import (
        parquet_to_orc, read_orc_distributed)

    _ensure_worker_imports(spark)
    out = tempfile.mkdtemp(prefix="ohs_pq2orc_")
    parquet_to_orc(spark, f"{sf_dir}/orders.parquet", out,
                   num_partitions=4).collect()
    df = read_orc_distributed(spark, out)
    cols = _TABLE_COLS["orders"]
    return df.select(*cols)


def _orcfile_bloom_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter point lookup through the orcfile DataSource: one
    big stripe, blooms on an UNSORTED string column (min/max stats
    cannot prune), pushed EqualTo probes eliminate non-matching row
    groups; oracle = the same WHERE in SQL."""
    import os
    import tempfile

    import pyarrow.parquet as pq2

    from orc_haskell_spark.orcfile.datasource import OrcFileDataSource
    from orc_haskell_spark.orcfile.writer import write_orc

    _ensure_worker_imports(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(OrcFileDataSource)
    except Exception:
        pass
    d = tempfile.mkdtemp(prefix="orcbl_")
    t = pq2.read_table(f"{sf_dir}/orders.parquet")
    write_orc(t, os.path.join(d, "part-0.orc"), compression="ZSTD",
              stripe_rows=1 << 20,
              bloom_filter_columns=["o_orderpriority", "o_custkey"])
    df = spark.read.format("orcfile").load(d)
    return (df.filter(F.col("o_orderpriority") == "1-URGENT")
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("cnt"),
                 F.round(F.sum("o_totalprice"), 1).alias("sum_price"),
                 F.min("o_orderkey").alias("min_ok")))


def _orcfile_rowgroup_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group-granular reads through the orcfile DataSource: one big
    stripe, a selective range filter — ROW_INDEX positional seek decodes
    only the covering 10k-row groups (ORCFile.read_stripe_pruned), Spark
    re-applies the filter exactly; oracle = the same WHERE in SQL."""
    import os
    import tempfile

    import pyarrow.parquet as pq2

    from orc_haskell_spark.orcfile.datasource import OrcFileDataSource
    from orc_haskell_spark.orcfile.writer import write_orc

    _ensure_worker_imports(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(OrcFileDataSource)
    except Exception:
        pass
    d = tempfile.mkdtemp(prefix="orcrg_")
    t = pq2.read_table(f"{sf_dir}/lineitem.parquet").sort_by("l_orderkey")
    write_orc(t, os.path.join(d, "part-0.orc"), compression="ZSTD",
              stripe_rows=1 << 20)  # single stripe: pruning is per-group
    df = spark.read.format("orcfile").load(d)
    return (df.filter(F.col("l_orderkey").between(4000, 4400))
            .groupBy("l_linestatus")
            .agg(F.count("*").alias("cnt"),
                 F.round(F.sum("l_extendedprice"), 1).alias("sum_price"),
                 F.min("l_orderkey").alias("min_ok"),
                 F.max("l_orderkey").alias("max_ok")))


def _orcfile_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-pruned, column-projected distributed ORC scan: write
    lineitem sorted by l_orderkey (so stripe min/max are selective),
    read back only rows with l_orderkey in [100, 2000] touching only
    the stripes whose statistics admit the range, projecting 3 of 11
    columns at the byte level."""
    import tempfile

    from pyspark.sql import functions as F2

    from orc_haskell_spark.orcfile.spark_source import (
        read_orc_distributed, write_orc_distributed)

    df = _load(spark, sf_dir, "lineitem").orderBy("l_orderkey")
    d = tempfile.mkdtemp(prefix="orcprune_")
    write_orc_distributed(df.coalesce(1), d, compression="ZLIB",
                          stripe_rows=4096).collect()
    scan = read_orc_distributed(
        spark, d, columns=["l_orderkey", "l_quantity", "l_returnflag"],
        prune=("l_orderkey", 100, 2000))
    return (scan.filter(F2.col("l_orderkey").between(100, 2000))
            .groupBy("l_returnflag")
            .agg(F2.count("*").alias("cnt"),
                 F2.round(F2.sum("l_quantity"), 2).alias("sum_qty"),
                 F2.min("l_orderkey").alias("min_ok"),
                 F2.max("l_orderkey").alias("max_ok")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    # roundtrip_orders is not a gate query: its decimal/date/string
    # surface is the same codec set roundtrip_lineitem pins, and it
    # stays exactly oracle-checked in tests/test_entry_queries.py
    # (round 5, session 8) roundtrip_documents runs the sort_within
    # clustering layout + direct-fc trial (engine.py/stripe.py): the
    # oracle is SELECT * with an order-insensitive compare, so the
    # stripe-local permutation must be value-exact — this pins the
    # layout path through the driver gate. Default-config documents
    # encode stays pinned by the dict/fsst variants below and pytest.
    q["roundtrip_documents"] = _mk_roundtrip(
        "documents", {"sort_within": ["lang", "doc_id"]})
    for table in ["lineitem", "events"]:
        q[f"roundtrip_{table}"] = _mk_roundtrip(table)
    # (round 5) roundtrip_dims and roundtrip_direct_documents gave
    # their 50-cap slots to the WARC ingestion pair: both stay exactly
    # pinned by pytest (tests/test_entry_queries.py runs them against
    # the same DuckDB oracles at sf0.001), and their codec surface is
    # fully covered by the remaining roundtrips + the stripe-level
    # string-codec parametrization in tests/test_stripe.py.
    q["warc_ingest_pages"] = _warc_ingest_pages
    q["warc_extract_pages"] = _warc_extract_pages
    # pin each codec path explicitly (operator coverage, SURVEY.md §2.1)
    # (round 5, session 6) roundtrip_rle1_lineitem gave its 50-cap slot
    # to decontam_documents; stripes no longer write RLEv1, and reading
    # it stays pinned by the spec goldens, the C<->numpy roundtrip
    # properties and a hand-built stripe in tests/test_floats_bss.py
    q["decontam_documents"] = _decontam_documents
    q["roundtrip_fsst_documents"] = _mk_roundtrip(
        "documents", {"string_codec": "fsst"})
    q["roundtrip_dict_documents"] = _mk_roundtrip(
        "documents", {"string_codec": "dict"})
    # (round 5) roundtrip_nocomp_events swapped out for the Iceberg
    # maintenance query, roundtrip_zlib_orders for the webtext quality
    # filter, orcfile_roundtrip_documents for the repetition stats —
    # all three stay exactly pinned by tests/test_entry_queries.py
    # against the same DuckDB oracles
    q["quality_filter_documents"] = _quality_filter_documents
    q["text_repetition_documents"] = _text_repetition_documents
    q["iceberg_maintenance_documents"] = _iceberg_maintenance_scan
    q["orcfile_roundtrip_lineitem"] = _mk_orcfile_roundtrip("lineitem")
    q["orcfile_roundtrip_events"] = _mk_orcfile_roundtrip("events")
    q["sessionize_events"] = lambda s, d: sessions.sessionize(
        _load(s, d, "events"), "user_id", "ts", gap_minutes=30)
    q["zonemap_pruned_agg_lineitem"] = _zonemap_pruned_agg
    q["bloom_point_lookup_documents"] = _bloom_point_lookup
    q["orcfile_pruned_scan_lineitem"] = _orcfile_pruned_scan
    q["orcfile_datasource_lineitem"] = _orcfile_datasource_scan
    q["orcfile_rowgroup_scan_lineitem"] = _orcfile_rowgroup_scan
    q["orcfile_bloom_scan_orders"] = _orcfile_bloom_scan
    q["parquet_to_orc_orders"] = _parquet_to_orc_roundtrip
    q["orcfile_cpp_read_lineitem"] = _mk_orcfile_cpp_cross("lineitem")
    # (round 5, session 6) orcfile_cpp_read_documents gave its 50-cap
    # slot to pack_plan_documents (the C++-written string/dict ORC
    # cross-read stays pinned in tests/test_entry_queries.py against
    # this same oracle, plus the pytest interop matrix)
    q["pack_plan_documents"] = _pack_plan_documents
    q["decoded_agg_lineitem"] = _decoded_agg_lineitem
    q["decoded_window_orders"] = _decoded_window_orders
    q["manifest_rows_documents"] = _manifest_rows_documents
    q["roundtrip_embeddings"] = _embeddings_checked
    # pages_roundtrip (rows-only, path fully covered by bench +
    # fused_roundtrip oracles) gave its 50-cap slot to the ORACLE-
    # checked transform-partitioned iceberg scan
    q["iceberg_transform_events"] = _iceberg_transform_scan
    # fused_roundtrip_documents is not a gate query: the fused
    # encode/decode pair stays gate-covered by fused_sink_roundtrip +
    # fused_transcode (a strict superset of its path) and exactly
    # pinned in tests/test_entry_queries.py
    q["fused_sink_roundtrip_documents"] = _fused_sink_roundtrip_documents
    q["fused_transcode_documents"] = _fused_transcode_documents
    q["fused_orc_encode_orders"] = _fused_orc_encode_orders

    # ---- training-data pipeline operators (dedup / text / streaming)
    q["dedup_exact_documents"] = lambda s, d: dedup.exact_dedup(
        _load(s, d, "documents"), ["text"], "doc_id")
    q["dedup_jaccard_documents"] = lambda s, d: dedup.ngram_jaccard_pairs(
        _load(s, d, "documents"), "doc_id", "text", threshold=0.8)
    # cluster assignment = transitive closure over the pair graph
    # (distributed min-label propagation); oracle = recursive CTE
    q["dedup_clusters_documents"] = lambda s, d: dedup.dedup_clusters(
        _load(s, d, "documents"),
        dedup.ngram_jaccard_pairs(_load(s, d, "documents"), "doc_id",
                                  "text", threshold=0.8),
        "doc_id")
    q["dedup_minhash_documents"] = lambda s, d: dedup.minhash_lsh_pairs(
        _load(s, d, "documents"), "doc_id", "text", threshold=0.8)
    q["dedup_simhash_documents"] = lambda s, d: dedup.simhash_pairs(
        _load(s, d, "documents"), "doc_id", "text",
        max_hamming=10, verify_jaccard=0.5)
    q["dedup_embedding_documents"] = lambda s, d: dedup.embedding_neardup_pairs(
        _load(s, d, "embeddings"), "vec_id", "embedding", threshold=0.3)
    # all five text analyses fused into one single-scan projection (was
    # five separate queries; the r3 driver gate capped at 50 and dropped
    # the tail — one query keeps every column oracle-checked)
    q["text_profile_documents"] = lambda s, d: text.profile(
        _load(s, d, "documents"), "doc_id", "text")
    q["salted_lang_stats"] = _salted_lang_stats
    q["stream_windowed_events"] = _stream_windowed_events
    q["iceberg_scan_documents"] = _iceberg_scan_documents
    return q


# ---- WARC ingestion fixture (Common-Crawl front end) ----------------------
# Pages are derived row-for-row from the `documents` table with
# SQL-expressible constructors, so the DuckDB oracle recomputes the
# expected ingest EXACTLY from the registered view — same pattern as the
# Iceberg fixtures. The html wrap is link-dense nav/footer chrome around
# a <main> holding the escaped document text: main-content extraction
# must return `text` byte-identically (the north rule's invariant).

_WARC_T0_US = 1704067200_000_000  # 2024-01-01T00:00:00Z
_WARC_NAV = ('<div class="nav"><a href="/">home</a>'
             '<a href="/about">about us</a>'
             '<a href="/contact">contact</a></div>')
_WARC_FOOT = '<footer><a href="/terms">terms</a> all rights reserved</footer>'
# DuckDB twin of _warc_page_html (order of replaces matters: & first)
_WARC_HTML_SQL = (
    "'<html><head><title>doc ' || CAST(doc_id AS VARCHAR) || "
    "'</title></head><body>' || "
    f"repeat('{_WARC_NAV}', CAST(1 + doc_id % 3 AS INT)) || "
    "'<main>' || replace(replace(replace(text, '&', '&amp;'), "
    "'<', '&lt;'), '>', '&gt;') || '</main>' || "
    f"'{_WARC_FOOT}' || '</body></html>'")
_WARC_URL_SQL = ("'https://crawl.example/' || source || '/' || "
                 "CAST(doc_id AS VARCHAR)")
_WARC_TS_SQL = ("TIMESTAMP '2024-01-01 00:00:00' + "
                "doc_id * INTERVAL 1 SECOND")


def _warc_page_html(doc_id: int, text_val: str) -> str:
    return ("<html><head><title>doc " + str(doc_id)
            + "</title></head><body>" + _WARC_NAV * (1 + doc_id % 3)
            + "<main>" + extract.escape_html_text(text_val) + "</main>"
            + _WARC_FOOT + "</body></html>")


def _warc_fixture_dir(sf_dir: str) -> str:
    """Idempotently materialize the documents table as 4 Common-Crawl
    layout .warc.gz files (one gzip member per record, warcinfo +
    response records), rows striped by doc_id % 4."""
    import shutil

    import pyarrow.parquet as pq

    from orc_haskell_spark.pipeline import extract as extract_mod

    root = _fixture_root(
        "ohs_warc_", sf_dir, _warc_fixture_dir,
        extra_mods=(warc, extract_mod, _warc_page_html),
        extra_key=f"{_WARC_T0_US}|{_WARC_NAV}|{_WARC_FOOT}")
    ready = os.path.join(root, "_READY")
    if os.path.exists(ready):
        return root
    if os.path.exists(root):
        shutil.rmtree(root)
    os.makedirs(root)
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["doc_id", "text", "source"])
    rows = sorted(zip(t.column("doc_id").to_pylist(),
                      t.column("text").to_pylist(),
                      t.column("source").to_pylist()))
    for k in range(4):
        part = [(f"https://crawl.example/{src}/{d}",
                 _WARC_T0_US + d * 1_000_000,
                 _warc_page_html(d, txt).encode())
                for d, txt, src in rows if d % 4 == k]
        warc.write_warc_file(os.path.join(root, f"part-{k:02d}.warc.gz"),
                             part)
    with open(ready, "w") as f:
        f.write("ok")
    return root


def _warc_ingest_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed WARC scan of the fixture: record framing, gzip
    members, HTTP parse, and WARC-Date micros all pinned value-exact
    against the oracle's SQL reconstruction of every page."""
    _ensure_worker_imports(spark)
    root = _warc_fixture_dir(sf_dir)
    df = warc.read_warc(spark, root, num_partitions=4)
    return df.select(
        "url", "warc_ts",
        F.md5(F.col("html")).alias("html_md5"),
        F.length("html").cast("long").alias("html_len"),
        "status")


def _warc_extract_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest + main-content extraction: the north rule's
    byte-identity invariant as an oracle row — extracted text must
    equal the source `text` column exactly (the oracle does NOT
    re-run extraction; it selects the source column)."""
    _ensure_worker_imports(spark)
    root = _warc_fixture_dir(sf_dir)
    # fused ingest: extraction inside the scan worker (one crossing)
    df = warc.read_warc(spark, root, num_partitions=4, extract="main")
    return df.select("url", "text")


def _stream_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed aggregation with watermark, drained via
    availableNow over the events table as a file stream; results land in
    an in-memory sink and are returned as a DataFrame."""
    import uuid

    from orc_haskell_spark import streaming as streaming_mod

    ev = _load(spark, sf_dir, "events")
    name = f"winev_{uuid.uuid4().hex[:8]}"
    stream = (spark.readStream.schema(ev.schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir)  # file source wants a directory
              .withColumn("ts", F.col("ts").cast("timestamp")))
    q = (streaming_mod.windowed_event_counts(stream, "ts", "event_type",
                                             "1 hour", "2 hours")
         .drop("approx_users")  # HLL has no exact SQL twin
         .writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


def _salted_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation on the hot `lang` key — the north
    rule's salted-repartition path; must be semantically invisible."""
    docs = _load(spark, sf_dir, "documents")
    return engine.salted_agg(
        docs, "lang",
        {"docs": ("count", "doc_id"), "chars": ("sum", "n_chars"),
         "min_doc": ("min", "doc_id"), "max_doc": ("max", "doc_id")},
        buckets=16)


def _text_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition statistics (top-2-gram and duplicate-3-gram
    character fractions) over documents: the scalable explode →
    (id, n, gram)-keyed groupBy shape in pipeline/filters."""
    return filters.ngram_repetition(
        _load(spark, sf_dir, "documents"), "doc_id", "text")


def _quality_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-shape stats + keep flag on the raw text, plus
    PII redaction verified by digest: the corpus contains no PII, so
    the query injects email/phone/IP/SSN spans derived from doc_id
    (SQL-reconstructible) and redacts them — the oracle recomputes the
    augmented text and the redaction chain exactly."""
    df = _load(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-0"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit(" ip 10.0.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(" ssn 123-45-6789 end"))
    return df.withColumn("_aug", aug).select(
        "doc_id", *filters.gopher_cols("text"),
        F.md5(filters.redact_cols("_aug")).alias("redacted_md5"))


def _decontam_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over documents: the eval set is every
    50th document (SQL-reconstructible), n=8 word-grams so the seeded
    docs self-hit and true near-dups surface; eval grams broadcast,
    corpus grams never shuffle (pipeline/decontam.py)."""
    docs = _load(spark, sf_dir, "documents")
    bench = docs.filter("doc_id % 50 = 0") \
        .select(F.col("doc_id").alias("bid"), "text")
    return decontam.contamination(docs, "doc_id", "text", bench, n=8)


def _pack_plan_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing layout over documents sharded by source: the
    (doc x sequence) rows of a 64-token concat-and-split
    (pipeline/packing.py) — shard-keyed window cumsum, no global sort."""
    return packing.pack_plan(_load(spark, sf_dir, "documents"),
                             "doc_id", "text", 64, shard_col="source")


def _fixture_root(prefix: str, sf_dir: str, builder, extra_mods=(),
                  extra_key: str = "") -> str:
    """Cache dir keyed on (sf_dir, builder source, helper-module
    sources). Hashing the builder's own source invalidates on any
    fixture-shape change; hashing the helper modules the builder calls
    (default iceberg.py/avro.py; ``extra_mods`` for others) invalidates
    when HELPER behavior (compact, delete_where, manifest encoding,
    WARC framing) changes — otherwise a fixed helper bug would keep
    serving a fixture built by the buggy version."""
    import hashlib
    import inspect
    import tempfile

    from orc_haskell_spark import avro, iceberg

    h = hashlib.md5(sf_dir.encode())
    for obj in (builder, iceberg, avro, *extra_mods):
        try:
            h.update(inspect.getsource(obj).encode())
        except OSError:  # source unavailable (zipped install)
            pass
    # extra_key: constants OUTSIDE the hashed sources that shape the
    # fixture bytes (e.g. the WARC page template strings — their SQL
    # twin updates at import, so a stale fixture would mismatch)
    h.update(extra_key.encode())
    key = h.hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"{prefix}{key}")


def _iceberg_table_dir(sf_dir: str) -> str:
    """Idempotently materialize `documents` as a REAL Iceberg v2 table
    (our pure-Python writer: metadata json + Avro manifests), one data
    file per lang partition, TWO snapshots split lexicographically at
    'm' — snapshot 1 = langs < 'm', snapshot 2 appends the rest. The
    static split keeps the time-travel oracle expressible in plain SQL.
    """
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from orc_haskell_spark import iceberg

    root = _fixture_root("ohs_iceberg2_", sf_dir, _iceberg_table_dir)
    ready = os.path.join(root, "_READY")
    if os.path.exists(ready):
        return root
    if os.path.exists(root):
        shutil.rmtree(root)
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    iceberg.create_table(root, t.schema, partition_by=["lang"])
    langs = sorted(set(t.column("lang").to_pylist()))
    by_half = ([l for l in langs if l < "m"], [l for l in langs if l >= "m"])
    for half in by_half:
        paths, parts = [], []
        for lang in half:
            sub = t.filter(pc.equal(t.column("lang"), lang))
            p = os.path.join(root, "data", f"{lang}.parquet")
            pq.write_table(sub, p)
            paths.append(p)
            parts.append({"lang": lang})
        if paths:
            iceberg.append_files(root, paths, parts)
    # snapshot 3: v2 EQUALITY DELETE of every doc_id divisible by 13 —
    # a static rule, so the oracle is plain SQL (doc_id % 13 <> 0); the
    # v1 time-travel read predates it and keeps those rows
    doomed = [d for d in t.column("doc_id").to_pylist() if d % 13 == 0]
    if doomed:
        iceberg.delete_where(root, [{"doc_id": d} for d in doomed])
    with open(ready, "w") as f:
        f.write("ok")
    return root


def _iceberg_scan_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg table scans through OUR metadata layer (no catalog jar):
    snapshot 1 via time travel + the CURRENT snapshot, each aggregated
    per lang with an md5 row digest. File selection comes from Avro
    manifests with partition pruning; the v2 side also exercises a
    bounds predicate (n_chars >= 1, re-applied as the residual filter)
    AND v2 row-level deletes — the current snapshot carries an equality
    delete of every doc_id % 13 == 0 row (applied via the sequence-rule
    anti-join), while the v1 time-travel read predates it and keeps
    those rows."""
    from orc_haskell_spark import iceberg

    root = _iceberg_table_dir(sf_dir)
    meta = iceberg.table_metadata(root)
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
    outs = []
    for tag, kw in (("v1", {"snapshot_id": snaps[0]["snapshot-id"]}),
                    ("v2", {"where": [("n_chars", ">=", 1)]})):
        df = iceberg.read_iceberg(spark, root, **kw)
        if "where" in kw:
            df = df.filter(F.col("n_chars") >= 1)
        outs.append(df.groupBy("lang").agg(
            F.count("*").alias("n_rows"),
            F.sum("n_chars").alias("chars"),
            F.sum(F.conv(F.substring(F.md5(F.concat_ws(
                "|", "doc_id", "lang", "source", "n_chars")), 1, 12),
                16, 10).cast("long")).cast("long").alias("sdig"))
            .select(F.lit(tag).alias("snap"), "lang", "n_rows",
                    "chars", "sdig"))
    return outs[0].unionAll(outs[1])


_ICEBERG_ORACLE_SQL = (
    "SELECT 'v1' AS snap, lang, count(*) AS n_rows, "
    "CAST(sum(n_chars) AS BIGINT) AS chars, "
    "CAST(sum(CAST(('0x'||substr(md5(concat_ws('|', doc_id, lang, "
    "source, n_chars)),1,12)) AS BIGINT)) AS BIGINT) AS sdig "
    "FROM documents WHERE lang < 'm' GROUP BY lang "
    "UNION ALL "
    "SELECT 'v2' AS snap, lang, count(*) AS n_rows, "
    "CAST(sum(n_chars) AS BIGINT) AS chars, "
    "CAST(sum(CAST(('0x'||substr(md5(concat_ws('|', doc_id, lang, "
    "source, n_chars)),1,12)) AS BIGINT)) AS BIGINT) AS sdig "
    "FROM documents WHERE n_chars >= 1 AND doc_id % 13 <> 0 "
    "GROUP BY lang")


def _iceberg_maint_dir(sf_dir: str, spark: SparkSession) -> str:
    """Idempotently materialize a MAINTAINED Iceberg table: documents
    partitioned by lang, then a position-delete snapshot (every
    doc_id % 7 == 3 row, addressed by file+position), an
    equality-delete snapshot (doc_id % 11 == 0), compact() folding
    both tombstone shapes into a replace snapshot, and
    expire_snapshots(keep_last=1) deleting every file only the
    pre-compaction snapshots referenced. What remains must read as
    plain SQL over documents with both delete rules applied."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from orc_haskell_spark import iceberg

    root = _fixture_root("ohs_icemaint_", sf_dir, _iceberg_maint_dir)
    ready = os.path.join(root, "_READY")
    if os.path.exists(ready):
        return root
    if os.path.exists(root):
        shutil.rmtree(root)
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    iceberg.create_table(root, t.schema, partition_by=["lang"])
    paths, parts, pos_dels = [], [], []
    for lang in sorted(set(t.column("lang").to_pylist())):
        sub = t.filter(pc.equal(t.column("lang"), lang))
        p = os.path.join(root, "data", f"{lang}.parquet")
        pq.write_table(sub, p)
        paths.append(p)
        parts.append({"lang": lang})
        for pos, d in enumerate(sub.column("doc_id").to_pylist()):
            if d % 7 == 3:
                pos_dels.append((p, pos))
    iceberg.append_files(root, paths, parts)
    iceberg.delete_rows(root, pos_dels)
    doomed = sorted({d for d in t.column("doc_id").to_pylist()
                     if d % 11 == 0})
    iceberg.delete_where(root, [{"doc_id": d} for d in doomed])
    iceberg.compact(spark, root)
    iceberg.expire_snapshots(root, keep_last=1)
    with open(ready, "w") as f:
        f.write("ok")
    return root


def _iceberg_maintenance_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the compacted+expired table: per-lang counts and digests
    must equal plain SQL with both delete rules applied — pinning that
    compaction applied every tombstone exactly once, restored the
    partition values, and expiration deleted only dead files. The
    constant `snaps` column surfaces the retention invariant."""
    from orc_haskell_spark import iceberg

    root = _iceberg_maint_dir(sf_dir, spark)
    n_snaps = len(iceberg.table_metadata(root)["snapshots"])
    df = iceberg.read_iceberg(spark, root)
    return (df.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.conv(F.substring(F.md5(F.concat_ws(
            "|", "doc_id", "lang", "source", "n_chars")), 1, 12),
            16, 10).cast("long")).cast("long").alias("sdig"))
        .select("lang", "n_rows", "chars", "sdig",
                F.lit(n_snaps).cast("int").alias("snaps")))


_ICEBERG_MAINT_ORACLE_SQL = (
    "SELECT lang, count(*) AS n_rows, "
    "CAST(sum(n_chars) AS BIGINT) AS chars, "
    "CAST(sum(CAST(('0x'||substr(md5(concat_ws('|', doc_id, lang, "
    "source, n_chars)),1,12)) AS BIGINT)) AS BIGINT) AS sdig, "
    "CAST(1 AS INT) AS snaps "
    "FROM documents WHERE doc_id % 7 <> 3 AND doc_id % 11 <> 0 "
    "GROUP BY lang")


def _iceberg_events_dir(sf_dir: str) -> str:
    """Idempotently materialize `events` as an Iceberg table with
    TRANSFORM partitioning — day(ts) x bucket[8](user_id), the layout a
    web-crawl events table actually uses — one data file per live
    (day, bucket) combination, partition values computed with the
    spec's own transforms (iceberg.apply_transform/bucket_value)."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from orc_haskell_spark import iceberg

    root = _fixture_root("ohs_iceevents_", sf_dir, _iceberg_events_dir)
    ready = os.path.join(root, "_READY")
    if os.path.exists(ready):
        return root
    if os.path.exists(root):
        shutil.rmtree(root)
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    micros = t.column("ts").cast(pa.timestamp("us")).cast(pa.int64()) \
        .to_numpy()
    days = micros // 86_400_000_000
    users = t.column("user_id").to_numpy()
    buckets = iceberg.bucket_values_int(users, 8)  # vectorized murmur
    combo = days * 8 + buckets
    order = np.argsort(combo, kind="stable")
    sorted_combo = combo[order]
    cuts = np.flatnonzero(np.diff(sorted_combo)) + 1
    starts = np.concatenate(([0], cuts))
    ends = np.concatenate((cuts, [len(order)]))
    iceberg.create_table(
        root, t.schema,
        partition_by=[{"source": "ts", "transform": "day"},
                      {"source": "user_id", "transform": "bucket[8]"}])
    paths, parts = [], []
    for s, e in zip(starts.tolist(), ends.tolist()):
        idx = order[s:e]
        day, b = int(days[idx[0]]), int(buckets[idx[0]])
        p = os.path.join(root, "data", f"d{day}-b{b}.parquet")
        pq.write_table(t.take(pa.array(idx)), p)
        paths.append(p)
        parts.append({"ts_day": day, "user_id_bucket": b})
    iceberg.append_files(root, paths, parts)
    with open(ready, "w") as f:
        f.write("ok")
    return root


_ICE_TS_CUT = "2024-01-10 00:00:00"
_ICE_CUT_US = 19732 * 86_400_000_000      # 2024-01-10 epoch micros
_ICE_USER = 77


def _iceberg_transform_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transform-partitioned Iceberg scans: branch 'days' prunes the
    day(ts) partitions with a range predicate (order-preserving
    transform), branch 'user' prunes the bucket[8](user_id) partitions
    with an equality (spec murmur3 hash); residual filters re-applied,
    results aggregated per calendar day with exact digests."""
    from orc_haskell_spark import iceberg

    root = _iceberg_events_dir(sf_dir)
    digs = F.sum(F.conv(F.substring(F.md5(F.concat_ws(
        "|", "event_id", "user_id", "event_type")), 1, 12),
        16, 10).cast("long")).cast("long")
    cents = F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
    a = (iceberg.read_iceberg(spark, root,
                              where=[("ts", ">=", _ICE_CUT_US)])
         .filter(F.col("ts") >= F.lit(_ICE_TS_CUT).cast("timestamp_ntz"))
         .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
         .agg(F.count("*").alias("n"), cents.alias("cents"),
              digs.alias("sdig"))
         .select(F.lit("days").alias("part"), "day", "n", "cents",
                 "sdig"))
    b = (iceberg.read_iceberg(spark, root,
                              where=[("user_id", "=", _ICE_USER)])
         .filter(F.col("user_id") == _ICE_USER)
         .agg(F.count("*").alias("n"), cents.alias("cents"),
              digs.alias("sdig"))
         .select(F.lit("user").alias("part"), F.lit("all").alias("day"),
                 "n", "cents", "sdig"))
    return a.unionAll(b)


_ICE_TRANSFORM_ORACLE_SQL = (
    "SELECT 'days' AS part, strftime(ts, '%Y-%m-%d') AS day, "
    "count(*) AS n, "
    "CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS cents, "
    "CAST(sum(CAST(('0x'||substr(md5(concat_ws('|', event_id, user_id, "
    "event_type)),1,12)) AS BIGINT)) AS BIGINT) AS sdig "
    f"FROM events WHERE ts >= TIMESTAMP '{_ICE_TS_CUT}' GROUP BY 2 "
    "UNION ALL "
    "SELECT 'user' AS part, 'all' AS day, count(*) AS n, "
    "CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS cents, "
    "CAST(sum(CAST(('0x'||substr(md5(concat_ws('|', event_id, user_id, "
    "event_type)),1,12)) AS BIGINT)) AS BIGINT) AS sdig "
    f"FROM events WHERE user_id = {_ICE_USER}")


def _select_sql(table: str) -> str:
    cols = _TABLE_COLS.get(table)
    return f"SELECT {', '.join(cols) if cols else '*'} FROM {table}"


def _simhash_oracle_sql(bits: int = 60, max_hamming: int = 10,
                        verify_jaccard: float = 0.5) -> str:
    """SQL twin of dedup.simhash_pairs: the md5-derived 60-bit SimHash
    is reproduced bit-for-bit, pairs are ALL-pairs filtered on
    hamming <= max_hamming and exact token Jaccard >= verify_jaccard.
    Value-exact vs the Spark LSH path because the banded join's recall
    is exactly 1 by pigeonhole (n_bands > max_hamming)."""
    bsum = ", ".join(
        f"sum(case when (h >> {k}) & 1 = 1 then 1 else -1 end) AS b{k}"
        for k in range(bits))
    sh = " + ".join(
        f"(case when b{k} > 0 then (CAST(1 AS BIGINT) << {k}) "
        f"else 0 end)" for k in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS token
  FROM documents
), toksf AS (SELECT * FROM toks WHERE length(token) > 0),
hashed AS (
  SELECT doc_id,
    CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) AS h
  FROM toksf),
sums AS (SELECT doc_id, {bsum} FROM hashed GROUP BY doc_id),
sh AS (SELECT doc_id, {sh} AS simhash FROM sums),
sets AS (
  SELECT doc_id,
    list_distinct(string_split_regex(text, '\\s+')) AS tk
  FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  bit_count(xor(a.simhash, b.simhash)) AS hamming,
  round(len(list_intersect(sa.tk, sb.tk)) * 1.0 /
    (len(sa.tk) + len(sb.tk) - len(list_intersect(sa.tk, sb.tk))), 6) AS jacc
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
JOIN sets sa ON sa.doc_id = a.doc_id
JOIN sets sb ON sb.doc_id = b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
  AND len(list_intersect(sa.tk, sb.tk)) * 1.0 /
    (len(sa.tk) + len(sb.tk) - len(list_intersect(sa.tk, sb.tk)))
    >= {verify_jaccard}"""


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    for table in ["documents", "lineitem", "events"]:
        o[f"roundtrip_{table}"] = _select_sql(table)
    # WARC pair: the oracle reconstructs every page from the documents
    # view with the same SQL-expressible constructors the fixture used;
    # warc_extract's oracle selects the SOURCE text (it does not re-run
    # extraction) — the byte-identity invariant itself is the check
    o["warc_ingest_pages"] = (
        f"SELECT {_WARC_URL_SQL} AS url, {_WARC_TS_SQL} AS warc_ts, "
        f"md5({_WARC_HTML_SQL}) AS html_md5, "
        f"strlen({_WARC_HTML_SQL}) AS html_len, "
        f"200 AS status FROM documents")
    o["warc_extract_pages"] = (
        f"SELECT {_WARC_URL_SQL} AS url, text FROM documents")
    o["decontam_documents"] = _DECONTAM_ORACLE_SQL
    o["pack_plan_documents"] = _PACK_PLAN_ORACLE_SQL
    o["roundtrip_fsst_documents"] = _select_sql("documents")
    o["roundtrip_dict_documents"] = _select_sql("documents")
    o["fused_sink_roundtrip_documents"] = _select_sql("documents")
    o["fused_transcode_documents"] = _select_sql("documents")
    o["fused_orc_encode_orders"] = _select_sql("orders")
    o["iceberg_maintenance_documents"] = _ICEBERG_MAINT_ORACLE_SQL
    o["quality_filter_documents"] = _quality_filter_oracle_sql()
    o["text_repetition_documents"] = _TEXT_REPETITION_ORACLE_SQL
    o["orcfile_roundtrip_lineitem"] = _select_sql("lineitem")
    o["orcfile_roundtrip_events"] = _select_sql("events")
    o["sessionize_events"] = r"""
WITH marked AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
         > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT user_id, ts,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
  count(*) AS n_events
FROM sess GROUP BY user_id, sid"""
    o["bloom_point_lookup_documents"] = \
        _select_sql("documents") + " WHERE doc_id = 37"
    o["zonemap_pruned_agg_lineitem"] = (
        "SELECT l_returnflag, count(*) AS cnt, "
        "round(sum(l_quantity), 2) AS sum_qty, "
        "min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok "
        "FROM lineitem WHERE l_orderkey BETWEEN 500 AND 3000 "
        "GROUP BY l_returnflag")
    o["orcfile_pruned_scan_lineitem"] = (
        "SELECT l_returnflag, count(*) AS cnt, "
        "round(sum(l_quantity), 2) AS sum_qty, "
        "min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok "
        "FROM lineitem WHERE l_orderkey BETWEEN 100 AND 2000 "
        "GROUP BY l_returnflag")
    o["parquet_to_orc_orders"] = _select_sql("orders")
    o["orcfile_bloom_scan_orders"] = (
        "SELECT o_orderstatus, COUNT(*) AS cnt, "
        "ROUND(SUM(o_totalprice), 1) AS sum_price, "
        "MIN(o_orderkey) AS min_ok FROM orders "
        "WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderstatus")
    o["orcfile_rowgroup_scan_lineitem"] = (
        "SELECT l_linestatus, COUNT(*) AS cnt, "
        "ROUND(SUM(l_extendedprice), 1) AS sum_price, "
        "MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok "
        "FROM lineitem WHERE l_orderkey BETWEEN 4000 AND 4400 "
        "GROUP BY l_linestatus")
    o["orcfile_datasource_lineitem"] = (
        "SELECT l_returnflag, count(*) AS cnt, "
        "round(sum(l_quantity), 2) AS sum_qty, "
        "min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok "
        "FROM lineitem WHERE l_orderkey BETWEEN 100 AND 2000 "
        "GROUP BY l_returnflag")
    o["orcfile_cpp_read_lineitem"] = _select_sql("lineitem")
    o["decoded_agg_lineitem"] = (
        "SELECT l_returnflag, l_linestatus, "
        "round(sum(l_quantity), 2) AS sum_qty, "
        "round(sum(l_extendedprice), 1) AS sum_price, count(*) AS cnt "
        "FROM lineitem WHERE l_quantity > 10 "
        "GROUP BY l_returnflag, l_linestatus")
    o["decoded_window_orders"] = (
        "SELECT o_custkey, o_orderkey, o_totalprice FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, "
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn "
        "FROM orders) WHERE rn = 1")
    o["manifest_rows_documents"] = (
        "SELECT count(*) AS n_rows, CAST(5 AS BIGINT) AS n_cols FROM documents")
    o["roundtrip_embeddings"] = (
        "SELECT vec_id, CAST(label AS BIGINT) AS label, "
        "CAST(len(embedding) AS BIGINT) AS dim, "
        "CAST(embedding[1] AS DOUBLE) AS first_elem, "
        "CAST(embedding[-1] AS DOUBLE) AS last_elem FROM embeddings")
    # ---- pipeline operator oracles (engine-independent: md5 / regex /
    # list math reproduce Spark's values exactly in DuckDB)
    o["dedup_exact_documents"] = (
        "SELECT text, CAST(min(doc_id) AS BIGINT) AS keeper, "
        "count(*) AS copies FROM documents GROUP BY text")
    o["dedup_jaccard_documents"] = r"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\s+'))) AS token
  FROM documents
), toksf AS (SELECT * FROM toks WHERE length(token) > 0),
dfreq AS (SELECT token, count(*) AS df_tok FROM toksf GROUP BY token),
rare AS (
  SELECT t.doc_id, t.token FROM toksf t JOIN dfreq USING (token)
  WHERE df_tok <= 1000),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM rare a JOIN rare b USING (token) WHERE a.doc_id < b.doc_id),
sets AS (
  SELECT doc_id,
    list_filter(list_distinct(string_split_regex(text, '\s+')),
                t -> length(t) > 0) AS tk
  FROM documents)
SELECT id_a, id_b,
  round(len(list_intersect(sa.tk, sb.tk)) * 1.0 /
    (len(sa.tk) + len(sb.tk) - len(list_intersect(sa.tk, sb.tk))), 6) AS jacc
FROM cand
JOIN sets sa ON sa.doc_id = id_a
JOIN sets sb ON sb.doc_id = id_b
WHERE len(list_intersect(sa.tk, sb.tk)) * 1.0 /
    (len(sa.tk) + len(sb.tk) - len(list_intersect(sa.tk, sb.tk))) >= 0.8"""
    # transitive closure of the jaccard pair graph: recursive CTE
    # (edges symmetric; min reachable id == the component minimum the
    # Spark label propagation converges to)
    o["dedup_clusters_documents"] = f"""
WITH RECURSIVE pairs AS ({o["dedup_jaccard_documents"]}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src"""
    o["dedup_simhash_documents"] = _simhash_oracle_sql()
    o["dedup_minhash_documents"] = r"""
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
    range(0, greatest(len(string_split_regex(text, '\s+')) - 3, 0) + 1),
    i -> array_to_string(list_slice(string_split_regex(text, '\s+'), i + 1, i + 3), ' ')
  )) AS shingles FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
    (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6) AS jacc
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
    (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8"""
    o["dedup_embedding_documents"] = (
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
        "CAST(b.embedding AS DOUBLE[])), 5) AS cos "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        "WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
        "CAST(b.embedding AS DOUBLE[])) >= 0.3")
    o["text_profile_documents"] = _text_profile_oracle_sql()
    o["salted_lang_stats"] = (
        "SELECT lang, count(doc_id) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars, "
        "min(doc_id) AS min_doc, max(doc_id) AS max_doc "
        "FROM documents GROUP BY lang")
    o["stream_windowed_events"] = (
        "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, "
        "event_type, count(*) AS events FROM events GROUP BY 1, 2")
    o["iceberg_transform_events"] = _ICE_TRANSFORM_ORACLE_SQL
    # iceberg: snapshot 1 holds exactly the lang < 'm' partitions (the
    # fixture's static split), so time travel is plain-SQL expressible
    o["iceberg_scan_documents"] = _ICEBERG_ORACLE_SQL
    return o


def _langid_oracle_sql() -> str:
    """DuckDB twin of text.language_id: per-lang stopword votes, argmax
    with strict-greater updates scanning langs alphabetically."""
    from orc_haskell_spark.pipeline.text import STOPWORDS

    def score(lang):
        parts = [
            f"(length(text) - length(regexp_replace(text, '\\b{w}\\b', '', 'g'))) / {len(w)}.0"
            for w in STOPWORDS[lang]
        ]
        return "(" + " + ".join(parts) + ")"

    s = {lang: score(lang) for lang in STOPWORDS}
    langs = sorted(STOPWORDS)  # de, en, es, fr — same scan order as Spark
    # replicate the sequential strict-greater argmax
    best_expr = "'und'"
    best_score = "0.0"
    for lang in langs:
        best_expr = f"CASE WHEN {s[lang]} > {best_score} THEN '{lang}' ELSE {best_expr} END"
        best_score = f"CASE WHEN {s[lang]} > {best_score} THEN {s[lang]} ELSE {best_score} END"
    return (f"SELECT doc_id, {best_expr} AS pred_lang, "
            f"CAST(floor({best_score}) AS BIGINT) AS votes FROM documents")


def _text_profile_oracle_sql() -> str:
    """DuckDB twin of text.profile: all five analyses' expressions in
    one SELECT, column names and order matching the Spark projection."""
    langid = _langid_oracle_sql()
    # reuse the argmax expressions: strip 'SELECT doc_id, ' / ' FROM …'
    lang_cols = langid[len("SELECT doc_id, "):-len(" FROM documents")]
    return r"""
SELECT doc_id,
  CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens,
  CAST(length(text) AS INT) AS n_chars,
  round(length(text) * 1.0 / len(string_split_regex(text, '\s+')), 4) AS mean_tok_len,
  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT) AS n_word_tokens,
  CAST(floor(length(text) / 4) AS BIGINT) AS est_subwords,
  round((length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g'))) * 1.0 / length(text), 5) AS punct_ratio,
  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text), 5) AS digit_ratio,
  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) * 1.0 / length(text), 5) AS upper_ratio,
  round((
    (length(text) - length(regexp_replace(text, '\bthe\b', '', 'g'))) / 3.0
  + (length(text) - length(regexp_replace(text, '\band\b', '', 'g'))) / 3.0
  + (length(text) - length(regexp_replace(text, '\bof\b', '', 'g'))) / 2.0
  + (length(text) - length(regexp_replace(text, '\bto\b', '', 'g'))) / 2.0
  + (length(text) - length(regexp_replace(text, '\bin\b', '', 'g'))) / 2.0
  ) / len(string_split_regex(text, '\s+')), 5) AS stopword_ratio,
  round(least(length(text) / 500.0, 1.0) *
    (1 - (length(text) - length(regexp_replace(text, '[.,;:!?''"()]', '', 'g'))) * 1.0 / length(text)), 5) AS quality,
  """ + lang_cols + r""",
  md5(text) AS md5,
  list_min(list_transform(
    range(0, greatest(length(text) - 16, 0) + 1),
    i -> md5(substr(text, CAST(i + 1 AS INT), 16)))) AS min_shingle,
  CAST(greatest(length(text) - 16, 0) + 1 AS INT) AS n_shingles
FROM documents"""


# DuckDB twin of filters.ngram_repetition(documents, 'doc_id', 'text',
# top_n=2, dup_n=3): same plain-space split, same (doc, n, gram)
# grouping, same (cnt DESC, gram DESC) tie-break, same left join so
# gram-less docs still emit a row.
_TEXT_REPETITION_ORACLE_SQL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w, length(text) AS n_chars
  FROM documents),
g AS (
  SELECT doc_id, n_chars, 2 AS n,
         unnest(list_transform(range(len(w) - 1),
                i -> w[i + 1] || ' ' || w[i + 2])) AS gram
  FROM w
  UNION ALL
  SELECT doc_id, n_chars, 3 AS n,
         unnest(list_transform(range(len(w) - 2),
                i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3])) AS gram
  FROM w),
c AS (
  SELECT doc_id, n, gram, count(*) AS cnt, any_value(n_chars) AS n_chars
  FROM g GROUP BY doc_id, n, gram),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, n
                               ORDER BY cnt DESC, gram DESC) AS rn
  FROM c),
p AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 AND rn = 1 THEN gram END) AS top_gram,
         max(CASE WHEN n = 2 AND rn = 1 THEN cnt END) AS top_cnt,
         sum(CASE WHEN n = 2 AND rn = 1
                  THEN cnt * length(gram) END) AS topc,
         sum(CASE WHEN n = 3 AND cnt >= 2
                  THEN cnt * length(gram) END) AS dupc
  FROM r GROUP BY doc_id)
SELECT w.doc_id, CAST(w.n_chars AS INT) AS n_chars, p.top_gram,
       CAST(coalesce(p.top_cnt, 0) AS BIGINT) AS top_cnt,
       round(coalesce(p.topc, 0) * 1.0 / greatest(w.n_chars, 1), 5)
         AS top2gram_char_frac,
       round(coalesce(p.dupc, 0) * 1.0 / greatest(w.n_chars, 1), 5)
         AS dup3gram_char_frac
FROM w LEFT JOIN p USING (doc_id)"""

# DuckDB twin of _decontam_documents (pipeline/decontam.py semantics):
# same single-space word split, same 8-gram windows, eval set = every
# 50th document, count of OCCURRENCES hitting any distinct eval gram,
# frac rounded 6, contaminated = frac > 0.
_DECONTAM_ORACLE_SQL = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id, array_to_string(list_slice(w, i, i + 7), ' ') AS gram
  FROM d, unnest(generate_series(1, len(w) - 7)) AS t(i)
), b AS (
  SELECT DISTINCT array_to_string(list_slice(w, i, i + 7), ' ') AS gram
  FROM (SELECT string_split(text, ' ') AS w FROM documents
        WHERE doc_id % 50 = 0) bb,
       unnest(generate_series(1, len(w) - 7)) AS t(i)
), s AS (
  SELECT d.doc_id,
         count(g.gram) AS ngram_count,
         count(b.gram) AS contaminated_ngrams
  FROM d LEFT JOIN g USING (doc_id) LEFT JOIN b ON g.gram = b.gram
  GROUP BY d.doc_id)
SELECT doc_id, ngram_count, contaminated_ngrams,
       round(CASE WHEN ngram_count > 0
                  THEN contaminated_ngrams / ngram_count
                  ELSE 0.0 END, 6) AS contamination_frac,
       (CASE WHEN ngram_count > 0
             THEN contaminated_ngrams / ngram_count
             ELSE 0.0 END) > 0 AS contaminated
FROM s"""

# DuckDB twin of _pack_plan_documents (pipeline/packing.py semantics):
# same \\s+ tokenizer, per-source stream order by doc_id, budget 64.
_PACK_PLAN_ORACLE_SQL = r"""
WITH d AS (
  SELECT source AS shard, doc_id,
         len(string_split_regex(text, '\s+')) AS n_tokens
  FROM documents
), c AS (
  SELECT shard, doc_id, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT
           AS stream_start
  FROM d WHERE n_tokens > 0
), e AS (
  SELECT shard, doc_id, n_tokens, stream_start, seq_id
  FROM c, unnest(generate_series(stream_start // 64,
       (stream_start + n_tokens - 1) // 64)) AS t(seq_id)
)
SELECT shard, seq_id, doc_id,
       greatest(stream_start, seq_id * 64) - stream_start AS tok_start,
       least(stream_start + n_tokens, seq_id * 64 + 64)
         - greatest(stream_start, seq_id * 64) AS tok_len,
       greatest(stream_start, seq_id * 64) - seq_id * 64
         AS seq_tok_start
FROM e"""


def _quality_filter_oracle_sql() -> str:
    """DuckDB twin of _quality_filter_documents: gopher_cols over text
    (thresholds inlined from filters.gopher_cols defaults) plus the
    redaction digest over the same doc_id-derived PII augmentation.
    Division shapes mirror the Spark plan operand-for-operand so the
    doubles are bit-identical."""
    w = "string_split(text, ' ')"
    wc = f"len({w})"
    mean = f"(list_sum(list_transform({w}, x -> length(x))) * 1.0 / {wc})"
    alpha = (f"(len(list_filter({w}, "
             f"x -> regexp_full_match(x, '[A-Za-z]+'))) * 1.0 / {wc})")
    stop = (f"len(list_filter({w}, "
            f"x -> x IN ('the', 'and', 'of', 'to', 'in')))")
    aug = ("text || ' contact user' || CAST(doc_id AS VARCHAR) || "
           "'@example.com or +1-555-0' || "
           "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || "
           "' ip 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) || "
           "' ssn 123-45-6789 end'")
    redact_sql = filters.redact_sql
    return (
        f"SELECT doc_id, CAST({wc} AS INT) AS word_count, "
        f"round({mean}, 5) AS mean_word_len, "
        f"round({alpha}, 5) AS alpha_word_frac, "
        f"round(1 - len(list_distinct({w})) * 1.0 / {wc}, 5) "
        f"AS dup_word_frac, "
        f"CAST({stop} AS INT) AS stopword_hits, "
        f"({wc} >= 50 AND {wc} <= 100000 AND {mean} >= 3.0 AND "
        f"{mean} <= 10.0 AND {alpha} >= 0.8 AND {stop} >= 2) AS keep, "
        f"md5({redact_sql(f'({aug})')}) AS redacted_md5 "
        f"FROM documents")
