"""Physical-plan quality checks: the properties that matter at 100 TB.

Catalyst must keep filter pushdown and column pruning on the scan side
of our mapInArrow operators, broadcast the small sides of pipeline
joins, and whole-stage-codegen the Catalyst-only operators.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orc_haskell_spark import engine
from orc_haskell_spark.pipeline import dedup


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_filter_pushdown_reaches_scan_before_encode(spark):
    """Filtering before encode must push to the parquet scan — encoding
    a pruned subset is the 100 TB re-encode pattern."""
    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    enc = engine.encode_table(df.filter(F.col("l_orderkey") == 42))
    plan = _plan(enc)
    assert "PushedFilters" in plan
    assert "l_orderkey" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_through_projection(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    proj = df.select("l_orderkey", "l_quantity")
    plan = _plan(proj)
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_jaccard_uses_broadcast_for_small_sides(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 0.9)
    plan = _plan(pairs)
    assert "BroadcastHashJoin" in plan  # sizes/dfreq sides are broadcast


def test_catalyst_ops_stay_in_codegen(spark):
    from orc_haskell_spark.pipeline import text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(text.quality_scores(docs, "doc_id", "text"))
    assert "codegen id" in plan  # formatted mode annotates codegen stages


def test_salt_reads_no_data_columns(spark):
    """The skew salt must derive from row position, not row content:
    a salt that hashes html/text bodies is a full extra pass over the
    corpus bytes at 100 TB just to pick 1 of 16 buckets."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    stats = engine.salted_agg(docs, "lang", {"n": ("count", "doc_id")})
    plan = _plan(stats)
    # only lang + doc_id may reach the scan; the body column must be
    # pruned (the salt hashes key+input columns only — deterministic
    # across task retries, unlike a row-position id, and never the
    # text/html bodies the old full-row hash re-read)
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "text" not in read_schema and "url" not in read_schema


def test_simhash_self_join_reuses_exchange(spark):
    """simhash_pairs relies on exchange reuse instead of .cache(): the
    band self-join's two shuffle subtrees are identical, so the md5
    signature computation runs ONCE (no unpersisted cache leak)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    persisted_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    pairs = dedup.simhash_pairs(docs, "doc_id", "text")
    pairs.collect()  # AQE shows reuse only in the executed (final) plan
    plan = _plan(pairs)
    assert "ReusedExchange" in plan
    # snapshot-diff: simhash itself must persist NOTHING. <= not ==:
    # other tests' leftovers (e.g. a dedup_clusters result checkpoint)
    # may exist at the snapshot and be async-released by the
    # ContextCleaner while this test runs
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() \
        <= persisted_before


def test_decode_preserves_partition_count(spark):
    """decode is a narrow map: no shuffle is introduced."""
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet") \
        .repartition(5)
    enc = engine.encode_table(df, stripe_rows=1000)
    dec = engine.decode_table(enc, df.schema)
    plan = _plan(dec)
    # The only Exchange node in the whole plan is the explicit
    # .repartition(5) on the input; encode+decode introduce none.
    import re
    assert len(re.findall(r"Exchange \(\d+\)", plan)) == 1
    assert dec.rdd.getNumPartitions() == 5


def test_fused_encode_single_stage_no_exchange(spark, tmp_path):
    """Driver-planned fused encode: the whole scan+encode job is ONE
    narrow stage — no Exchange anywhere in the plan (each spark.range
    task builds its own split batch from the broadcast plan, payload
    never enters the JVM)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": list(range(20000)),
                             "s": [f"v{i}" for i in range(20000)]}),
                   p, row_group_size=5000)
    enc = engine.encode_parquet(spark, p, num_partitions=4)
    plan = _plan(enc)
    assert "Exchange" not in plan
    assert enc.rdd.getNumPartitions() == 4
    # and the scan feeding it is task ids only, not table rows, and no
    # Python-RDD split stage sits in front of the encoding worker
    assert "Range" in plan
    assert "Scan parquet" not in plan and "ExistingRDD" not in plan


def test_unsalted_encode_key_uses_hash_not_range(spark):
    """partition_on without salt must HASH-repartition: range
    partitioning adds a full sampling scan to pick boundaries, pure
    waste over an already-uniform xxhash64 key. Salted hot-key encodes
    keep RANGE so the few salt copies land in distinct partitions."""
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plain = _plan(engine.encode_table(df, partition_on=["doc_id"],
                                      num_partitions=4))
    assert "hashpartitioning" in plain
    assert "rangepartitioning" not in plain
    salted = _plan(engine.encode_table(df, partition_on=["lang"],
                                       salt_buckets=4, num_partitions=4))
    assert "rangepartitioning" in salted


def _assert_range_feeds_map_in_arrow(df):
    """The scan is launched by ``sources.SplitPlan``: its MapInArrow
    reads ``spark.range`` task ids, with no Python-RDD split stage
    (ExistingRDD) in front of it."""
    import re

    plan = _plan(df)
    tree = plan.split("\n\n")[0]
    assert re.search(r"MapInArrow \(\d+\)\n\+- (\* )?Range \(\d+\)", tree), \
        tree
    assert "ExistingRDD" not in plan


@pytest.fixture(scope="module")
def orc_and_warc_dirs(spark, tmp_path_factory):
    """Two 3-stripe ORC files and a two-part WARC crawl."""
    import pyarrow as pa

    from orc_haskell_spark import gen, warc
    from orc_haskell_spark.orcfile.writer import write_orc

    root = tmp_path_factory.mktemp("scans")
    (root / "orc").mkdir()
    for i in range(2):
        write_orc(pa.table({"x": pa.array(range(i * 300, i * 300 + 300),
                                          pa.int64())}),
                  str(root / "orc" / f"f{i}.orc"), stripe_rows=100)
    warc.write_warc(gen.pages_df(spark, 100, num_partitions=2),
                    str(root / "crawl")).collect()
    return root


@pytest.mark.parametrize("scan", ["read_orc_distributed", "encode_orc",
                                  "read_warc", "write_pages_parquet"])
def test_fused_orc_and_warc_scans_launch_through_split_plan(
        spark, orc_and_warc_dirs, scan):
    """The ORC and WARC fused scans plan through the one fused-scan
    planner: Range feeds MapInArrow and no ExistingRDD is left."""
    from orc_haskell_spark import warc
    from orc_haskell_spark.orcfile.spark_source import read_orc_distributed

    orc, crawl = str(orc_and_warc_dirs / "orc"), str(orc_and_warc_dirs /
                                                       "crawl")
    df = {"read_orc_distributed": lambda: read_orc_distributed(spark, orc),
          "encode_orc": lambda: engine.encode_orc(spark, orc,
                                                  stripe_rows=100),
          "read_warc": lambda: warc.read_warc(spark, crawl),
          "write_pages_parquet": lambda: warc.write_pages_parquet(
              spark, crawl, str(orc_and_warc_dirs / "pages"))}[scan]()
    _assert_range_feeds_map_in_arrow(df)
    if scan == "read_orc_distributed":
        assert df.agg(F.sum("x")).collect()[0][0] == sum(range(600))
