"""Driver-gate query pinning.

Three jobs: (1) keep the round-5 swapped-OUT queries (roundtrip_dims,
direct-codec documents roundtrip) exactly oracle-checked outside the
driver gate; (2) pre-flight the swapped-IN WARC pair against the same
oracles the driver will run, so a gate regression shows up here first;
(3) pin every oracle's result types to the ones Spark returns."""

from __future__ import annotations

import os

import pandas as pd
import pytest

import __spark_entry__ as e

SF = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present")


@pytest.fixture(scope="module")
def oracle():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _compare(spark, oracle, qname, query_fn=None, oracle_sql=None):
    sdf = (query_fn or e.queries()[qname])(spark, SF).toPandas()
    odf = oracle.execute(oracle_sql or e.oracle_sql()[qname]).df()
    cols = sorted(sdf.columns)
    assert cols == sorted(odf.columns)
    s = sdf[cols].sort_values(by=cols).reset_index(drop=True)
    o = odf[cols].sort_values(by=cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(s, o, check_dtype=False)
    return len(s)


def test_roundtrip_dims_still_oracle_exact(spark, oracle):
    """Swapped out of the gate in round 5; pinned here instead."""
    n = _compare(spark, oracle, "roundtrip_dims",
                 query_fn=e._roundtrip_dims,
                 oracle_sql=e._roundtrip_dims_oracle_sql())
    assert n == 5  # one digest row per dimension table


def test_roundtrip_direct_documents_still_oracle_exact(spark, oracle):
    """Swapped out of the gate in round 5; pinned here instead."""
    n = _compare(spark, oracle, "roundtrip_direct_documents",
                 query_fn=e._mk_roundtrip("documents",
                                          {"string_codec": "direct"}),
                 oracle_sql=e._select_sql("documents"))
    assert n > 0


def test_roundtrip_zlib_orders_still_oracle_exact(spark, oracle):
    """Swapped out of the gate (round 5, for quality_filter_documents);
    pinned here instead — zlib framing also stays gate-covered through
    the orcfile rows and the pytest compression matrix."""
    n = _compare(spark, oracle, "roundtrip_zlib_orders",
                 query_fn=e._mk_roundtrip("orders",
                                          {"compression": "zlib"}),
                 oracle_sql=e._select_sql("orders"))
    assert n > 0


def test_orcfile_roundtrip_documents_still_oracle_exact(spark, oracle):
    """Swapped out of the gate (round 5, for text_repetition_documents);
    pinned here — our ORC writer's string path stays gate-covered via
    the fused ORC encode row (cpp_read_documents is pinned below)."""
    n = _compare(spark, oracle, "orcfile_roundtrip_documents",
                 query_fn=e._mk_orcfile_roundtrip("documents"),
                 oracle_sql=e._select_sql("documents"))
    assert n > 0


def test_orcfile_cpp_read_documents_still_oracle_exact(spark, oracle):
    """Swapped out of the gate (round 5 session 6, for
    pack_plan_documents); pinned here — the C++-written string/dict ORC
    cross-read, plus the pytest interop matrix."""
    n = _compare(spark, oracle, "orcfile_cpp_read_documents",
                 query_fn=e._mk_orcfile_cpp_cross("documents"),
                 oracle_sql=e._select_sql("documents"))
    assert n > 0


def test_roundtrip_orders_still_oracle_exact(spark, oracle):
    """Not a gate query; pinned here — orders' decimal/date/string
    codec surface is the same set roundtrip_lineitem pins."""
    n = _compare(spark, oracle, "roundtrip_orders",
                 query_fn=e._mk_roundtrip("orders"),
                 oracle_sql=e._select_sql("orders"))
    assert n > 0


def test_fused_roundtrip_documents_still_oracle_exact(spark, oracle):
    """Not a gate query; pinned here — the gate keeps the strict
    superset paths (fused_sink_roundtrip + fused_transcode)."""
    n = _compare(spark, oracle, "fused_roundtrip_documents",
                 query_fn=e._fused_roundtrip_documents,
                 oracle_sql=e._select_sql("documents"))
    assert n > 0


def test_decontam_gate_preflight(spark, oracle):
    assert _compare(spark, oracle, "decontam_documents") > 0


def test_pack_plan_gate_preflight(spark, oracle):
    assert _compare(spark, oracle, "pack_plan_documents") > 0


def test_quality_filter_gate_preflight(spark, oracle):
    assert _compare(spark, oracle, "quality_filter_documents") > 0


def test_text_repetition_gate_preflight(spark, oracle):
    assert _compare(spark, oracle, "text_repetition_documents") > 0


def test_warc_ingest_pages_gate_preflight(spark, oracle):
    assert _compare(spark, oracle, "warc_ingest_pages") > 0


def test_warc_extract_pages_gate_preflight(spark, oracle):
    assert _compare(spark, oracle, "warc_extract_pages") > 0


def test_gate_cap_and_oracle_coverage():
    """The driver runs at most 50 queries; every one has an oracle."""
    qs, osql = e.queries(), e.oracle_sql()
    assert len(qs) == 41
    assert not [k for k in qs if k not in osql]   # all oracle-checked
    assert not [k for k in osql if k not in qs]   # no orphan oracles


def test_oracle_result_types_match_spark(oracle):
    """No oracle may return a type Spark never produces. DuckDB widens
    sum(int) and sum(bigint) to HUGEINT where Spark returns bigint, and
    sum(decimal) to DECIMAL(38, s) where Spark keeps precision + 10, so
    such a column matches on values but not on an exact-typed hash of
    the result."""
    bad = {}
    for name, sql in e.oracle_sql().items():
        rel = oracle.sql(sql)
        cols = [c for c, t in zip(rel.columns, rel.types)
                if str(t) == "HUGEINT" or str(t).startswith("DECIMAL(38")]
        if cols:
            bad[name] = cols
    assert bad == {}
