"""Ship surface: scripts/encode_job.py driven as a CLI over an Iceberg
table (north rule: the job ships via spark-submit --py-files; here the
same script runs under plain python with a local master, which
exercises every code path except JVM arg plumbing)."""

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from orc_haskell_spark import iceberg

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_encode_job_cli_iceberg_fused_with_commit(tmp_path):
    root = str(tmp_path / "tbl")
    os.makedirs(os.path.join(root, "data"))
    t = pa.table({
        "url": pa.array([f"https://x/{i}" for i in range(300)]),
        "text": pa.array([f"body {i} " * 5 for i in range(300)]),
        "lang": pa.array(["en" if i % 3 else "de" for i in range(300)]),
        "views": pa.array(np.arange(300), pa.int64())})
    iceberg.create_table(root, t.schema, partition_by=["lang"])
    for lang in ("en", "de"):
        import pyarrow.compute as pc

        sub = t.filter(pc.equal(t.column("lang"), lang))
        p = os.path.join(root, "data", f"{lang}.parquet")
        pq.write_table(sub, p)
        iceberg.append_files(root, [p], [{"lang": lang}])
    out = str(tmp_path / "out")
    ice_out = str(tmp_path / "ice_out")
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "encode_job.py"),
         "--input", root, "--output", out, "--fused",
         "--partitions", "2", "--where", "lang=en",
         "--commit-iceberg", ice_out],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "iceberg snapshot planned:" in r.stdout
    summary = [ln for ln in r.stdout.splitlines()
               if ln.startswith("summary:")][-1]
    assert all(f"'{k}':" in summary
               for k in ("plan_s", "encode_s", "commit_s"))
    assert "iceberg commit:" in r.stdout
    # committed output is a readable Iceberg table of encoded stripes
    files = iceberg.plan_files(ice_out)
    assert files and sum(f["record_count"] for f in files) > 0
    # resume run: encodes nothing new, commit reports nothing new
    r2 = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "encode_job.py"),
         "--input", root, "--output", out, "--fused",
         "--partitions", "2", "--where", "lang=en",
         "--commit-iceberg", ice_out],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO)
    assert r2.returncode == 0, r2.stderr[-3000:]
    assert "'splits_encoded': 0" in r2.stdout
    assert "iceberg commit: nothing new" in r2.stdout


def test_parse_where_terms():
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from encode_job import parse_where

    assert parse_where(None) is None
    assert parse_where("lang=en,views>=10,score<=1.5") == [
        ("lang", "=", "en"), ("views", ">=", 10), ("score", "<=", 1.5)]
    import pytest

    with pytest.raises(SystemExit):
        parse_where("nonsense")


def test_encode_job_cli_maintenance(tmp_path):
    """--compact then --expire-keep 1 over a tombstoned table: the CLI
    maintenance pass leaves a clean single-snapshot table."""
    root = str(tmp_path / "tbl")
    os.makedirs(os.path.join(root, "data"))
    t = pa.table({"url": pa.array([f"u{i}" for i in range(20)]),
                  "views": pa.array(np.arange(20), pa.int64())})
    iceberg.create_table(root, t.schema)
    p = os.path.join(root, "data", "a.parquet")
    pq.write_table(t, p)
    iceberg.append_files(root, [p])
    iceberg.delete_where(root, [{"url": "u3"}])
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "encode_job.py"),
         "--input", root, "--output", str(tmp_path / "unused"),
         "--compact", "--expire-keep", "1"],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "compacted: snapshot" in r.stdout
    assert "expired 2 snapshot(s)" in r.stdout
    meta = iceberg.table_metadata(root)
    assert len(meta["snapshots"]) == 1
    files = iceberg.plan_files(root)
    assert sum(f["record_count"] for f in files) == 19


def test_parse_where_hygiene():
    """Whitespace strips; unsupported operators and junk columns are
    refused loudly instead of becoming silent no-op predicates."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import pytest

    from encode_job import parse_where

    assert parse_where(" lang = en , views >= 10") == [
        ("lang", "=", "en"), ("views", ">=", 10)]
    with pytest.raises(SystemExit):
        parse_where("a!=5")            # '!=' is not a supported op
    with pytest.raises(SystemExit):
        parse_where("lang.x=en")


def test_check_where_columns_rejects_unknown(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import pytest

    from encode_job import check_where_columns

    root = str(tmp_path / "tbl")
    os.makedirs(os.path.join(root, "data"))
    t = pa.table({"url": pa.array(["u0"]),
                  "views": pa.array([1], pa.int64())})
    iceberg.create_table(root, t.schema)
    check_where_columns([("views", ">=", 1)], root)   # known: fine
    with pytest.raises(SystemExit, match="wiews"):
        check_where_columns([("wiews", ">=", 1)], root)


def test_pkg_stamp_invalidates_on_delete(tmp_path):
    """The worker-zip cache key must change when a module is DELETED,
    not only when one is edited (a max-mtime stamp missed deletions and
    kept shipping the stale zip)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry_mod", os.path.join(REPO, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "a.py").write_text("A = 1\n")
    (pkg / "b.py").write_text("B = 2\n")
    s1 = mod._pkg_stamp(str(pkg), str(tmp_path))
    (pkg / "b.py").unlink()
    s2 = mod._pkg_stamp(str(pkg), str(tmp_path))
    assert s1 != s2


def test_parse_where_rejects_double_equals():
    """'lang==en' must refuse, not silently compare against '=en'."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import pytest

    from encode_job import parse_where

    with pytest.raises(SystemExit, match="=="):
        parse_where("lang==en")
    with pytest.raises(SystemExit):
        parse_where("views>=>5")


def test_encode_job_cli_sort_within(tmp_path):
    """--sort-within threads through to the stripe encoder: output
    stripes decode to a bit-identical permutation, internally sorted."""
    src = str(tmp_path / "pages.parquet")
    urls = [f"https://h{i % 9}.org/p/{i:04d}" for i in range(400)]
    import random

    rng = random.Random(5)
    rng.shuffle(urls)
    pq.write_table(pa.table({
        "url": pa.array(urls),
        "text": pa.array([f"t {u}" for u in urls])}), src)
    out = str(tmp_path / "out")
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "encode_job.py"),
         "--input", src, "--output", out, "--partitions", "2",
         "--sort-within", "url"],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO)
    assert r.returncode == 0, r.stderr[-3000:]
    import glob as _glob
    import json as _json

    from orc_haskell_spark import stripe as stripe_mod
    stripes = sorted(_glob.glob(
        os.path.join(out, "stripes", "**", "*.parquet"), recursive=True))
    assert stripes
    got = []
    for sp in stripes:
        for row in pq.read_table(sp).to_pylist():
            tbl = pa.Table.from_batches(
                [stripe_mod.decode_stripe(_json.loads(row["footer"]),
                                          memoryview(row["data"]))])
            col = tbl["url"].to_pylist()
            assert col == sorted(col)      # stripe-local clustering
            got.extend(col)
    assert sorted(got) == sorted(urls)     # bit-identical permutation
