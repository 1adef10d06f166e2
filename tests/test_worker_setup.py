"""engine.worker_setup, the one executor-side setup hook: besides the
Arrow thread clamp it drops the cached zip-archive import finders, which
PySpark's per-task ``importlib.invalidate_caches()`` would otherwise make
re-read every archive's central directory (pyspark.zip ~14 times) at the
start of every task."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from orc_haskell_spark import engine, gen, sources


def _zip_finders() -> list[str]:
    return [k for k, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_worker_setup_drops_zip_finders(tmp_path, monkeypatch):
    archive = tmp_path / "ws_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("ws_probe_pkg/__init__.py", "")
        z.writestr("ws_probe_pkg/first.py", "X = 1\n")
        z.writestr("ws_probe_pkg/second.py", "Y = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    threads = pa.cpu_count(), pa.io_thread_count()
    try:
        importlib.import_module("ws_probe_pkg.first")
        assert _zip_finders()

        engine.worker_setup()
        assert _zip_finders() == []

        reads = []
        real = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda path: reads.append(path) or real(path))
        importlib.invalidate_caches()
        assert reads == []
        # a module not imported yet still imports from the archive, and
        # its new finder comes from zipimport's directory cache
        assert importlib.import_module("ws_probe_pkg.second").Y == 2
        assert reads == []
    finally:
        for name in ("ws_probe_pkg.second", "ws_probe_pkg.first",
                     "ws_probe_pkg"):
            sys.modules.pop(name, None)
        pa.set_cpu_count(threads[0])
        pa.set_io_thread_count(threads[1])


def _probe_reuse(spark, tmp_path, monkeypatch, first_job, next_job):
    """Run ``first_job`` once, then ``next_job`` until some worker runs
    a second task, with a probe around ``sources._bucket_fn`` (every
    fused scan's task entry) that records the worker's pid and zip
    finder count before the package's worker loop, and so
    ``worker_setup``, runs. A worker that already ran a task of this
    test must start the next one with no zip finder left to re-read."""
    log = str(tmp_path / "probe.log")
    bucket_fn = sources._bucket_fn

    def probed(fn, buckets, schema):
        run = bucket_fn(fn, buckets, schema)

        def probe(batches):
            import os
            import sys
            import zipimport

            n = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
            zipped = isinstance(sys.modules["pyspark"].__loader__,
                                zipimport.zipimporter)
            with open(log, "a") as f:
                f.write(f"{os.getpid()} {n} {int(zipped)}\n")
            return run(batches)

        return probe

    monkeypatch.setattr(sources, "_bucket_fn", probed)

    def records():
        with open(log) as f:
            return [tuple(map(int, line.split())) for line in f]

    first_job()
    if not any(zipped for _pid, _n, zipped in records()):
        pytest.skip("the workers do not import PySpark from a zip")
    for _ in range(6):  # idle workers are handed out in turn
        next_job()
        seen, reused = set(), []
        for pid, n, _zipped in records():
            if pid in seen:
                reused.append((pid, n))
            seen.add(pid)
        if reused:
            break
    assert reused, "no worker ran two tasks"
    assert all(n == 0 for _pid, n in reused), reused


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_reused_workers_hold_no_zip_finders(spark, tmp_path, monkeypatch):
    """A fused encode, then fused decodes."""
    src, enc_dir = str(tmp_path / "pages"), str(tmp_path / "enc")
    gen.pages_df(spark, 2000, 4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    _probe_reuse(
        spark, tmp_path, monkeypatch,
        lambda: engine.encode_parquet(spark, src, stripe_rows=500,
                                      num_partitions=4)
        .write.parquet(enc_dir),
        lambda: _noop(engine.decode_table(spark.read.parquet(enc_dir),
                                          schema)))


def test_reused_orc_workers_hold_no_zip_finders(spark, tmp_path,
                                                monkeypatch):
    """Stripe-parallel ORC reads (``read_orc_distributed``)."""
    from orc_haskell_spark.orcfile.spark_source import (
        read_orc_distributed, write_orc_distributed)

    d = str(tmp_path / "orc")
    write_orc_distributed(gen.pages_df(spark, 2000, 4), d,
                          compression="ZSTD", stripe_rows=250).collect()
    job = lambda: _noop(read_orc_distributed(spark, d))  # noqa: E731
    _probe_reuse(spark, tmp_path, monkeypatch, job, job)


def test_reused_warc_workers_hold_no_zip_finders(spark, tmp_path,
                                                 monkeypatch):
    """WARC chunk scans (``read_warc``), with main-content extraction."""
    from orc_haskell_spark import warc

    d = str(tmp_path / "warc")
    warc.write_warc(gen.pages_df(spark, 400, 4), d).collect()
    job = lambda: _noop(warc.read_warc(spark, d, num_partitions=4,  # noqa
                                       extract="main"))
    _probe_reuse(spark, tmp_path, monkeypatch, job, job)
