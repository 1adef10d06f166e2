"""Crash-consistency: SIGKILL mid-encode, then resume.

The manifest is written after the stripes of a run commit, so a killed
run must leave either (a) nothing visible, or (b) committed stripes
WITH manifest rows — never visible stripes without manifest accounting
that a resume would duplicate.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import textwrap
import time

from orc_haskell_spark import engine, gen, manifest


def _live_session_pids(sid: int) -> list[int]:
    """Pids of the live (not zombie) processes of session ``sid``. The
    PySpark daemon moves itself and its workers into their own process
    group, so a session, not a group, holds a driver's whole tree."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # after "(comm)": state ppid pgrp session ...
        state, _ppid, _pgrp, session = stat[stat.rindex(")") + 2:].split()[:4]
        if int(session) == sid and state != "Z":
            pids.append(int(d))
    return pids


def _sigkill_session(proc: subprocess.Popen, timeout: float = 60) -> None:
    """SIGKILL every process of ``proc``'s session (it was started with
    ``start_new_session=True``): the driver, its JVM and its Python
    workers. Returns once none of them is alive, so nothing of the
    killed run (a JVM aborting its job, a worker finishing a task) can
    touch the output after this."""
    deadline = time.time() + timeout
    while pids := _live_session_pids(proc.pid):
        assert time.time() < deadline, f"session survived SIGKILL: {pids}"
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    proc.wait()


def test_sigkill_mid_encode_then_resume(spark, tmp_path):
    src = str(tmp_path / "pages")
    out = str(tmp_path / "enc")
    gen.pages_df(spark, 6000, 4).write.parquet(src)

    # run encode_to_dir in a subprocess and SIGKILL it mid-flight
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from pyspark.sql import SparkSession
        from orc_haskell_spark import manifest
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.session.timeZone", "UTC")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "2").getOrCreate())
        df = spark.read.parquet({src!r})
        print("READY", flush=True)
        manifest.encode_to_dir(df, {out!r}, partition_key="url",
                               num_partitions=8, stripe_rows=500,
                               source="kill-test")
        print("DONE", flush=True)
    """)
    proc = subprocess.Popen([sys.executable, "-c", code],
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                            text=True)
    # wait for the job to be well underway, then kill hard
    t0 = time.time()
    while time.time() - t0 < 120:
        line = proc.stdout.readline()
        if "READY" in line:
            break
    time.sleep(6)  # mid-encode (full run takes ~15-25 s)
    proc.send_signal(signal.SIGKILL)
    proc.wait()

    # resume: completes whatever is missing
    df = spark.read.parquet(src)
    r = manifest.encode_to_dir(df, out, partition_key="url",
                               num_partitions=8, stripe_rows=500,
                               source="kill-test")
    assert r["parts_done_before"] + r["parts_encoded"] == 8

    # decoded output must equal the input exactly — no dupes, no holes
    enc = manifest.read_encoded(spark, out)
    dec = engine.decode_table(enc.drop("part_id"), df.schema)
    assert dec.count() == 6000, "row count after kill+resume"
    assert dec.exceptAll(df).count() == 0
    assert df.exceptAll(dec).count() == 0


def test_orphan_stripes_replaced_not_duplicated(spark, tmp_path):
    """Crash window: stripes committed, manifest rows not. The re-run
    must REPLACE the orphan stripes (dynamic partition overwrite), so
    decoded output has no duplicate rows."""
    import shutil

    src = str(tmp_path / "pages")
    out = str(tmp_path / "enc")
    gen.pages_df(spark, 2000, 2).write.parquet(src)
    df = spark.read.parquet(src)
    manifest.encode_to_dir(df, out, partition_key="url",
                           num_partitions=4, stripe_rows=500)
    # simulate the crash: all stripes on disk, no manifest at all
    shutil.rmtree(os.path.join(out, "manifest"))

    r = manifest.encode_to_dir(df, out, partition_key="url",
                               num_partitions=4, stripe_rows=500)
    assert r["parts_encoded"] == 4  # everything re-ran...
    enc = manifest.read_encoded(spark, out)
    dec = engine.decode_table(enc.drop("part_id"), df.schema)
    assert dec.count() == 2000  # ...and replaced, not appended
    assert dec.exceptAll(df).count() == 0


def test_sigkill_mid_fused_sink_then_resume(spark, tmp_path):
    """SIGKILL the fused Python-side sink mid-flight: a killed run may
    leave staging files and renamed-but-unledgered parts; the resume
    must (a) see only manifested splits as done, (b) re-encode the
    rest, and (c) read back exactly the source — orphans invisible."""
    src = str(tmp_path / "pages")
    out = str(tmp_path / "enc_fused")
    gen.pages_df(spark, 6000, 6).write.parquet(src)

    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from pyspark.sql import SparkSession
        from orc_haskell_spark import manifest
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.session.timeZone", "UTC")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "2").getOrCreate())
        print("READY", flush=True)
        manifest.encode_parquet_to_dir(spark, {src!r}, {out!r},
                                       stripe_rows=500, num_partitions=6,
                                       source="kill-test")
        print("DONE", flush=True)
    """)
    proc = subprocess.Popen([sys.executable, "-c", code],
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    t0 = time.time()
    while time.time() - t0 < 120:
        line = proc.stdout.readline()
        if "READY" in line:
            break
    time.sleep(7)  # mid-encode
    # the whole tree, as a machine loss would: a JVM left alive would
    # abort its job and delete manifest/_temporary under the resume
    _sigkill_session(proc)

    r = manifest.encode_parquet_to_dir(spark, src, out, stripe_rows=500,
                                       num_partitions=6,
                                       source="kill-test")
    assert r["splits_done_before"] + r["splits_encoded"] \
        == r["splits_total"] > 0

    src_df = spark.read.parquet(src)
    dec = engine.decode_table(manifest.read_fused_encoded(spark, out),
                              src_df.schema)
    assert dec.count() == 6000
    assert dec.exceptAll(src_df).count() == 0
    assert src_df.exceptAll(dec).count() == 0


def test_sigkill_mid_decode_export_then_rerun(spark, tmp_path):
    """Decode-export twin of the encode-sink kill test (VERDICT r3 item
    8): SIGKILL the fused decode export mid-flight, re-run with the same
    plan, and the exported parquet must equal the source exactly — no
    duplicate rows from replayed tasks, no holes, no visible partial
    part files."""
    src = str(tmp_path / "pages")
    enc_dir = str(tmp_path / "enc")
    out = str(tmp_path / "export")
    gen.pages_df(spark, 6000, 4).write.parquet(src)
    engine.encode_parquet(spark, src, stripe_rows=500,
                          num_partitions=8).write.parquet(enc_dir)

    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from pyspark.sql import SparkSession
        from orc_haskell_spark import engine
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.session.timeZone", "UTC")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "2").getOrCreate())
        print("READY", flush=True)
        engine.decode_parquet_to_dir(spark, {enc_dir!r}, {out!r},
                                     num_partitions=8).collect()
        print("DONE", flush=True)
    """)
    proc = subprocess.Popen([sys.executable, "-c", code],
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                            text=True)
    t0 = time.time()
    while time.time() - t0 < 120:
        line = proc.stdout.readline()
        if "READY" in line:
            break
    time.sleep(8)  # mid-export
    proc.send_signal(signal.SIGKILL)
    proc.wait()

    # no half-written parts may be visible (rename-on-commit)
    visible = [f for f in os.listdir(out)
               if f.endswith(".parquet") and not f.startswith(".")] \
        if os.path.isdir(out) else []
    for f in visible:
        # every visible part parses as complete parquet
        import pyarrow.parquet as pq
        pq.read_table(os.path.join(out, f))

    # re-run with the SAME plan: rewrites the same part names, fills gaps
    engine.decode_parquet_to_dir(spark, enc_dir, out,
                                 num_partitions=8).collect()
    got = spark.read.parquet(out)
    src_df = spark.read.parquet(src)
    assert got.count() == 6000
    assert got.exceptAll(src_df).count() == 0
    assert src_df.exceptAll(got).count() == 0
