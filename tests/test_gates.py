"""Project gates: compressed size <= reference ORC writer; constant-memory
streaming encode (reference leak-test analog); decimal128 roundtrip.
"""

from __future__ import annotations

import io
import os
import subprocess
import sys
import textwrap
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.orc as paorc
import pyarrow.parquet as pq
import pytest

from orc_haskell_spark import gen, stripe

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ours_vs_orc(table: pa.Table) -> tuple[int, int]:
    batch = table.combine_chunks().to_batches()[0]
    _, payload = stripe.encode_stripe(batch)
    buf = io.BytesIO()
    paorc.write_table(table, buf, compression="zstd")
    return len(payload), buf.tell()


def test_size_gate_pages():
    """BASELINE.json metric: total encoded bytes <= pyarrow-ORC output."""
    t = gen.pages_table(0, 20000)
    ours, orc = _ours_vs_orc(t)
    assert ours <= orc, f"ours={ours} > orc={orc}"


def test_size_gate_documents():
    t = pq.read_table("/root/testdata/sf0.01/documents.parquet")
    ours, orc = _ours_vs_orc(t)
    assert ours <= orc, f"ours={ours} > orc={orc}"


def test_size_gate_events():
    t = pq.read_table("/root/testdata/sf0.01/events.parquet")
    ours, orc = _ours_vs_orc(t)
    assert ours <= orc, f"ours={ours} > orc={orc}"


def test_decimal128_roundtrip():
    vals = [Decimal("12345.67"), Decimal("-0.01"), Decimal("0"),
            Decimal("99999999999999999999.99"),  # > int64 mantissa
            Decimal("-99999999999999999999.99"), None]
    batch = pa.RecordBatch.from_pydict(
        {"d": pa.array(vals, pa.decimal128(38, 2)),
         "d18": pa.array([Decimal("1.5"), Decimal("-2.25"), None,
                          Decimal("0"), Decimal("1000000.00"),
                          Decimal("-4.75")], pa.decimal128(18, 2))})
    footer, payload = stripe.encode_stripe(batch)
    back = stripe.decode_stripe(footer, payload)
    assert back.equals(batch)


def test_constant_memory_encode():
    """Encoding 40 x ~8 MB stripes must not hold them all (reference
    analog: weak-pointer leak tests, test/Test/Orc/Memory/Leaks.hs)."""
    code = textwrap.dedent("""
        import resource, sys
        sys.path.insert(0, %r)
        from orc_haskell_spark import gen
        from orc_haskell_spark.engine import _rechunk
        from orc_haskell_spark import stripe

        def batches():
            for k in range(40):
                yield gen.pages_batch(k * 4000, 4000)  # ~8 MB each

        cache = {}
        total = 0
        for b in _rechunk(batches(), 4000, 64 << 20):
            footer, payload = stripe.encode_stripe(b, None, cache)
            total += len(payload)
        peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        print(f"{total} {peak_mb:.0f}")
    """) % (REPO,)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True)
    total, peak_mb = out.stdout.split()
    # ~320 MB of input; holding it all would need >400 MB + temporaries
    assert float(peak_mb) < 1200, f"peak RSS {peak_mb} MB"
    assert int(total) > 0


def _fsst_barrier_worker(data_bytes, barrier, out, i):
    import time

    import numpy as np

    from orc_haskell_spark.codecs import fsst

    data = np.frombuffer(data_bytes, np.uint8)
    tab = fsst.train(data)
    barrier.wait()
    t0 = time.perf_counter()
    fsst.compress(data, tab)
    out[i] = time.perf_counter() - t0


def test_concurrent_kernel_scaling():
    """More concurrent encode workers must INCREASE aggregate FSST
    throughput (regression gate for the 25 MB working-set collapse,
    where 32 workers ran slower in aggregate than 8). Barrier-started
    SPAWNED processes (never fork: the session-scoped Spark JVM makes
    forked children abort nondeterministically), 12 MB per worker;
    generous floor to stay robust to host noise."""
    import multiprocessing as mp

    import pyarrow.parquet as pq

    ctx = mp.get_context("spawn")
    t = pq.read_table("/root/testdata/sf0.01/documents.parquet")
    txt = "".join(t.column("text").to_pylist())
    big = (txt * (12_000_000 // len(txt) + 1))[:12_000_000].encode()
    mb = len(big) / 1e6

    # Worker counts follow the cores this process may use (16 and 4 on a
    # host with 16 or more): workers past the core count only time-slice,
    # and the per-worker throughput sum then measures the scheduler, not
    # the kernel's working set.
    hi = min(16, len(os.sched_getaffinity(0)))
    lo = max(1, hi // 4)

    def measure() -> dict:
        agg = {}
        for nproc in (lo, hi):
            barrier = ctx.Barrier(nproc)
            out = ctx.Array("d", nproc)
            ps = [ctx.Process(target=_fsst_barrier_worker,
                              args=(big, barrier, out, i))
                  for i in range(nproc)]
            [p.start() for p in ps]
            [p.join() for p in ps]
            agg[nproc] = sum(mb / x for x in out)
        return agg

    # 4x workers must buy at least 1.5x aggregate (collapse gave <1x).
    # One re-measure on failure: a co-tenant burst during either leg
    # skews the ratio both ways; a REAL collapse fails twice in a row.
    agg = measure()
    if not agg[hi] > 1.5 * agg[lo]:
        agg = measure()
    assert agg[hi] > 1.5 * agg[lo], agg


def test_constant_memory_orc_write():
    """The whole-file ORC writer must stream stripe-at-a-time: peak RSS
    while writing a file much larger than one stripe stays bounded by
    the stripe size, not the file size (reference putOrcStream property,
    test/Test/Orc/Memory/Leaks.hs:41-131). Runs in a subprocess so other
    tests' RSS high-water marks can't mask a regression."""
    import subprocess
    import sys

    code = r"""
import resource, sys
import numpy as np, pyarrow as pa
from orc_haskell_spark.orcfile.writer import write_orc
from orc_haskell_spark.orcfile.reader import ORCFile

ROWS, NBATCH = 1 << 20, 48   # 48 x 8 MB float64 = 384 MB of input

def gen():
    for i in range(NBATCH):
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.arange(i * ROWS, (i + 1) * ROWS, dtype=np.float64))],
            names=["x"])

base = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
info = write_orc(gen(), sys.argv[1], compression="NONE",
                 stripe_rows=ROWS, stripe_bytes=32 << 20)
peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
assert info["rows"] == ROWS * NBATCH, info
f = ORCFile(sys.argv[1])
assert sum(s["numberOfRows"] for s in f.stripes) == ROWS * NBATCH
grew_mb = (peak - base) / 1024
assert grew_mb < 150, f"writer RSS grew {grew_mb:.0f} MB for a 384 MB file"
print(f"rss_growth_mb={grew_mb:.0f} stripes={info['stripes']}")
"""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        r = subprocess.run(
            [sys.executable, "-c", code, f"{d}/big.orc"],
            capture_output=True, text=True, cwd=REPO, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "rss_growth_mb=" in r.stdout


def test_native_fsst_floor():
    """With the C kernel available, single-core FSST encode of real text
    must stay well above the round-2 bound (20 MB/s) — a regression to
    the numpy path inside the dispatcher would show up here. Generous
    floor (100 MB/s vs ~550 measured) to survive host noise."""
    import time

    import pyarrow.parquet as pq

    from orc_haskell_spark.codecs import fsst, native

    if native.load() is None:
        import pytest
        pytest.skip("no C compiler")
    t = pq.read_table("/root/testdata/sf0.01/documents.parquet")
    txt = "".join(t.column("text").to_pylist())
    data = np.frombuffer((txt * (12_000_000 // len(txt) + 1))
                         .encode()[:12_000_000], np.uint8)
    tab = fsst.train(data)
    fsst.compress(data[:1 << 16], tab)  # warm
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        fsst.compress(data, tab)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    mbps = data.size / best / 1e6
    assert mbps > 100, f"native FSST encode {mbps:.0f} MB/s"


def test_native_kernels_build_from_zip_artifact(tmp_path):
    """spark-submit --py-files ships the package as a ZIP: the .c kernel
    sources must be readable through pkgutil from inside the zip and
    compile on first use in that deployment shape too."""
    import subprocess
    import sys

    subprocess.run(["bash", "scripts/build_artifact.sh"], check=True,
                   cwd=REPO, capture_output=True)
    code = r"""
import sys, os
os.environ["ORC_HS_NATIVE_DIR"] = sys.argv[1]
sys.path.insert(0, sys.argv[2])
import numpy as np
from orc_haskell_spark.codecs import native, rle2
assert "orc_haskell_spark.zip" in native.__file__
assert native.load() is not None
v = np.arange(5000, dtype=np.int64) * 3
assert np.array_equal(
    rle2.decode(np.frombuffer(rle2.encode(v, True), np.uint8), True), v)
print("OK")
"""
    env = {k: v for k, v in os.environ.items()
           if k != "ORC_HS_NO_NATIVE"}  # this test IS the compile path
    r = subprocess.run([sys.executable, "-c", code, str(tmp_path),
                        os.path.join(REPO, "dist", "orc_haskell_spark.zip")],
                       capture_output=True, text=True, cwd="/tmp",
                       timeout=240, env=env)
    assert r.returncode == 0 and "OK" in r.stdout, r.stderr[-1500:]
