"""scripts/encode_job.py --float-codec: the ship path reaches the ALP/
raw knob, the choice lands in persisted stripe footers, and the
resume config-guard treats a codec change as a different job."""

import glob
import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*argv, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "encode_job.py"),
         *argv],
        capture_output=True, text=True, timeout=timeout,
        env=dict(os.environ, PYTHONPATH=REPO), cwd=REPO)


def test_encode_job_float_codec_alp(tmp_path):
    src = str(tmp_path / "src.parquet")
    prices = np.round(np.random.default_rng(0).uniform(0, 100, 5000), 2)
    pq.write_table(pa.table({
        "k": pa.array(np.arange(5000, dtype=np.int64)),
        "price": pa.array(prices)}), src)
    out = str(tmp_path / "enc")
    r = _run("--input", src, "--output", out, "--fused",
             "--partitions", "1", "--float-codec", "alp")
    assert r.returncode == 0, r.stderr[-3000:]

    parts = glob.glob(os.path.join(out, "stripes", "**", "*.parquet"),
                      recursive=True)
    assert parts
    stripes = pa.concat_tables([pq.read_table(p) for p in parts])
    footer = json.loads(stripes.column("footer")[0].as_py())
    price_meta = next(c["meta"] for c in footer["columns"]
                      if c["name"] == "price")
    assert price_meta["codec"] == "alp"
    assert footer["v"] == 4

    # decoded values are bit-identical to the source
    from orc_haskell_spark import stripe as stripe_mod
    got = {}
    for i in range(stripes.num_rows):
        f = json.loads(stripes.column("footer")[i].as_py())
        batch = stripe_mod.decode_stripe(
            f, stripes.column("data")[i].as_py())
        for k, p in zip(batch.column("k").to_pylist(),
                        np.asarray(batch.column("price"))):
            got[k] = p
    dec = np.array([got[k] for k in range(5000)])
    assert np.array_equal(dec.view(np.uint64), prices.view(np.uint64))

    # a different float codec is a different job: resume must refuse
    r2 = _run("--input", src, "--output", out, "--fused",
              "--partitions", "1", "--float-codec", "raw")
    assert r2.returncode != 0
    assert "config" in (r2.stderr + r2.stdout).lower()
