"""One cold start of the program's worker path, run in a fresh
interpreter by run.py to measure set-up time:

    python3 -m perfbench.cold_start <parquet file>

It imports the package, loads the native kernels and pushes a small
parquet input once through the encode and decode worker functions the
Spark tasks run.
"""

from __future__ import annotations

import sys


def main(path: str) -> None:
    import pyarrow.parquet as pq

    from orc_haskell_spark import engine
    from orc_haskell_spark.codecs import native

    if native.load() is None:
        raise SystemExit("native kernels did not load")
    batches = pq.read_table(path).to_batches()
    encoded = list(engine.make_encode_fn()(iter(batches)))
    decoded = list(engine.decode_fn(iter(encoded)))
    if sum(b.num_rows for b in decoded) != sum(b.num_rows for b in batches):
        raise SystemExit("cold-start round trip lost rows")


if __name__ == "__main__":
    main(*sys.argv[1:])
