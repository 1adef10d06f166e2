"""Seeded benchmark inputs. The package only ever sees the files these
functions write; the seed never reaches it.

- pages: the F1 pages generator (``gen.pages_table``); the seed picks
  the generator's row offset, so every seed is a different slice of
  the same distribution.
- lineitem: a TPC-H-shaped lineitem table built here from a FIXED
  generator seed (sizes and value distributions do not move between
  runs); the benchmark seed picks a rotation of the row order.
- WARC files for the traced ingest replay: gzip WARC (one gzip member
  per record, the Common-Crawl layout) holding the first pages rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are set by the time budget: a run (JVM start, warm-up, input
# generation, the timed window and the checks) must stay under a minute.
PAGES_ROWS = 100_000
PAGES_ROW_GROUPS = 16
LINEITEM_ROWS = 2_400_000


def pages_offset(seed: int) -> int:
    return (seed % 9973) * 100_003


def pages_table(seed: int, n: int) -> pa.Table:
    from orc_haskell_spark import gen

    return gen.pages_table(pages_offset(seed), n)


def write_parquet(table: pa.Table, out_dir: str, n_files: int,
                  row_groups_per_file: int) -> list[str]:
    """``table`` as ``n_files`` uncompressed parquet files of
    ``row_groups_per_file`` row groups each: the fused paths split on
    row groups, so this fixes the number of scan splits."""
    os.makedirs(out_dir, exist_ok=True)
    per_file = -(-table.num_rows // n_files)
    rg_rows = -(-per_file // row_groups_per_file)
    paths = []
    for i in range(n_files):
        part = table.slice(i * per_file, per_file)
        p = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(part, p, row_group_size=rg_rows, compression="NONE")
        paths.append(p)
    return paths


_LINEITEM_GEN_SEED = 20240101
_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = 694_224_000  # 1992-01-01T00:00:00Z in seconds
_CURRENT_DAY = 1263        # 1995-06-17 in days after 1992-01-01


def lineitem_table(seed: int, n: int = LINEITEM_ROWS) -> pa.Table:
    """TPC-H lineitem columns with the spec's value domains: orders of
    1-7 lines with ascending keys, prices derived from the part key,
    flags derived from the ship date. Row order is rotated by ``seed``."""
    rng = np.random.default_rng(_LINEITEM_GEN_SEED)
    lines = rng.integers(1, 8, size=n // 3 + 8)
    ends = np.cumsum(lines)
    n_orders = int(np.searchsorted(ends, n)) + 1
    lines, ends = lines[:n_orders], ends[:n_orders]
    order_of = np.repeat(np.arange(n_orders), lines)[:n]
    starts = ends - lines
    linenumber = (np.arange(n) - starts[order_of] + 1).astype(np.int32)
    # TPC-H order keys are sparse: 8 used keys per 32
    okeys = (np.arange(n_orders) // 8) * 32 + np.arange(n_orders) % 8 + 1
    orderdate = rng.integers(0, 2405, size=n_orders)[order_of]
    partkey = rng.integers(1, 20_001, size=n)
    suppkey = (partkey + rng.integers(0, 4, size=n) * 251) % 1000 + 1
    quantity = rng.integers(1, 51, size=n).astype(np.float64)
    retail = (90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1000)) / 100
    extprice = np.round(quantity * retail, 2)
    discount = rng.integers(0, 11, size=n) / 100
    tax = rng.integers(0, 9, size=n) / 100
    shipday = orderdate + rng.integers(1, 122, size=n)
    shipped = shipday <= _CURRENT_DAY
    rflag = np.where(shipped, np.where(rng.random(n) < 0.5, "R", "A"), "N")
    lstatus = np.where(shipped, "F", "O")
    ship_us = (_EPOCH_1992 * 1_000_000 + shipday * _DAY_US).astype(np.int64)
    cols = {
        "l_orderkey": pa.array(okeys[order_of].astype(np.int64)),
        "l_partkey": pa.array(partkey.astype(np.int64)),
        "l_suppkey": pa.array(suppkey.astype(np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(extprice),
        "l_discount": pa.array(discount),
        "l_tax": pa.array(tax),
        "l_returnflag": pa.array(rflag.tolist(), pa.string()),
        "l_linestatus": pa.array(lstatus.tolist(), pa.string()),
        "l_shipdate": pa.array(ship_us, pa.timestamp("us")),
    }
    table = pa.table(cols)
    shift = (seed * 7919) % n
    return pa.concat_tables([table.slice(shift), table.slice(0, shift)]) \
        .combine_chunks()


def write_warc_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    """The pages rows (url, warc_ts, html) as ``n_files`` gzip WARC
    files; null-html rows become metadata records, as in a crawl."""
    from orc_haskell_spark import warc

    os.makedirs(out_dir, exist_ok=True)
    urls = table.column("url").to_pylist()
    ts = table.column("warc_ts").cast(pa.int64()).to_pylist()
    html = table.column("html").to_pylist()
    per = -(-len(urls) // n_files)
    for i in range(n_files):
        s = slice(i * per, (i + 1) * per)
        warc.write_warc_file(os.path.join(out_dir, f"part-{i:03d}.warc.gz"),
                             zip(urls[s], ts[s], html[s]))
