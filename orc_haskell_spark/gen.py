"""Deterministic synthetic Common-Crawl-style pages table (FIXTURES.md F1).

Schema (BASELINE.json input_hint):
  url:string, warc_ts:timestamp, html:binary (~3% null), text:string,
  lang:string

Generation is counter-indexed: every field of row i is a pure function of
i (splitmix64 hash lanes), so any partition regenerates independently —
required for resume tests and for distributed generation via
spark.range(n).mapInArrow(...). No external data, no RNG state.

Skew knobs per FIXTURES.md: domains ~ Zipf(s=1.2) over 1000 (hot-key
skew for the salting path), lang P(en)=0.55 / P(zh)=0.10 / long tail,
text word soup over a 10k-word vocabulary with Zipf frequencies,
warc_ts monotone-ish (800 ms mean gaps, hour jumps every 10k rows).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SEED = 42
N_DOMAINS = 1000
N_LANGS = 40
VOCAB_SIZE = 10000
T0_US = 1704067200_000_000  # 2024-01-01T00:00:00Z
PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")

_U = np.uint64


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized uint64 -> uint64."""
    with np.errstate(over="ignore"):
        z = (x + _U(0x9E3779B97F4A7C15))
        z = (z ^ (z >> _U(30))) * _U(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U(27))) * _U(0x94D049BB133111EB)
        return z ^ (z >> _U(31))


def _lane(ids: np.ndarray, lane: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        return _mix(ids * _U(0x2545F4914F6CDD1D) + _U(SEED * 1315423911 + lane))


def _unit(ids: np.ndarray, lane: int) -> np.ndarray:
    """Deterministic uniform [0,1) per row."""
    # * 2.0**-64 not / 2**64: the Python-int scalar overflows int64
    # and numpy drops to a pathological slow path (~50x); a power-of-
    # two multiply is bit-identical (pure exponent shift)
    return _lane(ids, lane).astype(np.float64) * 2.0**-64


# ---- static vocabularies (deterministic at import) ----

def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(w) / w.sum()

_DOMAIN_CDF = _zipf_cdf(N_DOMAINS, 1.2)
_TLDS = ["com", "org", "net", "io", "edu"]
_DOMAINS = np.array(
    [f"d{i:03d}.example.{_TLDS[i % len(_TLDS)]}" for i in range(N_DOMAINS)],
    dtype=object)

_LANG_CODES = np.array(
    ["en", "zh", "de", "fr", "es", "ja", "ru", "pt", "it", "nl", "pl", "tr",
     "ko", "ar", "sv", "cs", "fi", "hu", "da", "no", "ro", "el", "bg", "uk",
     "he", "th", "vi", "id", "ms", "hi", "bn", "ta", "fa", "sr", "sk", "sl",
     "hr", "lt", "lv", "et"], dtype=object)
_lw = np.concatenate(([0.55, 0.10], 0.35 * _zipf_cdf(N_LANGS - 2, 1.0)[::-1][0]
                      * (0.7 ** np.arange(N_LANGS - 2))))
_LANG_CDF = np.cumsum(_lw / _lw.sum())

_CONS = "bcdfghjklmnpqrstvwz"
_VOWS = "aeiou"


def _make_vocab() -> np.ndarray:
    rng = np.random.default_rng(SEED)
    words = []
    for i in range(VOCAB_SIZE):
        n_syll = 1 + int(rng.integers(0, 4))
        w = "".join(_CONS[rng.integers(0, len(_CONS))] + _VOWS[rng.integers(0, len(_VOWS))]
                    for _ in range(n_syll))
        words.append(w)
    return np.array(words, dtype=object)

_VOCAB = _make_vocab()
_VOCAB_PA = pa.array(_VOCAB.tolist(), pa.string())
_BOILER = (b'<div class="sec"><span>nav</span><a href="/l">link</a></div>')


_B36 = np.frombuffer(b"0123456789abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_B36_WIDTH = 9  # fixed-width base36: unique up to 36^9 ≈ 1.0e14 rows


def _base36_fixed(ids: np.ndarray) -> pa.Array:
    """Vectorized fixed-width base36 of row ids -> string array."""
    n = ids.size
    chars = np.empty((n, _B36_WIDTH), dtype=np.uint8)
    v = ids.copy()
    for k in range(_B36_WIDTH - 1, -1, -1):
        chars[:, k] = _B36[(v % np.uint64(36)).astype(np.int64)]
        v //= np.uint64(36)
    from .codecs.strings import build_string_array

    return build_string_array(chars.ravel(),
                              np.full(n, _B36_WIDTH, dtype=np.int64),
                              pa.string())


def _dict_strings(indices: np.ndarray, values, typ=None) -> pa.Array:
    """Gather from a small vocabulary via Arrow take (vectorized)."""
    dic = values if isinstance(values, pa.Array) else pa.array(
        list(values), typ or pa.string())
    return dic.take(pa.array(indices.astype(np.int64)))


def pages_batch(start: int, n: int) -> pa.RecordBatch:
    """Rows [start, start+n) of the deterministic pages table."""
    ids = np.arange(start, start + n, dtype=np.uint64)

    # url = https://{domain}/{base36(id)}
    dom_idx = np.searchsorted(_DOMAIN_CDF, _unit(ids, 1))
    domains = _dict_strings(dom_idx, _DOMAINS.tolist())
    urls = pc.binary_join_element_wise(
        pa.scalar("https://"), domains, pa.scalar("/"), _base36_fixed(ids),
        pa.scalar(""))

    # warc_ts: closed-form monotone-ish crawl time
    jitter = (_lane(ids, 2) % _U(600_000)).astype(np.int64)
    ts = (T0_US + ids.astype(np.int64) * 800_000
          + (ids.astype(np.int64) // 10_000) * 3_600_000_000 + jitter)
    warc_ts = pa.array(ts, pa.timestamp("us", tz="UTC"))

    # lang
    lang_idx = np.minimum(np.searchsorted(_LANG_CDF, _unit(ids, 3)), N_LANGS - 1)
    langs = _dict_strings(lang_idx, _LANG_CODES.tolist())

    # text: word soup, Zipf word frequencies, ~20-400 words
    wc = (20 + (_unit(ids, 4) ** 2 * 380)).astype(np.int64)
    total = int(wc.sum())
    row_of = np.repeat(ids, wc)
    j = np.arange(total, dtype=np.uint64) - np.repeat(np.cumsum(wc) - wc, wc).astype(np.uint64)
    with np.errstate(over="ignore"):
        wu = _mix(row_of * _U(0x9E3779B97F4A7C15) + j * _U(0xD1B54A32D192ED03) + _U(SEED))
    # x*x*x instead of x**3: numpy routes `** 3` through libm pow at
    # ~220 ns/element — 200 ms of a 250 ms batch, 80% of generation
    # wall. The cube can differ from pow() in the last ulp, but the
    # fixture only consumes floor(x^3 * VOCAB_SIZE): verified
    # mismatch-free over the exact formula for ids 0..400k (58M words)
    # plus 167M dense _mix outputs, so the emitted table is
    # byte-identical where any driver scale reaches.
    xu = wu.astype(np.float64) * 2.0**-64  # see _unit: / 2**64 is ~50x slower
    word_idx = (xu * xu * xu * VOCAB_SIZE).astype(np.int64)
    flat_words = _dict_strings(np.minimum(word_idx, VOCAB_SIZE - 1), _VOCAB_PA)
    off = np.zeros(n + 1, dtype=np.int64)
    off[1:] = np.cumsum(wc)
    off = off.astype(np.int32)
    word_lists = pa.ListArray.from_arrays(pa.array(off, pa.int32()), flat_words)
    texts = pc.binary_join(word_lists, " ")

    # html: template-wrapped text with boilerplate padding, ~3% null
    is_null = _unit(ids, 5) < 0.03
    pad_blocks = (1 + _unit(ids, 6) * 6).astype(np.int64)
    pads = _dict_strings(pad_blocks, [_BOILER * k for k in range(8)], pa.binary())
    title = pc.utf8_slice_codeunits(texts, 0, 32)
    html_all = pc.binary_join_element_wise(
        pa.scalar(b"<html><head><title>").cast(pa.binary()),
        title.cast(pa.binary()),
        pa.scalar(b"</title></head><body>").cast(pa.binary()),
        pads,
        pa.scalar(b"<main>").cast(pa.binary()),
        texts.cast(pa.binary()),
        pa.scalar(b"</main></body></html>").cast(pa.binary()),
        pa.scalar(b"").cast(pa.binary()),  # separator
    )
    htmls = pc.if_else(pa.array(~is_null), html_all, pa.scalar(None, pa.binary()))

    return pa.RecordBatch.from_arrays(
        [urls, warc_ts, htmls, texts, langs],
        names=["url", "warc_ts", "html", "text", "lang"])


def pages_df(spark, n_rows: int, num_partitions: int | None = None):
    """Distributed deterministic pages table as a Spark DataFrame."""
    import pyarrow as pa  # re-import for executor pickling

    def gen_fn(batches):
        from orc_haskell_spark.engine import worker_setup

        worker_setup()
        for b in batches:
            ids = b.column("id").to_numpy()
            if len(ids) == 0:
                continue
            # ids from spark.range are contiguous per batch
            yield pages_batch(int(ids[0]), len(ids))

    rng_df = spark.range(0, n_rows, 1, num_partitions)
    return rng_df.mapInArrow(gen_fn, PAGES_DDL)


def pages_table(start: int, n: int, batch_rows: int = 20000) -> pa.Table:
    """Local (driver-side) pages table for unit tests."""
    batches = [pages_batch(s, min(batch_rows, start + n - s))
               for s in range(start, start + n, batch_rows)]
    return pa.Table.from_batches(batches)
