"""WARC source/sink: Common-Crawl-style web-archive ingestion.

The north rule's input is an Iceberg table of Common-Crawl-style pages
(url, warc_ts, html, ...) — but the crawl itself arrives as WARC files
(ISO 28500: WARC/1.0-1.1 records, one gzip member per record in the
Common-Crawl layout). This module closes the front end of the pipeline:

  read_warc(spark, path)  -> DataFrame(url, warc_ts, status,
                                       content_type, html)
  write_warc(df, out_dir) -> lazy summary DataFrame (one .warc.gz per
                             partition, rename-on-commit like the
                             encode sinks)

Scale shape: scan units are file chunks. A bare gzip stream has no
random access, so unindexed files are scanned per FILE (Common Crawl
ships ~64k files per crawl at ~1 GB each — file granularity already
saturates any cluster); files carrying a ``.cdx`` sidecar (this
module's writer emits them; Common Crawl publishes equivalents) are
split at record boundaries into ~64 MB byte ranges, so one fat archive
becomes parallel chunks instead of a straggler. Chunks are split rows
of the one fused-scan planner in ``sources.py``: LPT-packed onto tasks
by byte weight (``sources.lpt_buckets``) and launched as one stage by
``sources.SplitPlan``, exactly like parquet row groups and ORC
stripes. Within a task the reader is streaming: gzip members
are inflated one at a time (bounded memory ≈ one record, regardless of
archive size) and rows leave as Arrow batches.

Robustness: per-record gzip members double as resync points — with
``strict=False`` a corrupt record loses only its own member, the reader
counts it and moves to the next member (the Common-Crawl operational
story). ``strict=True`` (default) raises with the file and offset.

Pure stdlib (zlib, no warcio) — nothing here is derived from the
reference repo, which has no WARC support at all; this is engine
surface the reference lacks.
"""

from __future__ import annotations

import io
import uuid
import zlib
from typing import Iterable, Iterator

import pyarrow as pa

WARC_DDL = ("url string, warc_ts timestamp, status int, "
            "content_type string, html binary")
WRITE_SUMMARY_DDL = "file string, n_records bigint, nbytes bigint"

_EPOCH_DAY0 = 719468  # days from 0000-03-01 to 1970-01-01 (civil calc)
_CHUNK = 1 << 20


# ---------------------------------------------------------------------------
# dates


def format_warc_date(ts_us: int) -> str:
    """Microseconds-since-epoch (UTC) -> WARC-Date string. Whole-second
    timestamps use the WARC/1.0 form (YYYY-MM-DDThh:mm:ssZ); fractional
    ones the WARC/1.1 form with 6 digits — both are valid ISO 8601 and
    the parser accepts either, so precision survives a roundtrip."""
    import datetime as dt

    t = dt.datetime.fromtimestamp(ts_us // 1_000_000, dt.timezone.utc)
    frac = ts_us % 1_000_000
    base = t.strftime("%Y-%m-%dT%H:%M:%S")
    return f"{base}.{frac:06d}Z" if frac else base + "Z"


def parse_warc_date(s: str) -> int:
    """WARC-Date -> microseconds since epoch (UTC). Accepts second and
    fractional-second forms, 'Z' or '+00:00' suffix."""
    import datetime as dt

    s = s.strip()
    if s.endswith("Z"):
        s = s[:-1] + "+00:00"
    t = dt.datetime.fromisoformat(s)
    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    return int(t.timestamp()) * 1_000_000 + t.microsecond


# ---------------------------------------------------------------------------
# record formatting (writer)


def http_response_payload(html: bytes,
                          content_type: str = "text/html; charset=utf-8",
                          status: int = 200,
                          reason: str = "OK") -> bytes:
    head = (f"HTTP/1.1 {status} {reason}\r\n"
            f"Content-Type: {content_type}\r\n"
            f"Content-Length: {len(html)}\r\n\r\n").encode("ascii")
    return head + html


def format_record(rtype: str, headers: dict, payload: bytes) -> bytes:
    """One WARC/1.0 record block (headers + payload + record boundary).
    ``headers`` must not include WARC-Type or Content-Length."""
    lines = [b"WARC/1.0\r\n", f"WARC-Type: {rtype}\r\n".encode()]
    for k, v in headers.items():
        lines.append(f"{k}: {v}\r\n".encode())
    lines.append(f"Content-Length: {len(payload)}\r\n\r\n".encode())
    return b"".join(lines) + payload + b"\r\n\r\n"


def _record_id(url: str, date: str) -> str:
    # deterministic (uuid5 = SHA-1 of the name): resumable re-runs
    # rewrite byte-identical records, so rename-on-commit is idempotent
    return f"<urn:uuid:{uuid.uuid5(uuid.NAMESPACE_URL, f'{url}|{date}')}>"


def _gzip_member(block: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, 31)  # wbits 31 = gzip header
    return co.compress(block) + co.flush()


def write_warc_file(path: str, rows: Iterable[tuple],
                    gzip_members: bool = True,
                    warcinfo: bool = True,
                    fileobj=None,
                    index: list | None = None) -> int:
    """Write rows of (url, ts_us, html_bytes_or_None) as a WARC file:
    one gzip member per record (Common-Crawl layout) or plain WARC.
    A row with html=None becomes a ``metadata`` record (the URL was
    seen but carries no capture) — readers skip it. Returns the number
    of records written (including warcinfo).

    ``index`` (a list, appended in place) collects one
    (offset, length, rtype) entry per record — byte offsets into the
    file as written (compressed member offsets for gzip) — the raw
    material for the CDX sidecar that makes archives SPLITTABLE."""
    out = fileobj if fileobj is not None else open(path, "wb")
    n = 0
    pos = 0
    try:
        def emit(block: bytes, rtype: str):
            nonlocal n, pos
            b = _gzip_member(block) if gzip_members else block
            out.write(b)
            if index is not None:
                index.append((pos, len(b), rtype))
            pos += len(b)
            n += 1

        if warcinfo:
            import os.path

            info = b"format: WARC File Format 1.0\r\n"
            date = format_warc_date(0)
            # basename, not full path: output bytes must not depend on
            # where the file lands (idempotent re-runs, staging dirs)
            emit(format_record("warcinfo", {
                "WARC-Record-ID": _record_id(
                    "warcinfo:" + os.path.basename(str(path)), date),
                "WARC-Date": date,
                "Content-Type": "application/warc-fields",
            }, info), "warcinfo")
        for url, ts_us, html in rows:
            date = format_warc_date(int(ts_us))
            if html is None:
                emit(format_record("metadata", {
                    "WARC-Record-ID": _record_id(url, date),
                    "WARC-Date": date,
                    "WARC-Target-URI": url,
                    "Content-Type": "application/warc-fields",
                }, b"capture: none\r\n"), "metadata")
            else:
                emit(format_record("response", {
                    "WARC-Record-ID": _record_id(url, date),
                    "WARC-Date": date,
                    "WARC-Target-URI": url,
                    "Content-Type": "application/http; msgtype=response",
                }, http_response_payload(bytes(html))), "response")
    finally:
        if fileobj is None:
            out.close()
    return n


# ---------------------------------------------------------------------------
# CDX sidecar index (record offsets -> splittable archives)

CDX_MAGIC = "#OHS-CDX 1"


def write_cdx(path: str, entries: list, fileobj=None) -> None:
    """Sidecar index for one WARC file: '<offset> <length> <rtype>'
    per record. Offsets are byte positions of gzip member starts (or
    raw record starts for plain .warc), so any entry is a valid seek
    point — the property that makes a 1 GB archive splittable across
    tasks (what Common Crawl's own cdx indexes exist for)."""
    lines = [CDX_MAGIC] + [f"{o} {ln} {rt}" for o, ln, rt in entries]
    data = ("\n".join(lines) + "\n").encode()
    if fileobj is not None:
        fileobj.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)


def read_cdx(path: str) -> list[tuple[int, int, str]]:
    from .sources import _resolve_fs

    fs, local = _resolve_fs(path)
    with fs.open_input_stream(local, compression=None) as f:
        text = f.read().decode()
    lines = text.splitlines()
    if not lines or lines[0] != CDX_MAGIC:
        raise ValueError(f"{path}: not an OHS-CDX v1 sidecar")
    out = []
    for ln in lines[1:]:
        if not ln.strip():
            continue
        o, n, rt = ln.split()
        out.append((int(o), int(n), rt))
    return out


# ---------------------------------------------------------------------------
# parsing (reader)


def _iter_gzip_members(f) -> Iterator[bytes]:
    """Inflate a multi-member gzip stream one member at a time (bounded
    memory: one inflated member + one IO chunk). A whole-file single
    member simply yields once. Truncated final member -> ValueError."""
    d = zlib.decompressobj(31)
    parts: list[bytes] = []
    fed = False
    data = f.read(_CHUNK)
    while data:
        fed = True
        out = d.decompress(data)
        if out:
            parts.append(out)
        if d.eof:
            yield b"".join(parts)
            parts = []
            fed = False
            rest = d.unused_data
            d = zlib.decompressobj(31)
            data = rest if rest else f.read(_CHUNK)
        else:
            data = f.read(_CHUNK)
    if fed or parts:
        raise ValueError("truncated gzip member at end of stream")


def _parse_header_block(buf, pos: int):
    """Parse header lines from ``buf`` at ``pos`` until the blank line.
    Tolerates \\r\\n and bare \\n endings and folded continuation lines.
    Returns (headers dict lower-keyed, first_line str, body_start) or
    None if the block is incomplete."""
    headers: dict[str, str] = {}
    first = None
    last_key = None
    while True:
        nl = buf.find(b"\n", pos)
        if nl < 0:
            return None
        line = bytes(buf[pos:nl]).rstrip(b"\r")
        pos = nl + 1
        if not line:
            return headers, first or "", pos
        text = line.decode("utf-8", "replace")
        if first is None:
            first = text
            continue
        if text[0] in " \t" and last_key:  # folded continuation
            headers[last_key] += " " + text.strip()
            continue
        k, sep, v = text.partition(":")
        if not sep:
            raise ValueError(f"malformed header line {text!r}")
        last_key = k.strip().lower()
        headers[last_key] = v.strip()


def _decode_chunked(body: bytes) -> bytes:
    out = []
    pos = 0
    while True:
        nl = body.find(b"\n", pos)
        if nl < 0:
            raise ValueError("truncated chunked encoding")
        size_tok = body[pos:nl].split(b";")[0].strip()
        size = int(size_tok, 16)
        pos = nl + 1
        if size == 0:
            break
        out.append(body[pos:pos + size])
        if len(out[-1]) != size:
            raise ValueError("truncated chunk body")
        pos += size
        if body[pos:pos + 2] == b"\r\n":
            pos += 2
        elif body[pos:pos + 1] == b"\n":
            pos += 1
    return b"".join(out)


def parse_http_response(payload: bytes):
    """(status, content_type, body) from an HTTP response block. A
    payload that does not start with HTTP/ (e.g. a ``resource`` record)
    is returned whole as the body with no status."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    parsed = _parse_header_block(payload, 0)
    if parsed is None:  # header block never terminated: headers only
        return None, None, b""
    headers, first, body_start = parsed
    toks = first.split()
    status = int(toks[1]) if len(toks) > 1 and toks[1].isdigit() else None
    ctype = headers.get("content-type")
    body = payload[body_start:]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _decode_chunked(body)
    elif "content-length" in headers:
        try:
            body = body[:int(headers["content-length"])]
        except ValueError:
            pass  # unparseable length: keep the rest
    return status, ctype, body


def iter_warc_records(buf: bytes) -> Iterator[tuple[dict, bytes, int]]:
    """All complete (warc_headers, payload, end_offset) records in
    ``buf``. Raises ValueError on a structurally broken record; a
    record truncated at the end of the buffer stops iteration (the
    caller decides whether the source promised more bytes)."""
    pos = 0
    n = len(buf)
    while True:
        while pos < n and buf[pos] in (0x0D, 0x0A):  # inter-record CRLFs
            pos += 1
        if pos >= n:
            return
        if buf[pos:pos + 5] != b"WARC/":
            raise ValueError(f"expected WARC/ version line at offset {pos}")
        parsed = _parse_header_block(buf, pos)
        if parsed is None:
            return  # incomplete header block at buffer end
        headers, _first, body_start = parsed
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError(
                f"record at offset {pos} has no valid Content-Length")
        if body_start + clen > n:
            return  # truncated payload at buffer end
        yield headers, buf[body_start:body_start + clen], body_start + clen
        pos = body_start + clen


def _row_from_record(headers: dict, payload: bytes):
    """(url, ts_us, status, content_type, html) for a response record,
    None for any other type (warcinfo, request, metadata, ...)."""
    if headers.get("warc-type") != "response":
        return None
    url = headers.get("warc-target-uri", "")
    ts_us = parse_warc_date(headers["warc-date"]) \
        if "warc-date" in headers else 0
    status, ctype, body = parse_http_response(payload)
    return url, ts_us, status, ctype, body


class _RangeReader:
    """read(n)-capped view of [start, end) of a random-access file —
    the byte-range scan a CDX chunk runs over."""

    def __init__(self, f, start: int, end: int):
        f.seek(start)
        self._f = f
        self._left = end - start

    def read(self, n: int = -1) -> bytes:
        # no-arg read = rest of range (the plain-.warc scan path)
        if self._left <= 0:
            return b""
        b = self._f.read(self._left if n is None or n < 0
                         else min(n, self._left))
        self._left -= len(b)
        return b


def iter_warc_file(path: str, strict: bool = True,
                   errors: list | None = None,
                   start: int = 0, end: int | None = None
                   ) -> Iterator[tuple]:
    """Stream (url, ts_us, status, content_type, html) rows from one
    .warc / .warc.gz file. With ``strict=False`` a structurally broken
    RECORD loses only its own gzip member (parsing resyncs at the next
    member boundary — the Common-Crawl per-record-member layout makes
    that exact); corrupt gzip BYTES lose the file's remainder (deflate
    has no self-synchronizing frame to resync on). ``errors`` (if
    given) collects (path, message) per skipped stretch.

    ``start``/``end`` scan only that byte range — valid when ``start``
    and ``end`` are record boundaries (gzip member starts), i.e. they
    come from the CDX sidecar."""
    from .sources import _resolve_fs

    fs, local = _resolve_fs(path)
    if start or end is not None:
        f = fs.open_input_file(local)
        try:
            size = f.size()
            yield from _iter_stream(
                _RangeReader(f, start, end if end is not None else size),
                path, strict, errors)
        finally:
            f.close()
        return
    # compression=None: pyarrow would otherwise auto-inflate .gz as one
    # opaque stream — we need the raw bytes for member-level resync
    with fs.open_input_stream(local, compression=None) as raw:
        yield from _iter_stream(raw, path, strict, errors)


def _iter_stream(raw, path: str, strict: bool,
                 errors: list | None) -> Iterator[tuple]:
    if path.endswith(".gz"):
        member_iter = _iter_gzip_members(raw)
    else:
        member_iter = iter((raw.read(),))
    pending = b""
    while True:
        try:
            member = next(member_iter)
        except StopIteration:
            break
        except (ValueError, zlib.error) as e:
            if strict:
                raise ValueError(f"{path}: {e}") from None
            if errors is not None:
                errors.append((path, str(e)))
            pending = b""
            break
        # records may span members (single-member archives do);
        # normally pending is empty and this is zero-copy
        buf = pending + member if pending else member
        consumed = 0
        try:
            for headers, payload, end in iter_warc_records(buf):
                consumed = end
                row = _row_from_record(headers, payload)
                if row is not None:
                    yield row
        except ValueError as e:
            if strict:
                raise ValueError(f"{path}: {e}") from None
            if errors is not None:
                errors.append((path, str(e)))
            pending = b""  # drop to the next member boundary
            continue
        pending = buf[consumed:] if consumed < len(buf) else b""
    if pending.strip(b"\r\n"):
        msg = "truncated final record"
        if strict:
            raise ValueError(f"{path}: {msg}")
        if errors is not None:
            errors.append((path, msg))


# ---------------------------------------------------------------------------
# Spark surface


def _list_warc_files(path: str) -> list[tuple[str, int]]:
    """[(path, nbytes)] of .warc/.warc.gz files under ``path``."""
    import pyarrow.fs as pafs

    from .sources import _resolve_fs

    fs, base = _resolve_fs(path)
    info = fs.get_file_info(base)
    if info.type == pafs.FileType.File:
        return [(path, info.size or 0)]
    sel = pafs.FileSelector(base, recursive=True)
    prefix = path[: len(path) - len(base)]
    out = [(prefix + i.path, i.size or 0)
           for i in fs.get_file_info(sel)
           if i.type == pafs.FileType.File
           and (i.path.endswith(".warc") or i.path.endswith(".warc.gz"))]
    return sorted(out)


DEFAULT_SPLIT_BYTES = 64 << 20


def _try_read_cdx(path: str):
    """Sidecar entries, or None when absent/foreign/torn — a bad index
    must degrade to a whole-file scan, never fail the job (only OUR
    writer's sidecars are readable; Common Crawl's cdx formats differ).
    One filesystem op per sidecar: absence surfaces as the open's own
    OSError, so no separate stat round-trip."""
    try:
        return read_cdx(path)
    except (ValueError, OSError):
        return None


def _file_chunks(files: list[tuple[str, int]],
                 split_bytes: int) -> list[tuple[tuple, int]]:
    """[((path, start, end), weight)] scan chunks. A file larger than
    ``split_bytes`` that carries a readable ``<file>.cdx`` sidecar is
    split at RECORD boundaries into ~split_bytes byte ranges — one 1 GB
    archive becomes ~16 parallel chunks instead of one straggler task.
    Files without a usable sidecar (or small ones) stay whole; end=-1
    means EOF. Sidecar stat+read is metadata-only IO, threaded on the
    driver like the parquet planner's footer reads."""
    from concurrent.futures import ThreadPoolExecutor

    big = [f for f, size in files if size > split_bytes]
    cdx_map: dict = {}
    if big:
        with ThreadPoolExecutor(min(16, len(big))) as pool:
            cdx_map = dict(zip(big, pool.map(
                lambda f: _try_read_cdx(f + ".cdx"), big)))
    chunks: list[tuple[tuple, int]] = []
    for f, size in files:
        entries = cdx_map.get(f) if size > split_bytes else None
        if not entries:
            chunks.append(((f, 0, -1), size))
            continue
        cur = None
        last_end = 0
        for off, ln, _rt in entries:
            if cur is None:
                cur = off
            last_end = off + ln
            if last_end - cur >= split_bytes:
                chunks.append(((f, cur, last_end), last_end - cur))
                cur = None
        if cur is not None:
            chunks.append(((f, cur, size), size - cur))
        elif last_end < size:  # trailing bytes past the indexed records
            chunks.append(((f, last_end, size), size - last_end))
    return chunks


CHUNK_SCHEMA = pa.schema([("file", pa.string()), ("start", pa.int64()),
                          ("nbytes", pa.int64()), ("end", pa.int64())])


def _chunk_plan(spark, files: list[tuple[str, int]], split_bytes: int,
                num_partitions: int | None):
    """``sources.SplitPlan`` of the scan chunks of ``files``: one
    (file, start, nbytes, end) split row per chunk, LPT-packed by bytes
    (``sources.lpt_buckets``) into ``num_partitions`` tasks, default one
    per core."""
    from . import sources

    rows = [(f, start, w, end)
            for (f, start, end), w in _file_chunks(files, split_bytes)]
    n = num_partitions or spark.sparkContext.defaultParallelism
    return sources.SplitPlan(spark, CHUNK_SCHEMA,
                             sources.lpt_buckets(rows, n), len(rows))


def read_warc(spark, path: str, num_partitions: int | None = None,
              strict: bool = True, extract: str | None = None,
              split_bytes: int = DEFAULT_SPLIT_BYTES):
    """Distributed WARC scan -> DataFrame(url, warc_ts, status,
    content_type, html[, text]). Scan units are file CHUNKS: whole
    files, or — when a file exceeds ``split_bytes`` and has a .cdx
    sidecar (write_warc emits them) — record-aligned byte ranges, so
    fat archives spread over tasks instead of straggling. Chunks are
    LPT-packed onto tasks by byte weight and launched like every fused
    scan (``sources.SplitPlan.map_in_arrow``: one stage, task k builds
    its chunk rows from the broadcast plan); each task streams its
    ranges (member-at-a-time inflate) and emits Arrow batches. Only
    file names + index offsets touch the driver.

    ``extract`` ('main' or 'visible') runs HTML->text extraction INSIDE
    the scan worker, appending a ``text`` column. This is the fused
    ingest path: chaining a second mapInArrow (extract_df) would ship
    every html payload Python->JVM->Python between the stages — a
    measured ~2x ingest slowdown. Same engineering as the fused encode
    paths: one crossing, total."""
    from .pipeline import extract as extract_mod

    files = _list_warc_files(path)
    if not files:
        raise ValueError(f"no .warc/.warc.gz files under {path!r}")
    plan = _chunk_plan(spark, files, split_bytes, num_partitions)
    if extract is not None and extract not in extract_mod._MODES:
        raise ValueError(f"extract={extract!r}: use 'main' or 'visible'")
    ddl = WARC_DDL + (", text string" if extract else "")

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from orc_haskell_spark.engine import worker_setup
        from orc_haskell_spark.pipeline import extract as xm

        worker_setup()
        rows: list[tuple] = []
        nbytes = 0

        def emit_rows() -> pa.RecordBatch:
            # extraction runs per ACCUMULATED BATCH (C kernel path in
            # pipeline/extract), not per record — same results, ~10x
            # cheaper than the per-row Python tokenizer
            if extract:
                texts = xm._BATCH_MODES[extract]([r[4] for r in rows])
                return _rows_batch(
                    [r + (t,) for r, t in zip(rows, texts)], extract)
            return _rows_batch(rows, extract)

        for b in batches:
            for f, start, end in zip(b.column("file").to_pylist(),
                                     b.column("start").to_pylist(),
                                     b.column("end").to_pylist()):
                for row in iter_warc_file(
                        f, strict=strict, start=start,
                        end=None if end < 0 else end):
                    rows.append(row)
                    nbytes += len(row[4] or b"")
                    if len(rows) >= 2048 or nbytes >= (64 << 20):
                        yield emit_rows()
                        rows, nbytes = [], 0
        if rows:
            yield emit_rows()

    return plan.map_in_arrow(scan, ddl)


def _rows_batch(rows: list[tuple], extract: str | None = None
                ) -> pa.RecordBatch:
    cols = list(zip(*rows))
    arrays = [
        pa.array(cols[0], pa.string()),
        pa.array(cols[1], pa.timestamp("us", tz="UTC")),
        pa.array(cols[2], pa.int32()),
        pa.array(cols[3], pa.string()),
        pa.array(cols[4], pa.binary()),
    ]
    names = ["url", "warc_ts", "status", "content_type", "html"]
    if extract:
        arrays.append(pa.array(cols[5], pa.string()))
        names.append("text")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def write_warc(df, out_dir: str, gzip_members: bool = True):
    """Pages-shaped DataFrame (url, warc_ts, html — extra columns
    ignored) -> one WARC file per partition under ``out_dir``, via the
    same rename-on-commit protocol as the encode sinks (a re-run task
    atomically replaces its own part, never corrupts a neighbor's).
    LAZY: returns the per-task summary DataFrame (file, n_records,
    nbytes); the job runs when it is acted on."""
    from pyspark import TaskContext

    ext = ".warc.gz" if gzip_members else ".warc"

    def write_part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from orc_haskell_spark.engine import worker_setup
        from orc_haskell_spark.sources import commit_part, task_output

        worker_setup()
        pid = TaskContext.get().partitionId()
        fs, staging, final = task_output(out_dir, None, f"{pid:05d}", ext)
        n = 0
        wrote = False
        idx: list = []
        # compression=None: members are already gzipped record-by-record
        with fs.open_output_stream(staging, compression=None) as out:
            buf = io.BufferedWriter(_ArrowSink(out), 1 << 20)
            first = True
            for b in batches:
                urls = b.column("url").to_pylist()
                ts = b.column("warc_ts").cast(pa.int64()).to_pylist()
                html = b.column("html").to_pylist()
                sub: list = []
                n += write_warc_file(
                    final, zip(urls, ts, html), gzip_members=gzip_members,
                    warcinfo=first, fileobj=buf, index=sub)
                # rebase the per-call offsets to the file position
                # (records are contiguous: prior end == current base)
                base = idx[-1][0] + idx[-1][1] if idx else 0
                idx.extend((base + o, ln, rt) for o, ln, rt in sub)
                first = False
                wrote = True
            buf.flush()
        if wrote:
            commit_part(fs, staging, final)
            # CDX sidecar (record offsets -> splittable re-reads),
            # committed AFTER the warc so a torn run never leaves an
            # index pointing at a missing file; readers treat a missing
            # sidecar as "scan whole file"
            tmp = staging + ".cdx"
            with fs.open_output_stream(tmp, compression=None) as cf:
                write_cdx(final + ".cdx", idx, fileobj=cf)
            commit_part(fs, tmp, final + ".cdx")
            size = fs.get_file_info(final).size or 0
            yield pa.RecordBatch.from_arrays(
                [pa.array([final]), pa.array([n], pa.int64()),
                 pa.array([size], pa.int64())],
                names=["file", "n_records", "nbytes"])
        else:
            fs.delete_file(staging)

    return df.select("url", "warc_ts", "html") \
        .mapInArrow(write_part, WRITE_SUMMARY_DDL)


PAGES_SUMMARY_DDL = "file string, n_rows bigint, nbytes bigint"


def write_pages_parquet(spark, warc_path: str, out_dir: str,
                        num_partitions: int | None = None,
                        strict: bool = True,
                        extract: str | None = "main",
                        status_range: tuple | None = (200, 299),
                        row_group_rows: int = 8192):
    """FUSED ingest sink: WARC scan + extraction + parquet write all
    inside the worker — the payload never crosses into the JVM (the
    same engineering as the fused encode sinks: the chunk plan launches
    through ``sources.SplitPlan``, so the JVM schedules task ids only).
    One pages parquet part per task via
    rename-on-commit; re-running a task rewrites its own part
    atomically. LAZY: returns the per-task summary DataFrame
    (file, n_rows, nbytes); the job runs when acted on.

    Output schema is the input_hint pages table:
    (url, warc_ts, html, text, lang) — lang is 'und' (language id is a
    Catalyst pass over the committed table; keeping one oracle-checked
    implementation beats a second in-worker twin)."""
    from pyspark import TaskContext

    from .pipeline import extract as extract_mod

    files = _list_warc_files(warc_path)
    if not files:
        raise ValueError(f"no .warc/.warc.gz files under {warc_path!r}")
    if extract is not None and extract not in extract_mod._MODES:
        raise ValueError(f"extract={extract!r}: use 'main' or 'visible'")
    plan = _chunk_plan(spark, files, DEFAULT_SPLIT_BYTES, num_partitions)
    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])

    def write_part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        from orc_haskell_spark.engine import worker_setup
        from orc_haskell_spark.pipeline import extract as xm
        from orc_haskell_spark.sources import commit_part, task_output

        worker_setup()
        pid = TaskContext.get().partitionId()
        fs, staging, final = task_output(out_dir, None, f"{pid:05d}")
        writer = None
        cols: list[list] = [[], [], [], [], []]
        n_rows = 0

        def flush():
            nonlocal writer, cols
            if not cols[0]:
                return
            # batch extraction at flush time (C kernel path), not per row
            texts = (xm._BATCH_MODES[extract](cols[2]) if extract
                     else cols[3])
            rb = pa.record_batch([
                pa.array(cols[0], pa.string()),
                pa.array(cols[1], pa.timestamp("us", tz="UTC")),
                pa.array(cols[2], pa.binary()),
                pa.array(texts, pa.string()),
                pa.array(cols[4], pa.string()),
            ], schema=schema)
            if writer is None:
                writer = pq.ParquetWriter(staging, schema,
                                          compression="zstd",
                                          filesystem=fs)
            writer.write_batch(rb)
            cols = [[], [], [], [], []]

        for b in batches:
            for f, start, end in zip(b.column("file").to_pylist(),
                                     b.column("start").to_pylist(),
                                     b.column("end").to_pylist()):
                for url, ts, st, _ct, html in iter_warc_file(
                        f, strict=strict, start=start,
                        end=None if end < 0 else end):
                    if status_range is not None and (
                            st is None or not
                            status_range[0] <= st <= status_range[1]):
                        continue
                    cols[0].append(url)
                    cols[1].append(ts)
                    cols[2].append(html)
                    cols[3].append(None)  # text filled by flush()
                    cols[4].append("und")
                    n_rows += 1
                    if len(cols[0]) >= row_group_rows:
                        flush()
        flush()
        if writer is not None:
            writer.close()
            commit_part(fs, staging, final)
            size = fs.get_file_info(final).size or 0
            yield pa.RecordBatch.from_arrays(
                [pa.array([final]), pa.array([n_rows], pa.int64()),
                 pa.array([size], pa.int64())],
                names=["file", "n_rows", "nbytes"])

    return plan.map_in_arrow(write_part, PAGES_SUMMARY_DDL)


class _ArrowSink(io.RawIOBase):
    """RawIOBase shim so BufferedWriter can batch tiny record writes
    into 1 MiB pushes to the pyarrow output stream."""

    def __init__(self, stream):
        self._s = stream

    def writable(self) -> bool:
        return True

    def write(self, b) -> int:
        self._s.write(bytes(b))
        return len(b)
