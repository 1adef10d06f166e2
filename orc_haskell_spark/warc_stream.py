"""Streaming WARC source: a PySpark Python DataSource (Spark 4 API)
that tails a crawl landing directory for new WARC archives.

    spark.dataSource.register(WarcStreamDataSource)
    df = (spark.readStream.format("warc_stream")
          .option("extract", "main").load("/crawl/landing"))

This completes the Common-Crawl front end: the batch path is
``warc.read_warc`` / ``scripts/ingest_warc.py``; this source is its
continuous twin — micro-batches of newly-landed archives parsed to the
same pages schema (url, warc_ts, status, content_type, html[, text]),
with HTML->text extraction optionally fused into the scan worker
exactly like ``read_warc(extract=)`` (one Arrow crossing, total).

Offsets are a LEXICOGRAPHIC PATH WATERMARK — the greatest archive path
(relative to the landing dir) admitted so far. A micro-batch covers
files with ``start.wm < relpath <= end.wm``. This makes the offset O(1)
regardless of history length (no seen-file log), at the price of a
naming convention: relative paths must be monotone over time. Both
standard layouts satisfy it: timestamp-prefixed names in one directory
(Common Crawl's ``CC-MAIN-<timestamp>-...``), or one fresh
lexically-increasing subdirectory per crawl batch (``day=2026-08-17/``
— the subdirectory makes the relpath monotone even though our
``write_warc`` part names restart at 00000 per directory). A file
landing with a relpath BELOW the watermark is never picked up. Files
must be complete when visible (rename-on-commit, as our sinks do) and
must not be deleted before the checkpoint commits — both standard
file-source contracts.

Options:
- ``path``: landing directory (required; scanned recursively)
- ``extract``: '' (off), 'main' or 'visible' — fused text extraction
- ``strict``: 'true' (default) raises on torn archives; 'false' resyncs
- ``max_files_per_batch``: admission control (default unlimited)
- ``split_bytes``: CDX-aware chunking threshold, as in read_warc —
  a fat archive becomes several record-aligned range partitions

Planning touches file listings only; payload bytes stream in the
executors' partitions (member-at-a-time inflate, never whole-file).

Recovery contract (engine-level, verified by trace): when a run FAILS
mid-batch, the next ``availableNow`` run replays only the pending
batch and terminates without asking for a new latest offset — Spark
never calls latestOffset on a restart that has an uncommitted batch.
Run the drain again (or use a processing-time trigger) to resume
normal ingest; nothing is lost or duplicated either way
(tests/test_warc_stream.py pins the two-drain recovery).

Reference scope note: the reference engine has no streaming surface;
this is the Spark-native continuous-ingest shape its batch `reencode`
pipeline implies (cited: /root/reference/main/main.hs:20-27).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)

from .warc import DEFAULT_SPLIT_BYTES, _file_chunks, _list_warc_files


class WarcChunkPartition(InputPartition):
    def __init__(self, file_path: str, start: int, end: int,
                 extract: str | None, strict: bool):
        self.file_path = file_path
        self.start = start
        self.end = end                  # -1 = EOF
        self.extract = extract
        self.strict = strict


class WarcStreamDataSource(DataSource):
    """format("warc_stream") — filename-watermark WARC directory tail."""

    @classmethod
    def name(cls) -> str:
        return "warc_stream"

    def _opts(self) -> tuple[str, str | None, bool, int, int]:
        path = self.options.get("path")
        if not path:
            raise ValueError("warc_stream requires .load(landing_dir)")
        extract = self.options.get("extract") or None
        if extract is not None and extract not in ("main", "visible"):
            raise ValueError(
                f"extract={extract!r}: use 'main' or 'visible'")
        strict = str(self.options.get("strict", "true")).lower() != "false"
        max_files = int(self.options.get("max_files_per_batch", 0))
        split = int(self.options.get("split_bytes", DEFAULT_SPLIT_BYTES))
        return path, extract, strict, max_files, split

    def schema(self):
        from pyspark.sql import types as T

        _, extract, _, _, _ = self._opts()
        fields = [T.StructField("url", T.StringType(), True),
                  T.StructField("warc_ts", T.TimestampType(), True),
                  T.StructField("status", T.IntegerType(), True),
                  T.StructField("content_type", T.StringType(), True),
                  T.StructField("html", T.BinaryType(), True)]
        if extract:
            fields.append(T.StructField("text", T.StringType(), True))
        return T.StructType(fields)

    def streamReader(self, schema) -> "WarcStreamReader":
        return WarcStreamReader(*self._opts())


def _relpath(p: str, root: str) -> str:
    """Path relative to the landing dir — the watermark unit. Basenames
    alone would collide across subdirectories (write_warc part names
    restart at 00000 per directory), silently losing whole batches."""
    p = p.rstrip("/")
    root = root.rstrip("/") + "/"
    return p[len(root):] if p.startswith(root) else os.path.basename(p)


class WarcStreamReader(DataSourceStreamReader):
    def __init__(self, path: str, extract: str | None, strict: bool,
                 max_files: int, split_bytes: int):
        self.path = path
        self.extract = extract
        self.strict = strict
        self.max_files = max_files
        self.split_bytes = split_bytes
        self._cursor: str | None = None   # last watermark this reader saw

    def _listing(self) -> list[tuple[str, int]]:
        try:
            return _list_warc_files(self.path)
        except (OSError, ValueError):
            return []                      # landing dir not created yet

    def initialOffset(self) -> dict:
        self._cursor = ""
        return {"wm": ""}

    def latestOffset(self) -> dict:
        names = sorted(_relpath(f, self.path) for f, _ in self._listing())
        # like the Iceberg source: admission control only applies once
        # the previous offset is KNOWN (fresh reader or prior call); a
        # restarted reader's first latestOffset is uncapped so it can
        # never regress below the engine's checkpointed offset.
        if self._cursor is not None:
            fresh = [n for n in names if n > self._cursor]
            if self.max_files > 0:
                fresh = fresh[: self.max_files]
            wm = fresh[-1] if fresh else self._cursor
        else:
            wm = names[-1] if names else ""
        if self._cursor is not None and wm < self._cursor:
            wm = self._cursor              # never move backwards
        self._cursor = wm
        return {"wm": wm}

    def partitions(self, start: dict, end: dict):
        lo, hi = start.get("wm", ""), end.get("wm", "")
        anchor = max(lo, hi)
        if self._cursor is None or self._cursor < anchor:
            self._cursor = anchor          # re-anchor after restart
        if hi <= lo:
            return []
        files = [(f, size) for f, size in self._listing()
                 if lo < _relpath(f, self.path) <= hi]
        chunks = _file_chunks(files, self.split_bytes)
        return [WarcChunkPartition(f, s, e, self.extract, self.strict)
                for (f, s, e), _w in chunks]

    def read(self, partition):
        from .engine import worker_setup
        from .pipeline import extract as xm
        from .warc import _rows_batch, iter_warc_file

        worker_setup()
        rows: list[tuple] = []
        nbytes = 0
        end = None if partition.end < 0 else partition.end

        def emit_rows():
            # batch extraction (C kernel path) — same results as the
            # old per-record call, ~10x cheaper; mirrors warc.read_warc
            if partition.extract:
                texts = xm._BATCH_MODES[partition.extract](
                    [r[4] for r in rows])
                return _rows_batch([r + (t,) for r, t in
                                    zip(rows, texts)], partition.extract)
            return _rows_batch(rows, partition.extract)

        for row in iter_warc_file(partition.file_path,
                                  strict=partition.strict,
                                  start=partition.start, end=end):
            rows.append(row)
            nbytes += len(row[4] or b"")
            if len(rows) >= 2048 or nbytes >= (64 << 20):
                yield emit_rows()
                rows, nbytes = [], 0
        if rows:
            yield emit_rows()

    def commit(self, end: dict) -> None:
        pass                               # offsets live in the checkpoint
