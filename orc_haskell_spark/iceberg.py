"""Apache Iceberg table support: pure-Python metadata layer.

The north rule names "Iceberg tables of Common-Crawl-style web pages"
as this engine's canonical input, and the sandbox ships no
iceberg-spark-runtime jar — so this module implements the TABLE FORMAT
from the public spec (https://iceberg.apache.org/spec/) directly:

- table discovery: ``metadata/version-hint.text`` ->
  ``vN.metadata.json`` (or newest ``*.metadata.json`` when no hint)
- snapshot selection: current, by id, or time-travel ``as_of_ms``
- manifest lists and manifests: Avro object-container files decoded by
  ``avro.py`` (schema-driven, deflate), int-keyed logical maps in both
  wire shapes (Avro map / array-of-kv-records as Java Iceberg writes)
- planning-time pruning: partition values (identity transform) and
  per-file column lower/upper bounds (Iceberg single-value binary
  serialization), mirroring what the engine's own zone maps do
- a writer able to CREATE tables and COMMIT append snapshots (new
  manifest + manifest list + metadata json + hint, all rename-on-
  commit), used both as the test fixture generator and as the
  snapshot-committing sink for encoded output

Scale shape: the manifest LIST (one row per manifest, ~KB) is driver
IO; MANIFESTS fan out to a Spark stage beyond a threshold exactly like
``orcfile/planner.py`` does for ORC tails, so planning is never
O(data-files) serial driver work. Data files are untouched at plan
time; the surviving file list feeds ``sources.plan_splits`` and
from there every existing scan/encode path.

Row-level deletes (v2) are fully supported on the READ path:
position deletes apply via an anti-join on the scan's own
(_metadata.file_path, row_index), equality deletes via per-column-set
anti-joins honoring the strict sequence-number rule (re-appends after
the delete survive); `delete_rows` / `delete_where` COMMIT them. The
fused raw-position paths (plan_files / splits / encode) refuse
delete-bearing snapshots loudly instead of resurrecting rows.

Column resolution: `read_iceberg` resolves by NAME (our own data
files are plain parquet); `read_iceberg_by_field_id` implements the
spec's field-id resolution for tables whose files carry
``PARQUET:field_id`` (Java/Rust writers) — renamed columns read
correctly from old files, per file-group.

Data files may be PARQUET or ORC (mixed tables allowed): ORC files
decode through the repo's own stripe-parallel reader
(orcfile/spark_source.py) and union with the parquet scan; row-level
deletes over ORC files refuse (no parquet row positions).

Partition transforms are evaluated for pruning per the spec:
identity exactly, bucket[N] (murmur3_x86_32 of the single-value hash
bytes) for =/in, truncate[W] and year/month/day/hour (order-
preserving) for ranges too; unknown transforms keep their files
(conservative, never wrong).

Maintenance: `compact` rewrites the live view (deletes applied) as a
replace snapshot — transform specs included, via Catalyst temporal/
truncate expressions and a vectorized-murmur pandas UDF for bucket;
`expire_snapshots` reclaims files referenced only by expired history.

Honest deviations from the full spec (each raises or documents):
- field-id resolution does not compose with row-level deletes
  (compact() first)
"""

from __future__ import annotations

import json
import os
import struct
import uuid

from . import avro

# ---------------------------------------------------------------------------
# single-value serialization (spec "Binary single-value serialization")

_BOUND_CODECS = {
    "boolean": (lambda v: b"\x01" if v else b"\x00",
                lambda b: b != b"\x00"),
    "int": (lambda v: struct.pack("<i", v),
            lambda b: struct.unpack("<i", b)[0]),
    "long": (lambda v: struct.pack("<q", v),
             lambda b: struct.unpack("<q", b)[0]),
    "float": (lambda v: struct.pack("<f", v),
              lambda b: struct.unpack("<f", b)[0]),
    "double": (lambda v: struct.pack("<d", v),
               lambda b: struct.unpack("<d", b)[0]),
    "date": (lambda v: struct.pack("<i", v),
             lambda b: struct.unpack("<i", b)[0]),
    "timestamp": (lambda v: struct.pack("<q", v),
                  lambda b: struct.unpack("<q", b)[0]),
    "timestamptz": (lambda v: struct.pack("<q", v),
                    lambda b: struct.unpack("<q", b)[0]),
    "string": (lambda v: v.encode("utf-8"),
               lambda b: b.decode("utf-8")),
    "binary": (lambda v: bytes(v), bytes),
}


def encode_bound(ice_type: str, value) -> bytes:
    return _BOUND_CODECS[ice_type][0](value)


def decode_bound(ice_type: str, blob: bytes):
    return _BOUND_CODECS[ice_type][1](blob)


_PA_TO_ICE = {
    "bool": "boolean", "int32": "int", "int64": "long",
    "float": "float", "double": "double", "string": "string",
    "large_string": "string", "binary": "binary",
    "large_binary": "binary", "date32[day]": "date",
}


def _pa_to_iceberg_type(t) -> str:
    s = str(t)
    if s.startswith("timestamp"):
        return "timestamptz" if getattr(t, "tz", None) else "timestamp"
    if s in _PA_TO_ICE:
        return _PA_TO_ICE[s]
    raise NotImplementedError(f"no Iceberg mapping for arrow type {s}")


# ---------------------------------------------------------------------------
# metadata discovery


def _local(path: str) -> str:
    """Collapse every file-URI spelling (file:/p, file://p, file:///p)
    to one canonical local path so path equi-joins (position deletes,
    commit idempotency checks) never miss on URI form — PyIceberg
    writes file:///, Spark's _metadata.file_path writes file:/."""
    if path.startswith("file:"):
        rest = path[len("file:"):]
        return "/" + rest.lstrip("/") if rest.startswith("/") else rest
    return path


def table_metadata(table_path: str, version: int | None = None) -> dict:
    """Load vN.metadata.json — the hinted/current one by default."""
    mdir = os.path.join(table_path, "metadata")
    if version is None:
        hint = os.path.join(mdir, "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as f:
                version = int(f.read().strip())
        else:
            cands = sorted(int(n[1:].split(".")[0])
                           for n in os.listdir(mdir)
                           if n.endswith(".metadata.json")
                           and n.startswith("v"))
            if not cands:
                raise FileNotFoundError(
                    f"no metadata json under {mdir}")
            version = cands[-1]
    with open(os.path.join(mdir, f"v{version}.metadata.json")) as f:
        meta = json.load(f)
    if meta.get("format-version") not in (1, 2):
        raise NotImplementedError(
            f"Iceberg format-version {meta.get('format-version')}")
    if meta["format-version"] == 1:
        # v1 predates sequence numbers: normalize so every consumer
        # (incremental deltas, streaming offsets, delete sequencing)
        # sees 0 instead of KeyError
        meta.setdefault("last-sequence-number", 0)
        for s_ in meta.get("snapshots", []):
            s_.setdefault("sequence-number", 0)
    return meta


def select_snapshot(meta: dict, snapshot_id: int | None = None,
                    as_of_ms: int | None = None) -> dict:
    """Current snapshot, by id, or newest at-or-before ``as_of_ms``."""
    snaps = meta.get("snapshots", [])
    if not snaps:
        raise ValueError("table has no snapshots")
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(f"snapshot {snapshot_id} not found")
    if as_of_ms is not None:
        ok = [s for s in snaps if s["timestamp-ms"] <= as_of_ms]
        if not ok:
            raise ValueError(f"no snapshot at or before {as_of_ms}")
        return max(ok, key=lambda s: s["timestamp-ms"])
    cur = meta.get("current-snapshot-id")
    for s in snaps:
        if s["snapshot-id"] == cur:
            return s
    raise ValueError("current-snapshot-id missing from snapshots")


def _schema_of(meta: dict) -> list[dict]:
    """Current schema's field list [{id,name,type,required}, ...]."""
    if "schemas" in meta:
        sid = meta["current-schema-id"]
        for s in meta["schemas"]:
            if s["schema-id"] == sid:
                return s["fields"]
        raise ValueError("current-schema-id missing from schemas")
    return meta["schema"]["fields"]           # v1 single-schema layout


def schema_fields(table_path: str) -> list[dict]:
    """Public accessor: the CURRENT schema's fields for a table path."""
    return _schema_of(table_metadata(table_path))


def _normalize_kv(value) -> dict:
    """Iceberg int-keyed logical maps arrive as an Avro map (str keys)
    or an array of {key, value} records (Java writer). -> {int: v}."""
    if value is None:
        return {}
    if isinstance(value, dict):
        return {int(k): v for k, v in value.items()}
    return {int(e["key"]): e["value"] for e in value}


# ---------------------------------------------------------------------------
# planning


class Predicate:
    """Tiny conjunctive predicate for plan-time pruning: a list of
    (column, op, value) with op in = / < / <= / > / >= / in. Evaluated
    exactly on identity-partition values and conservatively on file
    bounds (a file survives unless its [lower, upper] range PROVES the
    predicate false — same contract as engine.prune_stripes)."""

    def __init__(self, terms):
        self.terms = list(terms)

    def keep_partition(self, part: dict) -> bool:
        for col, op, val in self.terms:
            if col not in part:
                continue
            v = part[col]
            if v is None:
                continue
            if not _cmp(op, v, v, val):
                return False
        return True

    def keep_bounds(self, lowers: dict, uppers: dict) -> bool:
        for col, op, val in self.terms:
            lo, hi = lowers.get(col), uppers.get(col)
            if lo is None or hi is None:
                continue
            if not _cmp(op, lo, hi, val):
                return False
        return True


def _cmp(op: str, lo, hi, val) -> bool:
    """Could any v in [lo, hi] satisfy (v op val)?"""
    if op == "=":
        return lo <= val <= hi
    if op == "in":
        return any(lo <= v <= hi for v in val)
    if op == "<":
        return lo < val
    if op == "<=":
        return lo <= val
    if op == ">":
        return hi > val
    if op == ">=":
        return hi >= val
    raise ValueError(f"unknown predicate op {op!r}")


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit — the spec's bucket-transform hash."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data) & ~3
    for i in range(0, n, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[n:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_values_int(vals, n: int):
    """Vectorized bucket[N] for int/long/date/timestamp ARRAYS: the
    spec's murmur3_x86_32 over the 8-byte little-endian encoding,
    numpy end-to-end (two 4-byte blocks, no tail) — bit-identical to
    the scalar bucket_value, for transform evaluation at column scale."""
    import numpy as np

    c1, c2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
    v = np.asarray(vals, dtype=np.int64).view(np.uint64)
    h = np.zeros(v.shape, np.uint32)
    with np.errstate(over="ignore"):
        for blk in ((v & np.uint64(0xFFFFFFFF)).astype(np.uint32),
                    (v >> np.uint64(32)).astype(np.uint32)):
            k = blk * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * c2
            h ^= k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(8)                  # total length in bytes
        h ^= h >> np.uint32(16)
        h = h * np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h = h * np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(np.int64)


def bucket_value(ice_type: str, value, n: int) -> int:
    """Spec bucket[N]: (murmur3_32(hash bytes) & MAX_INT) % N.
    int/long/date/timestamp hash as 8-byte little-endian LONG (so
    bucket(int 34) == bucket(long 34)); strings utf-8; binary raw."""
    if ice_type in ("int", "long", "date", "timestamp", "timestamptz"):
        data = struct.pack("<q", int(value))
    elif ice_type == "string":
        data = value.encode("utf-8")
    elif ice_type == "binary":
        data = bytes(value)
    else:
        raise NotImplementedError(f"bucket transform over {ice_type}")
    return (_murmur3_32(data) & 0x7FFFFFFF) % n


_US_PER_DAY = 86_400_000_000
_US_PER_HOUR = 3_600_000_000


def apply_transform(transform: str, ice_type: str | None, value):
    """Spec partition transform of a SOURCE value (timestamps as epoch
    micros, dates as epoch days). void -> None."""
    import datetime as _dt

    if transform == "identity":
        return value
    if transform == "void":
        return None
    if transform.startswith("bucket["):
        return bucket_value(ice_type, value, int(transform[7:-1]))
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if ice_type in ("int", "long"):
            v = int(value)
            return v - (((v % w) + w) % w)
        if ice_type == "string":
            return value[:w]
        raise NotImplementedError(f"truncate over {ice_type}")
    if transform in ("year", "month", "day", "hour"):
        if ice_type == "date":
            days = int(value)
        elif ice_type in ("timestamp", "timestamptz"):
            if transform == "hour":
                return int(value) // _US_PER_HOUR
            days = int(value) // _US_PER_DAY
        else:
            raise NotImplementedError(f"{transform} over {ice_type}")
        if transform == "day":
            return days
        d = _dt.date(1970, 1, 1) + _dt.timedelta(days=days)
        if transform == "year":
            return d.year - 1970
        return (d.year - 1970) * 12 + d.month - 1
    raise NotImplementedError(f"partition transform {transform!r}")


def _transform_column(spark, transform: str, src: str,
                      src_type: str | None):
    """Spark Column computing a partition TRANSFORM of a source column
    (compaction's write-side twin of apply_transform): temporal and
    truncate transforms are pure Catalyst expressions; bucket[N] runs
    the numpy murmur3 kernel inside a vectorized pandas UDF for
    int-like sources (strings fall back to the scalar hash per value
    inside the same Arrow batch — maintenance-path cost)."""
    from pyspark.sql import functions as F

    if transform == "void":
        return F.lit(None).cast("int")
    if transform in ("year", "month", "day", "hour"):
        if src_type == "timestamptz":
            # zone-carrying timestamps: session-TZ casts would shift
            # partition values away from the UTC values pruning
            # computes (apply_transform works on epoch micros). All
            # arithmetic goes through unix micros; the date for
            # year/month derives from the UTC day number.
            days = F.floor(F.unix_micros(F.col(src))
                           / F.lit(86_400_000_000)).cast("bigint")
            d = F.date_add(F.lit("1970-01-01").cast("date"),
                           days.cast("int"))
            if transform == "day":
                return days.cast("int")
            if transform == "hour":
                return F.floor(F.unix_micros(F.col(src))
                               / F.lit(3_600_000_000)).cast("int")
        else:
            d = F.col(src).cast("date")
            days = F.datediff(d, F.lit("1970-01-01").cast("date"))
            if transform == "day":
                return days.cast("int")
            if transform == "hour":
                return (days.cast("bigint") * 24
                        + F.hour(F.col(src))).cast("int")
        if transform == "year":
            return (F.year(d) - 1970).cast("int")
        return ((F.year(d) - 1970) * 12 + F.month(d) - 1).cast("int")
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if src_type in ("int", "long"):
            return (F.col(src) - F.pmod(F.col(src), F.lit(w))) \
                .cast("bigint" if src_type == "long" else "int")
        return F.substring(F.col(src), 1, w)
    if transform.startswith("bucket["):
        n = int(transform[7:-1])
        from pyspark.sql.functions import pandas_udf

        if src_type in ("int", "long", "date", "timestamp",
                        "timestamptz"):
            @pandas_udf("int")
            def _bucket(col):
                import numpy as _np
                import pandas as _pd

                from orc_haskell_spark.engine import worker_setup

                worker_setup()
                vals = col
                if src_type in ("timestamp", "timestamptz"):
                    vals = col.astype("int64") // 1000  # ns -> us
                elif src_type == "date":
                    vals = (_pd.to_datetime(col).astype("int64")
                            // 86_400_000_000_000)  # ns -> days
                elif vals.dtype.kind == "f":
                    # nulls forced the int column through float64:
                    # values beyond 2^53 would hash a ROUNDED id into
                    # the wrong bucket — refuse rather than mis-place
                    if vals.abs().max() > 2 ** 53:
                        raise NotImplementedError(
                            "bucket transform over a nullable column "
                            "with values beyond 2^53: null out or "
                            "split the nulls before compacting")
                arr = _np.asarray(vals.fillna(0), dtype=_np.int64)
                out = bucket_values_int(arr, n)
                return _pd.Series(out).where(~col.isna())

            return _bucket(F.col(src))

        @pandas_udf("int")
        def _bucket_s(col):
            import pandas as _pd

            from orc_haskell_spark.engine import worker_setup

            worker_setup()
            return _pd.Series(
                [None if v is None
                 else bucket_value(src_type or "string", v, n)
                 for v in col])

        return _bucket_s(F.col(src))
    raise NotImplementedError(f"partition transform {transform!r}")


_ORDER_PRESERVING = ("identity", "truncate[", "year", "month", "day",
                     "hour")

_RELAX = {"<": "<=", ">": ">=", "<=": "<=", ">=": ">=", "=": "="}


def keep_partition_spec(pred: "Predicate", part: dict,
                        spec_fields: list[dict] | None,
                        type_of_id: dict | None,
                        name_of_id: dict | None) -> bool:
    """Transform-aware partition pruning: a file survives unless its
    partition value PROVES a predicate term false through the spec's
    transform — equality through any transform, ranges through
    order-preserving ones (truncate/temporal), bucket only for =/in.
    Unknown/unevaluable transforms keep the file (conservative)."""
    if not spec_fields:
        return pred.keep_partition(part)
    for sf in spec_fields:
        pname = sf["name"]
        if pname not in part or part[pname] is None:
            continue
        pv = part[pname]
        src = (name_of_id or {}).get(sf.get("source-id"))
        if src is None:
            src = pname                       # identity-style fallback
        t = (type_of_id or {}).get(sf.get("source-id"))
        tr = sf.get("transform", "identity")
        for col, op, val in pred.terms:
            if col != src:
                continue
            try:
                if tr == "identity":
                    if not _cmp(op, pv, pv, val):
                        return False
                elif tr.startswith("bucket["):
                    if op == "=" and                             apply_transform(tr, t, val) != pv:
                        return False
                    if op == "in" and all(
                            apply_transform(tr, t, v) != pv
                            for v in val):
                        return False
                elif tr.startswith(_ORDER_PRESERVING):
                    if op == "in":
                        if all(apply_transform(tr, t, v) != pv
                               for v in val):
                            return False
                    else:
                        tv = apply_transform(tr, t, val)
                        if not _cmp(_RELAX[op], pv, pv, tv):
                            return False
            except (NotImplementedError, TypeError):
                # unevaluable transform OR mistyped comparison (e.g. a
                # date partition value serialized as an Avro string vs
                # an int predicate): keep the file, conservatively
                continue
    return True


DISTRIBUTED_MANIFESTS_MIN = 64


def _read_manifest(path: str, field_types: dict, id_of: dict,
                   pred: Predicate | None, content: int = 0,
                   manifest_seq: int = 0, spec_fields=None):
    """One manifest -> list of surviving live file dicts (``content``
    0 = data files, 1 = position-delete files). Entries written with
    sequence_number=null INHERIT ``manifest_seq`` (the spec's
    inheritance rule — Java Iceberg writes added entries that way)."""
    _, entries = avro.read_container_file(_local(path))
    out = []
    name_of_id = {v: k for k, v in id_of.items()}
    type_of_id = {id_of[n]: t for n, t in field_types.items()}
    ok_content = {0} if content == 0 else {1, 2}   # pos + eq deletes
    for e in entries:
        if e.get("status") == 2:          # DELETED entry: file is gone
            continue
        df = e["data_file"]
        if df.get("content", 0) not in ok_content:
            raise NotImplementedError(
                f"unexpected content={df.get('content')} entry in a "
                f"content={content} manifest")
        part = df.get("partition") or {}
        lowers_raw = _normalize_kv(df.get("lower_bounds"))
        uppers_raw = _normalize_kv(df.get("upper_bounds"))
        lowers, uppers = {}, {}
        for name, fid in id_of.items():
            t = field_types.get(name)   # nested types carry no bounds
            if t is None:
                continue
            if fid in lowers_raw and t in _BOUND_CODECS:
                lowers[name] = decode_bound(t, lowers_raw[fid])
            if fid in uppers_raw and t in _BOUND_CODECS:
                uppers[name] = decode_bound(t, uppers_raw[fid])
        if pred is not None:
            if not keep_partition_spec(pred, part, spec_fields,
                                       type_of_id, name_of_id):
                continue
            if not pred.keep_bounds(lowers, uppers):
                continue
        out.append({
            "file_path": _local(df["file_path"]),
            "file_format": df.get("file_format", "PARQUET"),
            "content": df.get("content", 0),
            "record_count": df.get("record_count"),
            "file_size_in_bytes": df.get("file_size_in_bytes"),
            "partition": part,
            "sequence_number": (e.get("sequence_number")
                                if e.get("sequence_number") is not None
                                else manifest_seq),
            "equality_ids": df.get("equality_ids"),
            "lower_bounds": lowers,
            "upper_bounds": uppers,
        })
    return out


def plan_scan(table_path: str, snapshot_id: int | None = None,
              as_of_ms: int | None = None,
              where: list | Predicate | None = None,
              spark=None) -> tuple[list[dict], list[dict]]:
    """Snapshot's live (data_files, position_delete_files) after
    partition/bounds pruning of the data side.

    Driver reads the manifest LIST (one Avro row per manifest); the
    per-manifest entry reads fan out to a Spark stage when the snapshot
    has >= DISTRIBUTED_MANIFESTS_MIN manifests and a session is given —
    the same two-mode planning as sources.plan_splits, so a
    million-file table never serializes planning on the driver.

    Delete files are NEVER pruned by the data predicate (a position
    delete may target any file); path-scoped application happens at
    read time."""
    meta = table_metadata(table_path)
    snap = select_snapshot(meta, snapshot_id, as_of_ms)
    fields = _schema_of(meta)
    field_types = {f["name"]: f["type"] for f in fields
                   if isinstance(f["type"], str)}
    id_of = {f["name"]: f["id"] for f in fields}
    pred = (where if isinstance(where, Predicate)
            else Predicate(where) if where else None)
    specs_by_id = {sp["spec-id"]: sp["fields"]
                   for sp in meta.get("partition-specs", [])}
    mlist_path = _local(snap["manifest-list"])
    _, manifests = avro.read_container_file(mlist_path)
    data_mans = [(m["manifest_path"], m.get("sequence_number", 0),
                  specs_by_id.get(m.get("partition_spec_id", 0)))
                 for m in manifests if m.get("content", 0) == 0]
    del_mans = [(m["manifest_path"], m.get("sequence_number", 0))
                for m in manifests if m.get("content", 0) == 1]
    if len(data_mans) + len(del_mans) != len(manifests):
        raise NotImplementedError(
            "unknown manifest content kind (not data/deletes)")
    if spark is not None and len(data_mans) >= DISTRIBUTED_MANIFESTS_MIN:
        sc = spark.sparkContext
        n = min(len(data_mans), sc.defaultParallelism * 2)

        def read_manifests(part):
            from orc_haskell_spark.engine import worker_setup

            worker_setup()
            for p, mseq, spf in part:
                yield from _read_manifest(p, field_types, id_of, pred,
                                          manifest_seq=mseq,
                                          spec_fields=spf)

        out = sc.parallelize(data_mans, n).mapPartitions(
            read_manifests).collect()
    else:
        out = [f for p, mseq, spf in data_mans
               for f in _read_manifest(p, field_types, id_of, pred,
                                       manifest_seq=mseq,
                                       spec_fields=spf)]
    dels = [f for p, mseq in del_mans
            for f in _read_manifest(p, field_types, id_of, None,
                                    content=1, manifest_seq=mseq)]
    for f in dels:
        if f["file_format"].upper() != "PARQUET":
            raise NotImplementedError(
                f"Iceberg delete file format {f['file_format']}")
    for f in out:
        if f["file_format"].upper() not in ("PARQUET", "ORC"):
            raise NotImplementedError(
                f"Iceberg data file format {f['file_format']}")
    return (sorted(out, key=lambda f: f["file_path"]),
            sorted(dels, key=lambda f: f["file_path"]))


def plan_files(table_path: str, snapshot_id: int | None = None,
               as_of_ms: int | None = None,
               where: list | Predicate | None = None,
               spark=None) -> list[dict]:
    """plan_scan for delete-free consumers (the fused encode/split
    paths): raises when the snapshot carries row-level deletes, because
    those paths read raw parquet positions and would resurrect deleted
    rows. Use read_iceberg (applies deletes) instead."""
    files, dels = plan_scan(table_path, snapshot_id, as_of_ms, where,
                            spark)
    if dels:
        raise NotImplementedError(
            f"snapshot carries {len(dels)} row-level delete file(s); "
            f"this path reads raw file rows — use read_iceberg, "
            f"which applies deletes")
    return files


def _parquet_field_ids(path: str) -> dict[int, str] | None:
    """{field_id: column_name} from a parquet file's schema metadata
    (the ``PARQUET:field_id`` keys real Iceberg writers stamp), or None
    when the file carries no ids (plain parquet)."""
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    out = {}
    for f in schema:
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            out[int(fid)] = f.name
    return out or None


def read_iceberg_by_field_id(spark, table_path: str,
                             snapshot_id: int | None = None,
                             as_of_ms: int | None = None,
                             where: list | Predicate | None = None,
                             columns: list[str] | None = None):
    """read_iceberg with the spec's FIELD-ID column resolution for data
    files stamped with ``PARQUET:field_id`` (Java/Rust Iceberg writers
    always stamp them): a column renamed in the table schema still
    reads from old files under its old parquet name, matched by id.

    Files are grouped by their id->name map (driver-threaded footer
    reads — metadata-only, same planning cost class as the split
    planner), each group read+renamed to the CURRENT schema, groups
    unioned by name. Files with no ids fall back to name resolution.
    Row-level deletes are not supported on this path (the per-group
    union would break position attribution) — use compact() first."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    files, dels = plan_scan(table_path, snapshot_id, as_of_ms, where,
                            spark)
    if dels:
        raise NotImplementedError(
            "field-id resolution with row-level deletes: compact() the "
            "table first")
    if not files:
        raise ValueError(f"no live data files in {table_path}")
    meta = table_metadata(table_path)
    fields = _schema_of(meta)
    name_of_id = {f["id"]: f["name"] for f in fields}
    paths = [f["file_path"] for f in files]
    with ThreadPoolExecutor(min(16, len(paths))) as pool:
        id_maps = list(pool.map(_parquet_field_ids, paths))
    by_path = {f["file_path"]: f for f in files}
    groups: dict[tuple, list[str]] = {}
    for p, m in zip(paths, id_maps):
        key = tuple(sorted(m.items())) if m else ()
        groups.setdefault(key, []).append(p)
    outs = []
    for key, group in sorted(groups.items()):
        g = spark.read.option("mergeSchema", "true").parquet(*group)
        rename = {pname: name_of_id[fid] for fid, pname in key
                  if fid in name_of_id}
        for src_name, cur in rename.items():
            if src_name != cur and src_name in g.columns:
                g = g.withColumnRenamed(src_name, cur)
        # same partition-value restore and schema alignment (types,
        # null-fill, canonical casts) as the name-based read — the two
        # resolution modes may never diverge in output shape
        g = _restore_partition_columns(
            spark, g, [by_path[p] for p in group], fields)
        outs.append(_align_to_schema(spark, g, fields))
    df = outs[0]
    for o in outs[1:]:
        df = df.unionByName(o)
    if columns:
        df = df.select(*columns)
    return df


def read_iceberg(spark, table_path: str, snapshot_id: int | None = None,
                 as_of_ms: int | None = None,
                 where: list | Predicate | None = None,
                 columns: list[str] | None = None):
    """Iceberg table -> DataFrame over the snapshot's pruned file list.

    Pruning happens HERE from Iceberg's own metadata (files Catalyst
    never sees are never scheduled); residual row-level filtering is
    the caller's normal ``.filter`` — pruning is only ever file-granular
    so re-applying the predicate stays mandatory, exactly like the ORC
    datasource's pushed filters. Columns resolve by NAME; for tables
    written by Java/Rust Iceberg (field-id-stamped parquet, possibly
    renamed columns) use read_iceberg_by_field_id."""
    all_files, dels = plan_scan(table_path, snapshot_id, as_of_ms,
                                where, spark)
    meta = table_metadata(table_path)
    fields = _schema_of(meta)
    if not all_files and where is not None:
        # a predicate that prunes EVERY file is a valid, empty scan
        # (filter semantics) — not an error. Build a 0-row frame with
        # the table schema from any live file of the unpruned snapshot
        # (schema-from-file handles nested types _align_to_schema
        # cannot null-fill).
        base, _ = plan_scan(table_path, snapshot_id, as_of_ms, None,
                            spark)
        if base:
            pq_files = [f for f in base
                        if f["file_format"].upper() == "PARQUET"]
            if pq_files:
                src = spark.read.option("mergeSchema", "true") \
                    .parquet(pq_files[0]["file_path"])
            else:
                from .orcfile.spark_source import read_orc_distributed

                src = read_orc_distributed(
                    spark, table_path, files=[base[0]["file_path"]])
            df_full = _align_to_schema(spark, src.limit(0), fields)
            if columns:
                df_full = df_full.select(*columns)
            return df_full
    if not all_files:
        raise ValueError(f"no live data files in {table_path}")
    orc_files = [f for f in all_files
                 if f["file_format"].upper() == "ORC"]
    files = [f for f in all_files
             if f["file_format"].upper() == "PARQUET"]
    df_orc = None
    if orc_files:
        # ORC data files decode through OUR reader (stripe-parallel,
        # byte-level projection) — the spec allows mixed-format tables.
        # Row-level deletes reference parquet row positions/_metadata,
        # which the ORC scan does not expose: refuse rather than skew.
        if dels:
            raise NotImplementedError(
                "row-level deletes over ORC data files: compact() "
                "the table first")
        from .orcfile.spark_source import read_orc_distributed

        df_orc = read_orc_distributed(
            spark, table_path,
            files=[f["file_path"] for f in orc_files])
    if not files:
        df_full = _align_to_schema(spark, df_orc, fields)
        if columns:
            df_full = df_full.select(*columns)
        return df_full
    df = spark.read.option("mergeSchema", "true") \
        .parquet(*[f["file_path"] for f in files])
    pos_dels = [d for d in dels if d["content"] == 1]
    eq_dels = [d for d in dels if d["content"] == 2]
    if pos_dels:
        # v2 position deletes, Spark-first: anti-join on the scan's own
        # (_metadata.file_path, _metadata.row_index) against the delete
        # files — no per-row Python, broadcast when small (deletes are
        # tombstones, orders of magnitude smaller than data). Paths are
        # never reused by the writer, so path+pos identify a row across
        # snapshots without sequence-number bookkeeping.
        from pyspark.sql import functions as F

        ddf = spark.read.parquet(*[d["file_path"] for d in pos_dels]) \
            .select(F.regexp_replace("file_path", "^file:/+", "/")
                    .alias("_del_path"),
                    F.col("pos").alias("_del_pos")).distinct()
        n_dels = sum(d["record_count"] or 0 for d in pos_dels)
        if n_dels <= 10_000_000:
            ddf = F.broadcast(ddf)
        df = (df.withColumn("_fp", F.regexp_replace(
                  F.col("_metadata.file_path"), "^file:/+", "/"))
              .withColumn("_ri", F.col("_metadata.row_index"))
              .join(ddf, (F.col("_fp") == F.col("_del_path"))
                    & (F.col("_ri") == F.col("_del_pos")), "left_anti")
              .drop("_fp", "_ri"))
    if eq_dels:
        # v2 equality deletes: a row dies when its equality columns
        # match a delete row whose sequence number is STRICTLY greater
        # than the row's data file's — re-appends after the delete
        # survive. One anti-join: data rows carry their file's seq
        # (broadcast path->seq lookup on _metadata.file_path), delete
        # rows carry theirs; all in one shot for a shared column set.
        from pyspark.sql import functions as F

        name_of = {f["id"]: f["name"] for f in fields}
        seq_rows = [(f["file_path"], f["sequence_number"] or 0)
                    for f in files]
        seq_df = F.broadcast(spark.createDataFrame(
            seq_rows, "_sq_path string, _fseq bigint"))
        df = (df.withColumn("_fp2", F.regexp_replace(
                  F.col("_metadata.file_path"), "^file:/+", "/"))
              .join(seq_df, F.col("_fp2") == F.col("_sq_path"), "left"))
        groups: dict[tuple, list] = {}
        for d in eq_dels:
            ids = tuple(sorted(d["equality_ids"] or []))
            if not ids:
                raise ValueError(
                    f"equality-delete file {d['file_path']} has no "
                    f"equality_ids")
            groups.setdefault(ids, []).append(d)
        for ids, group in sorted(groups.items()):
            eq_cols = sorted(name_of[i] for i in ids)
            parts = [
                spark.read.parquet(d["file_path"]).select(
                    *[F.col(c).alias(f"_eq_{c}") for c in eq_cols])
                .withColumn("_dseq", F.lit(d["sequence_number"] or 0))
                for d in group]
            ddf = parts[0]
            for p in parts[1:]:
                ddf = ddf.unionAll(p)
            cond = F.col("_fseq") < F.col("_dseq")
            for c in eq_cols:
                cond = cond & (F.col(c) == F.col(f"_eq_{c}"))
            df = df.join(F.broadcast(ddf), cond, "left_anti")
        df = df.drop("_fp2", "_sq_path", "_fseq")
    # Iceberg read semantics: the table's CURRENT schema governs.
    # Files from before an add-column read as null (name-aligned — a
    # documented deviation from field-id resolution); columns dropped
    # from the schema disappear even if old files still carry them.
    from pyspark.sql import functions as F

    # identity-partition columns may be ABSENT from the data files
    # (hive-layout writes, e.g. compact()'s partitionBy output, store
    # them only in the directory name); the manifest's own partition
    # values restore them, joined per file — the spec's "identity
    # transform values come from metadata" rule, not a null-fill
    df = _restore_partition_columns(spark, df, files, fields)
    have = set(df.columns)
    df = _align_to_schema(spark, df, fields, have=have)
    if df_orc is not None:
        df = df.unionByName(_align_to_schema(spark, df_orc, fields))
    if columns:
        df = df.select(*columns)
    return df


# spec: timestamp = WITHOUT zone (Spark TIMESTAMP_NTZ — also what the
# parquet scan infers for pyarrow-written naive timestamps), timestamptz
# = WITH zone (Spark TIMESTAMP)
_SPARK_TYPES = {"boolean": "boolean", "int": "int", "long": "bigint",
                "float": "float", "double": "double", "string": "string",
                "binary": "binary", "date": "date",
                "timestamp": "timestamp_ntz", "timestamptz": "timestamp"}


def _restore_partition_columns(spark, df, files, fields):
    """Restore identity-partition column values from manifest metadata
    for hive-layout data files that store them only in directory names
    (e.g. compact() output): broadcast file-path lookup joined on the
    scan's own _metadata.file_path; mixed layouts coalesce (a stored
    value wins). Transform outputs (ts_day, url_bucket, ...) never
    masquerade as columns."""
    from pyspark.sql import functions as F

    part_of: dict[str, dict] = {}
    schema_names = {f["name"] for f in fields}
    for f in files:
        for k, v in (f["partition"] or {}).items():
            part_of.setdefault(k, {})[f["file_path"]] = v
    have = set(df.columns)
    restore = [c for c in part_of
               if c in schema_names
               and any(v is not None for v in part_of[c].values())]
    if not restore:
        return df
    types = {f["name"]: f["type"] for f in fields}
    rows = [(fp,) + tuple(part_of[c].get(fp) for c in restore)
            for fp in sorted({f["file_path"] for f in files})]
    ddl = ", ".join(["_pt_path string"]
                    + [f"_pt_{i} {_SPARK_TYPES[types[c]]}"
                       for i, c in enumerate(restore)])
    lookup = F.broadcast(spark.createDataFrame(rows, ddl))
    df = (df.withColumn("_pt_fp", F.regexp_replace(
              F.col("_metadata.file_path"), "^file:/+", "/"))
          .join(lookup, F.col("_pt_fp") == F.col("_pt_path"), "left")
          .drop("_pt_fp", "_pt_path"))
    for i, c in enumerate(restore):
        if c in have:         # mixed layout: file value wins when stored
            df = df.withColumn(
                c, F.coalesce(F.col(c), F.col(f"_pt_{i}"))) \
                .drop(f"_pt_{i}")
        else:
            df = df.withColumnRenamed(f"_pt_{i}", c)
    return df


def _align_to_schema(spark, df, fields, have=None):
    """Project a scan DataFrame onto the table's CURRENT schema: keep
    matching columns CAST to the canonical Spark type (normalizes e.g.
    the ORC reader's TimestampNTZ against the parquet scan before a
    union), null-fill added columns, drop removed ones."""
    from pyspark.sql import functions as F

    have = set(df.columns) if have is None else have
    sel = []
    for f in fields:
        known = isinstance(f["type"], str) and f["type"] in _SPARK_TYPES
        if f["name"] in have:
            sel.append(F.col(f["name"]).cast(_SPARK_TYPES[f["type"]])
                       .alias(f["name"])
                       if known else F.col(f["name"]))
        elif known:
            sel.append(F.lit(None).cast(_SPARK_TYPES[f["type"]])
                       .alias(f["name"]))
        else:
            raise NotImplementedError(
                f"cannot null-fill missing column {f['name']!r} of "
                f"type {f['type']!r}")
    return df.select(*sel)


def ranges_from_where(where: list | Predicate | None):
    """Conservative (col, lo, hi) row-group ranges from predicate terms
    — the file-level prune continues INTO parquet row groups: = pins
    both bounds, >/>= set lo, </<= set hi, `in` spans its min..max.
    Strict bounds relax to inclusive (pruning may only over-keep)."""
    terms = where.terms if isinstance(where, Predicate) else (where or [])
    out = []
    for col, op, val in terms:
        if op == "=":
            out.append((col, val, val))
        elif op in (">", ">="):
            out.append((col, val, None))
        elif op in ("<", "<="):
            out.append((col, None, val))
        elif op == "in" and val:
            out.append((col, min(val), max(val)))
    return out or None


def iceberg_splits_df(spark, table_path: str,
                      snapshot_id: int | None = None,
                      as_of_ms: int | None = None,
                      where: list | Predicate | None = None,
                      ranges=None, num_partitions: int | None = None):
    """Snapshot-pruned (file, row_group) splits for the fused Python-
    side scan/encode paths: Iceberg planning on top, the existing
    LPT-balanced parquet split planner below. ``where`` prunes twice —
    whole files from manifest bounds here, then row groups from parquet
    stats inside the planner (ranges_from_where), merged with any
    explicit ``ranges``."""
    from .sources import parquet_splits_df

    files = plan_files(table_path, snapshot_id, as_of_ms, where, spark)
    ranges = list(ranges or []) + list(ranges_from_where(where) or [])
    return parquet_splits_df(spark, table_path, ranges=ranges or None,
                             num_partitions=num_partitions,
                             files=[f["file_path"] for f in files])


def incremental_files(table_path: str,
                      after_snapshot_id: int,
                      to_snapshot_id: int | None = None,
                      where: list | Predicate | None = None,
                      spark=None) -> list[dict]:
    """Data files APPENDED strictly after ``after_snapshot_id`` (up to
    ``to_snapshot_id``/current) — the incremental-consumption shape a
    training pipeline runs nightly: encode/dedup only what the last run
    hasn't seen, with the same partition/bounds pruning as plan_files.

    Append-only tables make this an exact delta (our writer only
    appends; anything else raised at plan time already). Files are
    attributed by the manifest's own sequence_number, so a delta never
    re-reads rewritten metadata."""
    meta = table_metadata(table_path)
    base = select_snapshot(meta, after_snapshot_id)
    head = select_snapshot(meta, to_snapshot_id)
    if head["sequence-number"] < base["sequence-number"]:
        raise ValueError("to_snapshot precedes after_snapshot")
    for s_ in meta["snapshots"]:
        seq_ = s_.get("sequence-number", 0)
        if base["sequence-number"] < seq_ <= head["sequence-number"] \
                and s_.get("summary", {}).get("operation", "append") \
                not in ("append", "delete"):
            raise ValueError(
                f"snapshot {s_['snapshot-id']} in the range is a "
                f"{s_['summary']['operation']} (files rewritten): the "
                f"append-delta is no longer exact — re-baseline the "
                f"incremental consumer after compaction")
    new = plan_files(table_path, head["snapshot-id"], None, where, spark)
    old_paths = {f["file_path"] for f in plan_files(
        table_path, base["snapshot-id"], None, None, spark)}
    return [f for f in new if f["file_path"] not in old_paths]


def encode_iceberg(spark, table_path: str,
                   snapshot_id: int | None = None,
                   as_of_ms: int | None = None,
                   where: list | Predicate | None = None,
                   columns: list[str] | None = None,
                   num_partitions: int | None = None, **encode_kw):
    """Fused Python-side encode over an Iceberg snapshot: snapshot
    selection + metadata pruning here, then engine.encode_parquet's
    zero-crossing scan/encode over the surviving files (nothing else
    changes — stripes, manifests, sinks all behave as for plain
    parquet inputs).

    POSITION deletes are applied inside the scan (the worker filters
    tombstoned row indices per row group before encoding — the GDPR
    shape: encode the corpus minus removed rows without a compaction
    pass). Equality deletes still require compact() or read_iceberg
    (their value join has no position-level expression)."""
    from . import engine

    files, dels = plan_scan(table_path, snapshot_id, as_of_ms, where,
                            spark)
    if not files:
        raise ValueError(f"no live data files in {table_path}")
    meta = table_metadata(table_path)
    fields = _schema_of(meta)
    fmts = {f["file_format"].upper() for f in files}
    if fmts == {"ORC"}:
        # all-ORC snapshot: the fused ORC twin (stripe splits,
        # byte-level projection). Tombstones reference parquet row
        # positions, so delete-bearing ORC snapshots refuse.
        if dels:
            raise NotImplementedError(
                "row-level deletes over ORC data files: compact() first")
        return engine.encode_orc(
            spark, table_path, columns=columns,
            num_partitions=num_partitions,
            files=[f["file_path"] for f in files], **{
                k: v for k, v in encode_kw.items()
                if k in ("stripe_rows", "stripe_bytes", "config")})
    if "ORC" in fmts:
        raise NotImplementedError(
            "mixed PARQUET+ORC snapshot on the fused encode path: "
            "encode per-format or compact() first")
    pos = [d for d in dels if d["content"] == 1]
    eq = [d for d in dels if d["content"] == 2]
    drop = _drop_positions(pos) if pos else None
    dropv = _drop_values(eq, files, fields) if eq else None
    return engine.encode_parquet(
        spark, table_path, columns=columns,
        num_partitions=num_partitions,
        ranges=(list(encode_kw.pop("ranges", None) or [])
                + list(ranges_from_where(where) or [])) or None,
        files=[f["file_path"] for f in files],
        drop_positions=drop, drop_values=dropv, **encode_kw)


def encode_iceberg_to_dir(spark, table_path: str, out_path: str,
                          snapshot_id: int | None = None,
                          as_of_ms: int | None = None,
                          where: list | Predicate | None = None,
                          commit_to: str | None = None,
                          **sink_kw) -> dict:
    """The resumable fused SINK over an Iceberg snapshot: snapshot
    planning + position-delete tombstones here, then
    manifest.encode_parquet_to_dir's (file, row_group)-granular
    checkpointed encode. The tombstone set is part of the resume
    config hash — a re-run against a snapshot with different deletes
    refuses instead of mixing outputs. ``commit_to`` additionally
    publishes the output stripes as an Iceberg append snapshot."""
    from . import manifest

    files, dels = plan_scan(table_path, snapshot_id, as_of_ms, where,
                            spark)
    if not files:
        raise ValueError(f"no live data files in {table_path}")
    meta = table_metadata(table_path)
    fields = _schema_of(meta)
    if any(f["file_format"].upper() != "PARQUET" for f in files):
        raise NotImplementedError(
            "non-parquet data files on the fused sink path: "
            "encode per-format (engine.encode_orc) or compact() first")
    pos = [d for d in dels if d["content"] == 1]
    eq = [d for d in dels if d["content"] == 2]
    drop = _drop_positions(pos) if pos else None
    dropv = _drop_values(eq, files, fields) if eq else None
    # pruning is file/row-group granular; the predicate is re-applied
    # ROW-level inside the workers (engine.scan_row_group residual) so
    # the output never includes non-matching rows from kept files
    terms = (where.terms if isinstance(where, Predicate)
             else (list(where) if where else None))
    if terms:
        # identity-partition terms that the plan prune evaluated on a
        # non-null partition value of EVERY selected file are already
        # exact (constant per file) — drop them from the residual.
        # This also keeps hive-layout tables working, where the
        # partition column is absent from the data files' physical
        # schema and a row-level residual would refuse.
        name_of_id = {f["id"]: f["name"] for f in fields}
        ident = {}                      # source column -> partition name
        for sp in meta.get("partition-specs", []):
            for pf in sp.get("fields", []):
                if pf.get("transform", "identity") == "identity":
                    src = name_of_id.get(pf.get("source-id"))
                    if src:
                        ident.setdefault(src, pf["name"])

        def _exactly_pruned(col: str) -> bool:
            pname = ident.get(col)
            return pname is not None and all(
                (f.get("partition") or {}).get(pname) is not None
                for f in files)

        terms = [t for t in terms if not _exactly_pruned(t[0])] or None
    summary = manifest.encode_parquet_to_dir(
        spark, table_path, out_path,
        files=[f["file_path"] for f in files],
        drop_positions=drop, drop_values=dropv, residual=terms,
        ranges=ranges_from_where(where),
        source=table_path, **sink_kw)
    if commit_to:
        snap = commit_parquet_dir(commit_to,
                                  os.path.join(out_path, "stripes"))
        summary["iceberg_snapshot"] = \
            snap["snapshot-id"] if snap else None
    return summary


def _drop_values(eq_dels: list[dict], files: list[dict],
                 fields: list[dict],
                 max_tombstones: int = 50_000_000) -> dict:
    """{data file path: [(column, Arrow value array)]} for SINGLE-
    column equality deletes, honoring the strict sequence rule: a
    delete applies only to files whose sequence number is LESS than
    the delete's. Multi-column sets raise (no vectorized positional
    expression) — compact() or read_iceberg handle those."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    total = sum(d["record_count"] or 0 for d in eq_dels)
    if total > max_tombstones:
        raise NotImplementedError(
            f"{total} equality tombstones exceed the in-memory plan "
            f"cap ({max_tombstones}); compact() the table instead")
    name_of = {f["id"]: f["name"] for f in fields}
    groups: dict[tuple, list] = {}       # cols tuple -> [(dseq, table)]
    for d in eq_dels:
        ids = tuple(sorted(d["equality_ids"] or []))
        if not ids:
            raise ValueError(
                f"equality-delete file {d['file_path']} has no "
                f"equality_ids")
        cols = tuple(sorted(name_of[i] for i in ids))
        t = pq.read_table(d["file_path"], columns=list(cols))
        groups.setdefault(cols, []).append(
            (d["sequence_number"] or 0, t))
    out: dict = {}
    memo: dict = {}     # (cols, applicable dseqs) -> shared filter obj
    for f in files:
        fseq = f["sequence_number"] or 0
        filters = []
        for cols, dels in groups.items():
            applicable = tuple(sorted(d for d, _ in dels if fseq < d))
            if not applicable:
                continue
            key = (cols, applicable)
            if key not in memo:
                merged = pa.concat_tables(
                    [t for dseq, t in dels if dseq in set(applicable)])
                merged = merged.group_by(list(cols)).aggregate([])
                memo[key] = (
                    (cols[0], merged.column(cols[0]).combine_chunks())
                    if len(cols) == 1 else (list(cols), merged))
            filters.append(memo[key])
        if filters:
            out[f["file_path"]] = filters
    return out


def _drop_positions(pos_dels: list[dict],
                    max_tombstones: int = 50_000_000) -> dict:
    """{data file path: sorted int64 positions} from position-delete
    parquet files. Tombstone sets are metadata-scale by design (a
    delete file row per removed row); the cap guards driver memory —
    beyond it, compact() is the right tool anyway."""
    import numpy as np
    import pyarrow.parquet as pq

    total = sum(d["record_count"] or 0 for d in pos_dels)
    if total > max_tombstones:
        raise NotImplementedError(
            f"{total} position tombstones exceed the in-memory plan "
            f"cap ({max_tombstones}); compact() the table instead")
    by_file: dict[str, list] = {}
    for d in pos_dels:
        t = pq.read_table(d["file_path"], columns=["file_path", "pos"])
        paths = t.column("file_path").to_pylist()
        poss = t.column("pos").to_numpy(zero_copy_only=False)
        for p, pos in zip(paths, poss):
            by_file.setdefault(_local(p), []).append(int(pos))
    return {p: np.unique(np.asarray(v, dtype=np.int64))
            for p, v in by_file.items()}


# ---------------------------------------------------------------------------
# writer: create + append commits (fixtures AND the encoded-output sink)

_MANIFEST_KV = {"type": "array", "logicalType": "map", "items": {
    "type": "record", "name": "kv", "fields": [
        {"name": "key", "type": "int"},
        {"name": "value", "type": "bytes"}]}}

_MANIFEST_KV_LONG = {"type": "array", "logicalType": "map", "items": {
    "type": "record", "name": "kvl", "fields": [
        {"name": "key", "type": "int"},
        {"name": "value", "type": "long"}]}}


def _partition_schema(spec_fields: list[dict], field_types: dict,
                      type_of_id: dict | None = None):
    pf = []
    for f in spec_fields:
        tr = f.get("transform", "identity")
        src_t = (type_of_id or {}).get(f.get("source-id")) \
            or field_types.get(f["name"], "string")
        if tr.startswith(("bucket[",)) or tr in ("year", "month",
                                                 "day", "hour"):
            t = "int"
        else:                       # identity / truncate / void
            t = src_t
        at = {"boolean": "boolean", "int": "int", "long": "long",
              "float": "float", "double": "double"}.get(t, "string")
        pf.append({"name": f["name"], "type": ["null", at],
                   "default": None})
    return {"type": "record", "name": "r102", "fields": pf}


def _manifest_schema(part_schema) -> dict:
    return {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int", "default": 0},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "partition", "type": part_schema},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
                {"name": "value_counts",
                 "type": ["null", _MANIFEST_KV_LONG], "default": None},
                {"name": "null_value_counts",
                 "type": ["null", _MANIFEST_KV_LONG], "default": None},
                {"name": "lower_bounds", "type": ["null", _MANIFEST_KV],
                 "default": None},
                {"name": "upper_bounds", "type": ["null", _MANIFEST_KV],
                 "default": None},
                {"name": "equality_ids",
                 "type": ["null", {"type": "array", "items": "int"}],
                 "default": None}]}}]}


_MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int", "default": 0},
        {"name": "sequence_number", "type": "long", "default": 0},
        {"name": "min_sequence_number", "type": "long", "default": 0},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"}]}


def _ts_micros(dt) -> int:
    """datetime -> epoch micros. Parquet stats return NAIVE datetimes
    that are UTC wall time; naive .timestamp() would re-interpret them
    in the writer machine's local zone and shift every bound by the
    UTC offset (pruning would then wrongly drop files)."""
    from datetime import timezone

    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1_000_000)


def _file_stats(path: str, fields: list[dict]):
    """record_count + per-field-id bounds from the parquet footer —
    planning stats come from metadata already written, never a data
    scan (value_counts/null_counts likewise)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    lowers, uppers, vcounts, ncounts = {}, {}, {}, {}
    by_name = {f["name"]: f for f in fields}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema.split(".")[0]
            f = by_name.get(name)
            if f is None or not isinstance(f["type"], str) \
                    or f["type"] not in _BOUND_CODECS:
                continue
            fid = f["id"]
            vcounts[fid] = vcounts.get(fid, 0) + col.num_values
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            if st.null_count is not None:
                ncounts[fid] = ncounts.get(fid, 0) + st.null_count
            mn, mx = st.min, st.max
            if f["type"] in ("timestamp", "timestamptz") and \
                    hasattr(mn, "timestamp"):
                mn, mx = _ts_micros(mn), _ts_micros(mx)
            if fid not in lowers or mn < decode_bound(f["type"],
                                                      lowers[fid]):
                lowers[fid] = encode_bound(f["type"], mn)
            if fid not in uppers or mx > decode_bound(f["type"],
                                                      uppers[fid]):
                uppers[fid] = encode_bound(f["type"], mx)
    def kv(d):
        return [{"key": k, "value": v} for k, v in sorted(d.items())]

    return (md.num_rows, os.path.getsize(path),
            kv(lowers), kv(uppers), kv(vcounts), kv(ncounts))


def create_table(table_path: str, arrow_schema,
                 partition_by: list[str] | None = None,
                 now_ms: int = 1_700_000_000_000) -> dict:
    """CREATE an empty Iceberg v2 table (metadata only, no snapshot)."""
    os.makedirs(os.path.join(table_path, "metadata"), exist_ok=True)
    os.makedirs(os.path.join(table_path, "data"), exist_ok=True)
    fields = [{"id": i + 1, "name": f.name, "required": False,
               "type": _pa_to_iceberg_type(f.type)}
              for i, f in enumerate(arrow_schema)]
    by_name = {f["name"]: f for f in fields}
    spec_fields = []
    for k, c in enumerate(partition_by or []):
        if isinstance(c, str):
            c = {"source": c, "transform": "identity"}
        src, tr = c["source"], c.get("transform", "identity")
        if src not in by_name:
            raise ValueError(
                f"partition source column {src!r} not in schema")
        base = tr.split("[")[0]
        name = c.get("name") or (src if tr == "identity"
                                 else f"{src}_{base}")
        spec_fields.append({"name": name, "transform": tr,
                            "source-id": by_name[src]["id"],
                            "field-id": 1000 + k})
    meta = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, table_path)),
        "location": table_path,
        "last-sequence-number": 0,
        "last-updated-ms": now_ms,
        "last-column-id": len(fields),
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0,
                     "fields": fields}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": 1000 + len(spec_fields) - 1
        if spec_fields else 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"write.format.default": "parquet"},
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }
    _write_metadata(table_path, 1, meta)
    return meta


def append_files(table_path: str, parquet_paths: list[str],
                 partition_values: list[dict] | None = None,
                 now_ms: int | None = None) -> dict:
    """COMMIT an append snapshot covering ``parquet_paths``.

    Writes one new manifest (stats straight from the parquet footers),
    a new manifest list carrying every prior manifest forward plus the
    new one, vN+1.metadata.json and the version hint — each file
    rename-on-commit, hint last, so a torn commit leaves the previous
    version fully readable (the resumability contract the engine's
    fused sink already follows)."""
    meta = table_metadata(table_path)
    version = _current_version(table_path)
    fields = _schema_of(meta)
    field_types = {f["name"]: f["type"] for f in fields}
    spec = next(s for s in meta["partition-specs"]
                if s["spec-id"] == meta["default-spec-id"])["fields"]
    seq = meta["last-sequence-number"] + 1
    snap_id = seq  # deterministic ids: fixtures must be reproducible
    now_ms = now_ms if now_ms is not None else \
        meta["last-updated-ms"] + 1000
    part_schema = _partition_schema(
        spec, field_types,
        type_of_id={f["id"]: f["type"] for f in fields
                    if isinstance(f["type"], str)})
    entries, nrows = [], 0
    partition_values = partition_values or [{} for _ in parquet_paths]
    if len(partition_values) != len(parquet_paths):
        raise ValueError(
            f"{len(parquet_paths)} files but {len(partition_values)} "
            f"partition_values — a short list would silently drop "
            f"trailing files from the commit")
    for p, part in zip(parquet_paths, partition_values):
        if p.endswith(".orc"):
            # ORC data files: row count from the tail footer (our own
            # reader); column bounds omitted (file still prunable by
            # partition values) — file_format drives the read path
            from .orcfile.reader import ORCFile

            fmt = "ORC"
            cnt = ORCFile(p).num_rows
            size = os.path.getsize(p)
            lo = hi = vc = nc = None
        else:
            fmt = "PARQUET"
            cnt, size, lo, hi, vc, nc = _file_stats(p, fields)
        nrows += cnt
        entries.append({
            "status": 1, "snapshot_id": snap_id, "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 0, "file_path": os.path.abspath(p),
                "file_format": fmt,
                "partition": {f["name"]: part.get(f["name"])
                              for f in spec},
                "record_count": cnt, "file_size_in_bytes": size,
                "value_counts": vc, "null_value_counts": nc,
                "lower_bounds": lo, "upper_bounds": hi}})
    mdir = os.path.join(table_path, "metadata")
    man_path = os.path.join(mdir, f"m{seq}-{snap_id}.avro")
    man_len = avro.write_container_file(
        man_path, _manifest_schema(part_schema), entries,
        extra_meta={"schema": json.dumps({"type": "struct",
                                          "fields": fields}),
                    "partition-spec-id": "0", "content": "data",
                    "format-version": "2"})
    new_manifest = {
        "manifest_path": os.path.abspath(man_path),
        "manifest_length": man_len, "partition_spec_id": 0,
        "content": 0, "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id, "added_files_count": len(entries),
        "existing_files_count": 0, "deleted_files_count": 0,
        "added_rows_count": nrows, "existing_rows_count": 0,
        "deleted_rows_count": 0}
    prior = []
    if meta.get("current-snapshot-id") is not None and meta["snapshots"]:
        cur = select_snapshot(meta)
        _, prior = avro.read_container_file(_local(cur["manifest-list"]))
    mlist_path = os.path.join(mdir, f"snap-{snap_id}.avro")
    avro.write_container_file(
        mlist_path, _MANIFEST_LIST_SCHEMA, prior + [new_manifest],
        extra_meta={"snapshot-id": str(snap_id),
                    "sequence-number": str(seq), "format-version": "2"})
    snap = {"snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms,
            "summary": {"operation": "append",
                        "added-data-files": str(len(entries)),
                        "added-records": str(nrows)},
            "manifest-list": os.path.abspath(mlist_path),
            "schema-id": meta.get("current-schema-id", 0)}
    meta = dict(meta)
    meta["snapshots"] = meta["snapshots"] + [snap]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {"timestamp-ms": now_ms, "snapshot-id": snap_id}]
    _write_metadata(table_path, version + 1, meta)
    return snap


def delete_rows(table_path: str, deletes: list[tuple[str, int]],
                now_ms: int | None = None) -> dict:
    """COMMIT a position-delete snapshot: tombstone (data_file_path,
    row_position) pairs without rewriting data files — the spec's v2
    row-level delete, the cheap shape for GDPR/dedup removals at
    corpus scale.

    Writes one parquet delete file (columns file_path, pos — the
    spec's reserved schema), a content=1 delete manifest, and a new
    manifest list carrying all prior manifests plus it; same
    rename-on-commit + hint-flip protocol as append_files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not deletes:
        raise ValueError("no delete positions given")
    meta = table_metadata(table_path)
    version = _current_version(table_path)
    seq = meta["last-sequence-number"] + 1
    snap_id = seq
    now_ms = now_ms if now_ms is not None else \
        meta["last-updated-ms"] + 1000
    rows = sorted((os.path.abspath(p), int(pos)) for p, pos in deletes)
    t = pa.table({"file_path": pa.array([r[0] for r in rows]),
                  "pos": pa.array([r[1] for r in rows], pa.int64())})
    dpath = os.path.join(table_path, "data",
                         f"delete-{seq}-{snap_id}.parquet")
    pq.write_table(t, dpath)
    return _commit_delete_file(
        table_path, meta, version, seq, snap_id, now_ms, dpath,
        content=1, n_rows=len(rows),
        summary_key="added-position-deletes")


def delete_where(table_path: str, values: list[dict],
                 now_ms: int | None = None) -> dict:
    """COMMIT an equality-delete snapshot: every live row whose
    equality columns match ANY of ``values`` (a list of same-keyed
    dicts, e.g. [{"url": ...}, ...]) is deleted — the upsert/GDPR
    shape when positions are unknown.

    Spec semantics honored at read time: an equality delete applies
    only to rows in data files with sequence_number STRICTLY LESS than
    the delete's — rows re-appended after the delete survive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not values:
        raise ValueError("no delete values given")
    cols = sorted(values[0])
    if any(sorted(v) != cols for v in values):
        raise ValueError("equality-delete rows must share one key set")
    meta = table_metadata(table_path)
    fields = _schema_of(meta)
    by_name = {f["name"]: f for f in fields}
    missing = [c for c in cols if c not in by_name]
    if missing:
        raise ValueError(f"unknown equality columns {missing}")
    version = _current_version(table_path)
    seq = meta["last-sequence-number"] + 1
    snap_id = seq
    now_ms = now_ms if now_ms is not None else \
        meta["last-updated-ms"] + 1000
    t = pa.table({c: [v[c] for v in values] for c in cols})
    dpath = os.path.join(table_path, "data",
                         f"eq-delete-{seq}-{snap_id}.parquet")
    pq.write_table(t, dpath)
    return _commit_delete_file(
        table_path, meta, version, seq, snap_id, now_ms, dpath,
        content=2, n_rows=len(values),
        summary_key="added-equality-deletes",
        equality_ids=[by_name[c]["id"] for c in cols])


def _commit_delete_file(table_path: str, meta: dict, version: int,
                        seq: int, snap_id: int, now_ms: int,
                        dpath: str, content: int, n_rows: int,
                        summary_key: str,
                        equality_ids: list[int] | None = None) -> dict:
    """Shared tail of delete_rows/delete_where: delete manifest +
    manifest list + metadata, hint flipped last."""
    spec = next(s for s in meta["partition-specs"]
                if s["spec-id"] == meta["default-spec-id"])["fields"]
    fields = _schema_of(meta)
    field_types = {f["name"]: f["type"] for f in fields}
    part_schema = _partition_schema(
        spec, field_types,
        type_of_id={f["id"]: f["type"] for f in fields
                    if isinstance(f["type"], str)})
    entry = {"status": 1, "snapshot_id": snap_id, "sequence_number": seq,
             "file_sequence_number": seq,
             "data_file": {
                 "content": content, "file_path": os.path.abspath(dpath),
                 "file_format": "PARQUET",
                 "partition": {f["name"]: None for f in spec},
                 "record_count": n_rows,
                 "file_size_in_bytes": os.path.getsize(dpath),
                 "equality_ids": equality_ids}}
    mdir = os.path.join(table_path, "metadata")
    man_path = os.path.join(mdir, f"d{seq}-{snap_id}.avro")
    man_len = avro.write_container_file(
        man_path, _manifest_schema(part_schema), [entry],
        extra_meta={"partition-spec-id": "0", "content": "deletes",
                    "format-version": "2"})
    new_manifest = {
        "manifest_path": os.path.abspath(man_path),
        "manifest_length": man_len, "partition_spec_id": 0,
        "content": 1, "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id, "added_files_count": 1,
        "existing_files_count": 0, "deleted_files_count": 0,
        "added_rows_count": n_rows, "existing_rows_count": 0,
        "deleted_rows_count": 0}
    prior = []
    if meta.get("current-snapshot-id") is not None and meta["snapshots"]:
        cur = select_snapshot(meta)
        _, prior = avro.read_container_file(_local(cur["manifest-list"]))
    mlist_path = os.path.join(mdir, f"snap-{snap_id}.avro")
    avro.write_container_file(
        mlist_path, _MANIFEST_LIST_SCHEMA, prior + [new_manifest],
        extra_meta={"snapshot-id": str(snap_id),
                    "sequence-number": str(seq), "format-version": "2"})
    snap = {"snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms,
            "summary": {"operation": "delete",
                        "added-delete-files": "1",
                        summary_key: str(n_rows)},
            "manifest-list": os.path.abspath(mlist_path),
            "schema-id": meta.get("current-schema-id", 0)}
    meta = dict(meta)
    meta["snapshots"] = meta["snapshots"] + [snap]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {"timestamp-ms": now_ms, "snapshot-id": snap_id}]
    _write_metadata(table_path, version + 1, meta)
    return snap


def add_column(table_path: str, name: str, ice_type: str,
               now_ms: int | None = None) -> dict:
    """Schema evolution: ADD COLUMN (always optional/nullable, as the
    spec requires for added fields). Commits a new schema with a fresh
    field-id and bumped schema-id; existing data files read the new
    column as null. Dropping/renaming is out of scope (documented)."""
    if ice_type not in _BOUND_CODECS and ice_type != "binary":
        raise NotImplementedError(f"Iceberg type {ice_type!r}")
    meta = dict(table_metadata(table_path))
    version = _current_version(table_path)
    fields = list(_schema_of(meta))
    if any(f["name"] == name for f in fields):
        raise ValueError(f"column {name!r} already exists")
    fid = meta["last-column-id"] + 1
    fields = fields + [{"id": fid, "name": name, "required": False,
                        "type": ice_type}]
    sid = meta.get("current-schema-id", 0) + 1
    meta["schemas"] = meta.get("schemas", []) + [
        {"type": "struct", "schema-id": sid, "fields": fields}]
    meta["current-schema-id"] = sid
    meta["last-column-id"] = fid
    meta["last-updated-ms"] = now_ms if now_ms is not None else \
        meta["last-updated-ms"] + 1000
    _write_metadata(table_path, version + 1, meta)
    return meta


def commit_parquet_dir(table_path: str, data_dir: str,
                       partition_values: dict | None = None,
                       now_ms: int | None = None) -> dict | None:
    """Commit every not-yet-committed parquet part under ``data_dir``
    as ONE append snapshot — the Iceberg face of the fused sinks.

    `manifest.encode_parquet_to_dir` / `engine.decode_parquet_to_dir`
    already write rename-committed parts with ledgered visibility; this
    adds table-format semantics on top: readers get snapshot isolation
    (a half-finished re-run is invisible until its commit), and resumed
    runs commit only their NEW parts — already-committed file paths are
    skipped, so calling this after every (re)run is idempotent. Creates
    the table (schema from the first part's parquet footer) when
    missing. Returns the new snapshot, or None if nothing new."""
    import glob as _glob

    import pyarrow.parquet as pq

    parts = sorted(
        p for p in _glob.glob(os.path.join(data_dir, "*.parquet"))
        if not os.path.basename(p).startswith((".", "_")))
    if not parts:
        raise ValueError(f"no parquet parts under {data_dir}")
    if not os.path.exists(os.path.join(table_path, "metadata")):
        create_table(table_path, pq.read_schema(parts[0]),
                     partition_by=sorted(partition_values or {}))
    meta = table_metadata(table_path)
    already: set[str] = set()
    if meta.get("current-snapshot-id") is not None:
        # plan_scan, not plan_files: only PATHS are needed here, so a
        # table carrying row-level deletes must not block new appends
        already = {f["file_path"]
                   for f in plan_scan(table_path)[0]}
    new = [p for p in parts if os.path.abspath(p) not in already]
    if not new:
        return None
    pv = [dict(partition_values or {}) for _ in new]
    return append_files(table_path, new, pv, now_ms=now_ms)


def compact(spark, table_path: str, now_ms: int | None = None,
            target_file_rows: int = 1_000_000) -> dict:
    """Rewrite the current snapshot: apply all row-level deletes, merge
    files per partition, and COMMIT a REPLACE snapshot whose manifest
    list carries ONLY the rewritten files — delete files and old data
    files drop out of the live view (still reachable by time travel).

    This is the maintenance pass a 100 TB pipeline schedules anyway
    (small-file compaction); here it also restores the fused raw-
    position paths after deletes, since the rewritten snapshot is
    tombstone-free. Executors write the data (one Spark write,
    partitionBy on the identity partition columns); only footer stats
    and Avro metadata touch the driver."""
    import glob as _glob

    import pyarrow.parquet as pq

    meta = table_metadata(table_path)
    version = _current_version(table_path)
    fields = _schema_of(meta)
    spec = next(s for s in meta["partition-specs"]
                if s["spec-id"] == meta["default-spec-id"])["fields"]
    part_cols = [f["name"] for f in spec]
    seq = meta["last-sequence-number"] + 1
    snap_id = seq
    now_ms = now_ms if now_ms is not None else \
        meta["last-updated-ms"] + 1000
    df = read_iceberg(spark, table_path)      # deletes applied here
    name_of_id = {f["id"]: f["name"] for f in fields}
    type_of_id = {f["id"]: f["type"] for f in fields
                  if isinstance(f["type"], str)}
    # transform specs: evaluate each transform as a computed column so
    # partitionBy routes rows into the right hive dirs (identity specs
    # partition directly on the source column, which partitionBy then
    # strips — reads restore it from the manifest partition values)
    for sf in spec:
        tr = sf.get("transform", "identity")
        if tr == "identity":
            continue
        src = name_of_id[sf["source-id"]]
        src_t = type_of_id.get(sf["source-id"])
        df = df.withColumn(
            sf["name"], _transform_column(spark, tr, src, src_t))
    out_dir = os.path.join(table_path, "data", f"compact-{seq}")
    writer = df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(out_dir)
    # enumerate written parts; partition values come from the hive dirs
    from urllib.parse import unquote

    # result type per SPEC FIELD name: bucket/temporal -> int,
    # truncate/identity -> the source column's type
    field_type = {}
    for sf in spec:
        tr = sf.get("transform", "identity")
        src_t = type_of_id.get(sf["source-id"], "string")
        if tr.startswith("bucket[") or tr in ("year", "month", "day",
                                              "hour"):
            field_type[sf["name"]] = "int"
        else:
            field_type[sf["name"]] = src_t
    paths, parts = [], []
    for p in sorted(_glob.glob(os.path.join(out_dir, "**", "*.parquet"),
                               recursive=True)):
        rel = os.path.relpath(p, out_dir)
        pv = {}
        for seg in rel.split(os.sep)[:-1]:
            k, _, v = seg.partition("=")
            if v == "__HIVE_DEFAULT_PARTITION__":
                pv[k] = None
                continue
            # hive dirs stringify and %-escape values; undo both
            v = unquote(v)
            t = field_type.get(k)
            if t in ("int", "long"):
                pv[k] = int(v)
            elif t in ("float", "double"):
                pv[k] = float(v)
            elif t == "boolean":
                pv[k] = v.lower() == "true"
            else:
                pv[k] = v
        if pq.ParquetFile(p).metadata.num_rows == 0:
            continue
        paths.append(p)
        parts.append(pv)
    if not paths:
        raise ValueError("compaction produced no data files")
    # build the replace snapshot: ONLY the new manifest in the list
    field_types = {f["name"]: f["type"] for f in fields}
    part_schema = _partition_schema(
        spec, field_types,
        type_of_id={f["id"]: f["type"] for f in fields
                    if isinstance(f["type"], str)})
    entries, nrows = [], 0
    for p, part in zip(paths, parts):
        cnt, size, lo, hi, vc, nc = _file_stats(p, fields)
        nrows += cnt
        entries.append({
            "status": 1, "snapshot_id": snap_id, "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 0, "file_path": os.path.abspath(p),
                "file_format": "PARQUET",
                "partition": {f["name"]: part.get(f["name"])
                              for f in spec},
                "record_count": cnt, "file_size_in_bytes": size,
                "value_counts": vc, "null_value_counts": nc,
                "lower_bounds": lo, "upper_bounds": hi}})
    mdir = os.path.join(table_path, "metadata")
    man_path = os.path.join(mdir, f"m{seq}-{snap_id}.avro")
    man_len = avro.write_container_file(
        man_path, _manifest_schema(part_schema), entries,
        extra_meta={"partition-spec-id": "0", "content": "data",
                    "format-version": "2"})
    new_manifest = {
        "manifest_path": os.path.abspath(man_path),
        "manifest_length": man_len, "partition_spec_id": 0,
        "content": 0, "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id, "added_files_count": len(entries),
        "existing_files_count": 0, "deleted_files_count": 0,
        "added_rows_count": nrows, "existing_rows_count": 0,
        "deleted_rows_count": 0}
    mlist_path = os.path.join(mdir, f"snap-{snap_id}.avro")
    avro.write_container_file(
        mlist_path, _MANIFEST_LIST_SCHEMA, [new_manifest],
        extra_meta={"snapshot-id": str(snap_id),
                    "sequence-number": str(seq), "format-version": "2"})
    snap = {"snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms,
            "summary": {"operation": "replace",
                        "added-data-files": str(len(entries)),
                        "added-records": str(nrows)},
            "manifest-list": os.path.abspath(mlist_path),
            "schema-id": meta.get("current-schema-id", 0)}
    meta = dict(meta)
    meta["snapshots"] = meta["snapshots"] + [snap]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = seq
    meta["last-updated-ms"] = now_ms
    meta["snapshot-log"] = meta.get("snapshot-log", []) + [
        {"timestamp-ms": now_ms, "snapshot-id": snap_id}]
    _write_metadata(table_path, version + 1, meta)
    return snap


def expire_snapshots(table_path: str, keep_last: int = 1,
                     older_than_ms: int | None = None,
                     dry_run: bool = False,
                     now_ms: int | None = None) -> dict:
    """Expire old snapshots and DELETE the files only they reference —
    the retention half of table maintenance (compact() rewrites, this
    reclaims). Keeps the newest ``keep_last`` snapshots, plus any newer
    than ``older_than_ms``; the current snapshot always survives.

    Deletion is computed as (files referenced by expired snapshots)
    minus (files referenced by ANY retained snapshot), so shared data
    files — the common case after plain appends — are never touched.
    Time travel to an expired snapshot raises afterwards (its metadata
    entry is gone); readers of retained snapshots are unaffected
    because the new metadata version commits via the same hint-flip.

    ``dry_run`` returns the plan without deleting or committing.
    Returns {"expired": [ids], "deleted_files": [...], "kept": [ids]}.
    """
    meta = table_metadata(table_path)
    version = _current_version(table_path)
    snaps = sorted(meta.get("snapshots", []),
                   key=lambda s: s["sequence-number"])
    if not snaps:
        raise ValueError("table has no snapshots")
    cur = meta.get("current-snapshot-id")
    keep = set(s["snapshot-id"] for s in snaps[-max(keep_last, 1):])
    if older_than_ms is not None:
        keep |= {s["snapshot-id"] for s in snaps
                 if s["timestamp-ms"] > older_than_ms}
    keep.add(cur)
    expired = [s for s in snaps if s["snapshot-id"] not in keep]
    if not expired:
        return {"expired": [], "deleted_files": [],
                "kept": sorted(keep)}

    def _referenced(snapshot) -> tuple[set, set]:
        """(manifest paths incl. the list, data/delete file paths)."""
        mans, datafiles = set(), set()
        mlist = _local(snapshot["manifest-list"])
        mans.add(mlist)
        _, entries = avro.read_container_file(mlist)
        for m in entries:
            mpath = _local(m["manifest_path"])
            mans.add(mpath)
            _, es = avro.read_container_file(mpath)
            for e in es:
                if e.get("status") != 2:
                    datafiles.add(_local(e["data_file"]["file_path"]))
        return mans, datafiles

    kept_mans, kept_files = set(), set()
    for s in snaps:
        if s["snapshot-id"] in keep:
            m, d = _referenced(s)
            kept_mans |= m
            kept_files |= d
    dead_mans, dead_files = set(), set()
    for s in expired:
        m, d = _referenced(s)
        dead_mans |= m - kept_mans
        dead_files |= d - kept_files
    doomed = sorted(dead_mans | dead_files)
    if dry_run:
        return {"expired": [s["snapshot-id"] for s in expired],
                "deleted_files": doomed, "kept": sorted(keep)}
    now_ms = now_ms if now_ms is not None else \
        meta["last-updated-ms"] + 1000
    meta = dict(meta)
    meta["snapshots"] = [s for s in snaps if s["snapshot-id"] in keep]
    meta["snapshot-log"] = [
        e for e in meta.get("snapshot-log", [])
        if e["snapshot-id"] in keep]
    meta["last-updated-ms"] = now_ms
    _write_metadata(table_path, version + 1, meta)
    # files go AFTER the metadata commit: a crash in between leaves
    # orphans (harmless, re-expirable), never dangling references
    for p in doomed:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass
    return {"expired": [s["snapshot-id"] for s in expired],
            "deleted_files": doomed, "kept": sorted(keep)}


def _current_version(table_path: str) -> int:
    hint = os.path.join(table_path, "metadata", "version-hint.text")
    with open(hint) as f:
        return int(f.read().strip())


def _write_metadata(table_path: str, version: int, meta: dict) -> None:
    mdir = os.path.join(table_path, "metadata")
    mpath = os.path.join(mdir, f"v{version}.metadata.json")
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, mpath)
    hint = os.path.join(mdir, "version-hint.text")
    with open(hint + ".tmp", "w") as f:
        f.write(str(version))
    os.replace(hint + ".tmp", hint)        # hint flips LAST: torn-commit safe
