"""ORC stripe splits for the one fused-scan planner,
``sources.plan_splits``.

The reference's stripe directory is pure tail metadata
(reference: src/Orc/Schema/Types.hs:79-90 — StripeInformation lives in
the Footer), so listing (file, stripe) splits is the same job as
listing parquet row groups: ``stripe_lister`` is the per-file lister
``plan_splits`` runs, in its threaded driver mode and in its
distributed footer-read mode alike. It reads one file's tail, prunes
stripes on their statistics and raises ValueError naming the file when
its schema fails the check against the first file's schema, so a mixed
directory fails before any data is decoded (in distributed mode, when
the job that runs the plan starts).

- ``plan_stripes``: (first file's schema, ``sources.SplitPlan``) for the
  Spark paths — ``spark_source.read_orc_distributed`` and
  ``engine.encode_orc`` run ``plan.map_in_arrow``, LPT-packed into the
  planner's bucket count like every parquet sink.
- ``orc_splits_threaded``: the concrete split list through the same
  threaded lister (``sources.list_splits``), for the Python DataSource,
  whose ``partitions()`` contract REQUIRES a driver-side list (no
  SparkSession exists in the data-source planning process).
"""
from __future__ import annotations

import pyarrow as pa

from .. import sources

SPLIT_SCHEMA = pa.schema([("file", pa.string()), ("stripe", pa.int32()),
                          ("nbytes", pa.int64()), ("nrows", pa.int64())])


def _stripe_rows(f: str, ranges) -> tuple[pa.Schema, list[tuple]]:
    """Tail-only read of one ORC file -> (schema, split rows).

    A split row is (file, stripe, nbytes, nrows); ``ranges`` is a list
    of (column, lo, hi) bounds intersected against the file's stripe
    statistics (Metadata section) before any task is scheduled.
    """
    from .reader import ORCFile

    orc = ORCFile(f)
    keep = list(range(len(orc.stripes)))
    for col, lo, hi in ranges or ():
        try:
            allowed = set(orc.prune_stripes(col, lo, hi))
        except Exception:
            continue  # unknown column / no stats: keep all stripes
        keep = [i for i in keep if i in allowed]
    rows = []
    for i in keep:
        info = orc.stripes[i]
        nbytes = (info.get("indexLength", 0) + info.get("dataLength", 0)
                  + info.get("footerLength", 0))
        rows.append((f, i, nbytes, info.get("numberOfRows", 0)))
    return orc.schema, rows


def schema_incompatibility(read_schema: pa.Schema,
                           file_schema: pa.Schema) -> str | None:
    """Projection compatibility, the way Spark's own ORC reader treats
    evolved directories: a file may ADD columns (ignored) or LACK
    nullable columns of the read schema (null-filled at decode); a
    field present in both must have the identical type. Returns a
    human-readable reason when incompatible, else None."""
    shared = 0
    for field in read_schema:
        idx = file_schema.get_field_index(field.name)
        if idx < 0:
            continue  # missing column: null-filled by the reader
        shared += 1
        ft = file_schema.field(idx).type
        if ft != field.type:
            return (f"column {field.name!r} has type {ft} but the read "
                    f"schema expects {field.type}")
    if len(read_schema) and not shared:
        # a file sharing NO columns is a wrong directory, not evolution
        return "shares no columns with the read schema"
    return None


def stripe_lister(schema0: pa.Schema, check_schema: bool | str = True):
    """Per-file lister for ``sources.plan_splits``: ``(file, ranges)`` ->
    the file's stripe split rows, after checking its schema against
    ``schema0``. ``check_schema``: True requires the schema EQUAL to
    ``schema0``; ``"evolve"`` only requires projection compatibility
    (see schema_incompatibility) — added/missing nullable columns pass,
    type conflicts fail; False checks nothing. A failure raises
    ValueError naming the offending file."""

    def lister(f: str, ranges) -> list[tuple]:
        schema, rows = _stripe_rows(f, ranges)
        why = None
        if check_schema == "evolve":
            why = schema_incompatibility(schema0, schema)
        elif check_schema and not schema.equals(schema0):
            why = f"{schema} vs {schema0} (first file)"
        if why:
            raise ValueError(f"schema mismatch in {f!r}: {why}")
        return rows

    return lister


def _first_schema(files: list[str]) -> pa.Schema:
    from .reader import ORCFile

    return ORCFile(files[0]).schema


def orc_splits_threaded(files: list[str], ranges=None,
                        check_schema: bool | str = True
                        ) -> tuple[pa.Schema | None, list[tuple]]:
    """Threaded driver-side planning: (first file's schema, split rows),
    with ``stripe_lister``'s schema check raising at PLANNING time, not
    as a task-side cast error."""
    if not files:
        return None, []
    schema0 = _first_schema(files)
    return schema0, sources.list_splits(
        files, ranges, stripe_lister(schema0, check_schema))


def plan_stripes(spark, files: list[str], ranges=None,
                 num_partitions: int | None = None,
                 check_schema: bool | str = True
                 ) -> tuple[pa.Schema, sources.SplitPlan]:
    """(first file's schema, ``sources.SplitPlan`` of the (file, stripe,
    nbytes, nrows) splits of ORC ``files``), planned by
    ``sources.plan_splits`` in either of its modes. The schema comes
    from one driver tail read: the Spark-facing Arrow schema must exist
    on the driver whatever the mode."""
    if not files:
        raise ValueError("no ORC files to plan")
    schema0 = _first_schema(files)
    return schema0, sources.plan_splits(
        spark, "<orc>", ranges, num_partitions, files=files,
        lister=stripe_lister(schema0, check_schema), schema=SPLIT_SCHEMA)
