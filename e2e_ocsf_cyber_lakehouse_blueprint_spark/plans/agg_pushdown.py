"""Metadata-only aggregation: COUNT / MIN / MAX answered from manifest stats.

The reference's platform answers ``SELECT COUNT(*)`` on a Delta table from
the transaction log without touching data (the blueprint's dashboards count
audit events constantly, `_resources/PIPELINE_OVERVIEW.md`). At the
10^12-turn design point this is the difference between an O(manifest)
driver computation and a full 100 TB scan, so the engine plans aggregate
queries against the manifest tree first and reads data only where the
statistics cannot decide.

Shape
-----
``metadata_agg(table, items, predicates)`` classifies every live data file
that survives pruning into:

- **fully covered** — every predicate conjunct provably holds for every row
  (:func:`plans.pruning.covers_bounds`, the dual of the skip test) AND the
  file carries every statistic the aggregate list needs. Its contribution is
  computed from ``record_count`` / ``null_counts`` / decoded min-max bounds
  with zero I/O.
- **residual** — bounds overlap the predicate but don't decide it (or a
  needed stat is missing). Only these files are scanned, with the original
  predicates re-applied, and the partial aggregate is unioned with the
  metadata partial and folded: counts SUM, mins MIN, maxes MAX. The plan is
  fully declarative — no driver-side collect of data rows.

The metadata partial enters Spark through ``session.local_frame`` (as
every driver-held row does), so it is a ``LocalRelation``: a fully covered
answer collects with zero Spark jobs, and its naive timestamps are UTC wall
time whatever the driver host's local zone.

Soundness gates (fall back to the normal scan by returning ``None``):

- any live **equality delete** in sequence range, or any positional delete
  when the query has predicates or MIN/MAX items (a masked row could be the
  extreme). The one delete-aware fast path kept is pure ``COUNT(*)`` with
  no WHERE over positional deletes: total = sum(record_count) − distinct
  masked positions, read from the metadata-sized delete parquet only.
- MIN/MAX on string columns: manifest string bounds are truncated
  (Iceberg-style, `format/manifest.py:94-114`), so a stored lower bound is
  a *prefix* of the true minimum, not the minimum itself. Numeric,
  date and timestamp bounds round-trip exactly and are allowed.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass
from typing import Any, Sequence

from pyspark.sql import DataFrame, functions as F, types as T

from ..format.manifest import DataFile, decode_bound
from ..session import local_frame
from .pruning import Predicate, covers_bounds, _stat_name

# bound encodings for these types decode to values whose Python ordering
# matches the column's SQL ordering, with no truncation path
_EXACT_BOUND_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.BooleanType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)
_TEMPORAL = (T.DateType, T.TimestampType, T.TimestampNTZType)


@dataclass(frozen=True)
class AggItem:
    """One aggregate output column: fn in count_star|count|min|max."""
    fn: str
    col: str | None
    alias: str


def _decode_temporal(v: str, dtype: T.DataType):
    if isinstance(dtype, T.DateType):
        return datetime.date.fromisoformat(v)
    return datetime.datetime.fromisoformat(v)


def metadata_agg(
    table,
    items: Sequence[AggItem],
    predicates: Sequence[Predicate] | None = None,
    *,
    snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None,
    ref: str | None = None,
) -> DataFrame | None:
    """Plan ``SELECT <items> FROM table [WHERE predicates]`` from manifest
    statistics; returns ``None`` when the fast path cannot be proven sound
    (caller runs the ordinary scan — results are identical either way)."""
    if ref is not None:
        snapshot_id = table.ref_snapshot(ref).snapshot_id
    elif as_of_timestamp_ms is not None:
        snapshot_id = table.snapshot_as_of(as_of_timestamp_ms).snapshot_id

    fields = {f.name: f.dataType for f in table.schema.fields}
    for it in items:
        if it.fn not in ("count_star", "count", "min", "max"):
            return None
        if it.fn != "count_star":
            if it.col not in fields:
                return None
            if it.fn in ("min", "max") and not isinstance(
                    fields[it.col], _EXACT_BOUND_TYPES):
                return None

    files = table.plan_scan(predicates, snapshot_id)
    dels, eqdels = table.live_deletes(snapshot_id)
    min_seq = min((f.data_sequence for f in files), default=0)
    if any(d.data_sequence > min_seq for d in eqdels):
        return None
    paths = {f.path for f in files}
    hit_dels = [d for d in dels if paths.intersection(d.covered_paths)]
    if hit_dels:
        if predicates or any(it.fn != "count_star" for it in items):
            return None
        total = sum(f.record_count for f in files)
        # live-path restriction via a broadcast semi-join, not a giant
        # isin literal — at 10^5+ files an IN expression tree chokes
        # codegen while a metadata-sized build side broadcasts fine
        live = local_frame(
            table.spark, [(p,) for p in paths], "file_path string")
        masked = (
            table.spark.read.parquet(*[d.path for d in hit_dels])
            .join(F.broadcast(live), "file_path", "left_semi")
            .select("file_path", "pos").distinct().count()
        )
        row = [tuple(total - masked for _ in items)]
        return local_frame(table.spark, row, T.StructType(
            [T.StructField(it.alias, T.LongType()) for it in items]))

    names = {
        col: [col] + list(reversed(olds))
        for col, olds in table.rename_map().items()
    }
    preds = list(predicates or [])

    def stats_complete(f: DataFile) -> bool:
        for it in items:
            if it.fn == "count_star":
                continue
            name = _stat_name(f, it.col, names.get(it.col))
            nc = f.null_counts.get(name)
            if nc is None:
                return False
            if it.fn in ("min", "max") and nc < f.record_count:
                side = f.lower_bounds if it.fn == "min" else f.upper_bounds
                if side.get(name) is None:
                    return False
        return True

    full: list[DataFile] = []
    residual: list[DataFile] = []
    for f in files:
        if all(covers_bounds(f, c, op, v, fields.get(c), names.get(c))
               for (c, op, v) in preds) and stats_complete(f):
            full.append(f)
        else:
            residual.append(f)

    out_fields = []
    for it in items:
        dt = (T.LongType() if it.fn in ("count_star", "count")
              else fields[it.col])
        out_fields.append(T.StructField(it.alias, dt))
    out_schema = T.StructType(out_fields)

    meta_vals = []
    try:
        for it in items:
            if it.fn == "count_star":
                meta_vals.append(sum(f.record_count for f in full))
                continue
            if it.fn == "count":
                meta_vals.append(sum(
                    f.record_count
                    - f.null_counts[_stat_name(f, it.col, names.get(it.col))]
                    for f in full))
                continue
            side_of = (lambda f: f.lower_bounds) if it.fn == "min" \
                else (lambda f: f.upper_bounds)
            vals = []
            for f in full:
                name = _stat_name(f, it.col, names.get(it.col))
                if f.null_counts[name] == f.record_count:
                    continue  # all-null file contributes nothing to min/max
                vals.append(decode_bound(side_of(f)[name]))
            agg = (min(vals) if it.fn == "min" else max(vals)) if vals else None
            if agg is not None and isinstance(fields[it.col], _TEMPORAL):
                agg = _decode_temporal(agg, fields[it.col])
            meta_vals.append(agg)
    except (KeyError, TypeError, ValueError):
        return None  # malformed/unexpected stats: take the ordinary scan

    meta_df = local_frame(table.spark, [tuple(meta_vals)], out_schema)
    if not residual:
        return meta_df

    scan = table.read_data_files(residual, snapshot_id=snapshot_id)
    if preds:
        scan = scan.filter(table._residual(preds))
    part_aggs = []
    for it, of in zip(items, out_fields):
        if it.fn == "count_star":
            e = F.count(F.lit(1))
        elif it.fn == "count":
            e = F.count(it.col)
        else:
            e = getattr(F, it.fn)(it.col)
        part_aggs.append(e.cast(of.dataType).alias(it.alias))
    both = meta_df.unionByName(scan.agg(*part_aggs))
    final = []
    for it, of in zip(items, out_fields):
        fold = F.sum if it.fn in ("count_star", "count") \
            else getattr(F, it.fn)
        final.append(fold(it.alias).cast(of.dataType).alias(it.alias))
    return both.agg(*final)
