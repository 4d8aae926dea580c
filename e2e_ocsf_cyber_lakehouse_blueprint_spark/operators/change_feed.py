"""Change data feed — row-level CDC between snapshots (Delta CDF analogue).

The reference's medallion layers read each other incrementally ("SDP handles
checkpointing", `PIPELINE_OVERVIEW.md:165`); its platform exposes row-level
changes as `table_changes()`. This module is that surface for our format:

- **Appends are free.** An append snapshot's inserted rows ARE its added data
  files (manifest entries with ``status=ADDED`` for that snapshot), so the
  feed reads them directly — no write amplification on the hot ingest path,
  exactly like Delta CDF.
- **Row-changing commits record change files at write time.** With the
  ``write.change-data-feed.enabled`` table property, DELETE / UPDATE / MERGE
  write the changed rows (+ ``_change_type`` of ``delete`` /
  ``update_preimage`` / ``update_postimage`` / ``insert``) as parquet under
  ``<table>/changes/<uuid>/`` and point to the directory from the snapshot
  summary (``change-data-dir``). Reconstructing a DELETE's victims after the
  fact would mean diffing rewritten files row-by-row — at 100 TB that is a
  full-table join, so the writer pays the (small, proportional-to-changes)
  cost instead.
- **Layout-only commits emit nothing.** Compaction / clustering / expire
  move bytes, not rows; the feed skips ``replace`` and ``expire`` snapshots.
- **Equality-delete commits are reconstructed, not recorded.** An eqdel /
  upsert commit's key parquet IS its change record: the feed reads it and
  emits ``delete`` rows carrying the key columns (non-key columns NULL — no
  preimage exists because the write never scanned data), plus the upsert's
  appended rows as ``insert``. O(keys) at read time, zero write overhead.

``change_feed(table, from, to)`` unions the per-snapshot slices with a
``_commit_snapshot_id`` column, resolved along the ``to`` snapshot's
parent-chain ancestry so staged (WAP) and branch-only commits never leak
into main's feed. Commits that changed rows but recorded no change files
(CDF was off) fail loudly rather than returning a wrong feed.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..format import manifest as mf
from ..format.table import Table
from ..session import local_frame

CHANGE_TYPE_COL = "_change_type"
COMMIT_COL = "_commit_snapshot_id"


def cdf_enabled(table: Table) -> bool:
    return table.meta.properties.get("write.change-data-feed.enabled") == "true"


def write_change_data(table: Table, changes: DataFrame) -> str:
    """Write a job's change rows (must already carry ``_change_type``) under
    ``<table>/changes/``; returns the directory path for the snapshot summary.

    Lives outside ``data/`` so orphan-file GC (which scans only the data
    tree) never races it; expiration of the owning snapshot is the natural
    retention boundary for the change files themselves."""
    out = os.path.join(table.location, "changes", uuid.uuid4().hex[:16])
    changes.write.mode("error").parquet(out)
    return out


def _added_files(table: Table, snapshot, content: str = "data") -> list[str]:
    """Files of the given content kind first added by exactly this snapshot."""
    paths = []
    for rec in mf.read_manifest_list(snapshot.manifest_list):
        if rec.get("added_snapshot_id") != snapshot.snapshot_id:
            continue
        for e in mf.read_manifest(rec["path"]):
            if (e["status"] == mf.STATUS_ADDED
                    and e["snapshot_id"] == snapshot.snapshot_id
                    and e.get("content", "data") == content):
                paths.append(e["path"])
    return paths


def _eqdel_delete_slice(table: Table, snapshot) -> DataFrame | None:
    """Reconstruct an equality-delete commit's change rows from its eqdel
    key file — free at read time (the key parquet already exists, O(keys)).

    The emitted rows carry the DELETED KEY with every non-key column NULL:
    no data scan happened at write time (that is the point of eqdels), so
    full preimages do not exist. Downstream appliers delete by key, which
    is exactly the information an eqdel carries."""
    paths = _added_files(table, snapshot, content="eqdel")
    if not paths:
        return None
    spark = table.spark
    keys = spark.read.parquet(*paths)
    key_cols = set(keys.columns)
    # an eqdel key file written before a RENAME COLUMN keeps the old
    # physical name; surface it under the current schema name
    old_of = {cur: [o for o in olds if o in key_cols]
              for cur, olds in table.rename_map().items()}
    def _src(f):
        if f.name in key_cols:
            return F.col(f.name)
        for o in reversed(old_of.get(f.name, [])):
            return F.col(o)
        return F.lit(None).cast(f.dataType)
    padded = keys.select(*[_src(f).alias(f.name) for f in table.schema.fields])
    return padded.withColumn(CHANGE_TYPE_COL, F.lit("delete"))


def change_feed(
    table: Table,
    from_snapshot_id: int | None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Row-level changes committed AFTER ``from_snapshot_id`` (exclusive, None
    = table start) up to ``to_snapshot_id`` (inclusive, None = current).

    Snapshots are resolved along the parent-chain ANCESTRY of the ``to``
    snapshot, not the flat snapshot log: branch-only appends and staged (WAP)
    commits live in the same log without ever having been this line's visible
    state, and must not surface — not before a fast-forward, and never for an
    abandoned branch. ``from_snapshot_id`` must be an ancestor of ``to``.

    Equality-delete ("delete"/"upsert") commits are reconstructed from their
    eqdel key files: "delete" rows carry the key columns with all other
    columns NULL (no preimage exists — the write never scanned data); an
    upsert additionally emits its appended rows as "insert". Within one
    upsert commit, appliers process deletes before inserts."""
    spark = table.spark
    schema = table.schema
    chain = table.meta.ancestry(to_snapshot_id)
    if from_snapshot_id is not None:
        ids = [s.snapshot_id for s in chain]
        if from_snapshot_id not in ids:
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of "
                f"{'current' if to_snapshot_id is None else to_snapshot_id} — "
                "the change feed follows one line of history")
        chain = chain[ids.index(from_snapshot_id) + 1:]

    empty = (local_frame(spark, [], schema)
             .withColumn(CHANGE_TYPE_COL, F.lit("insert"))
             .withColumn(COMMIT_COL, F.lit(0).cast("long")))
    slices: list[DataFrame] = [empty]
    for s in chain:
        cdir = s.summary.get("change-data-dir")
        if cdir is not None:
            sl = (spark.read.parquet(cdir)
                  .withColumn(COMMIT_COL, F.lit(s.snapshot_id)))
        elif s.operation in ("append", "clone"):
            # a clone's first snapshot is its initial row population: the
            # feed reports those rows as inserted at clone time, matching
            # Delta's table_changes over a cloned table from version 0
            added = _added_files(table, s)
            if not added:
                continue
            sl = (table.read_parquet(added, schema)
                  .withColumn(CHANGE_TYPE_COL, F.lit("insert"))
                  .withColumn(COMMIT_COL, F.lit(s.snapshot_id)))
        elif s.operation in ("delete", "upsert") and s.summary.get(
                "eq-columns"):
            parts = []
            dels = _eqdel_delete_slice(table, s)
            if dels is not None:
                parts.append(dels)
            if s.operation == "upsert":
                added = _added_files(table, s)
                if added:
                    parts.append(
                        table.read_parquet(added, schema)
                        .withColumn(CHANGE_TYPE_COL, F.lit("insert")))
            if not parts:
                continue
            sl = parts[0]
            for p in parts[1:]:
                sl = sl.unionByName(p)
            sl = sl.withColumn(COMMIT_COL, F.lit(s.snapshot_id))
        elif s.operation in ("replace", "expire", "staged-append"):
            # layout/metadata only — no VISIBLE row change (a staged append's
            # rows enter the feed at their publish snapshot, when readers can
            # first see them)
            continue
        else:
            raise ValueError(
                f"snapshot {s.snapshot_id} ({s.operation}) changed rows but "
                "recorded no change data — enable "
                "write.change-data-feed.enabled before row-changing commits"
            )
        slices.append(sl)
    out = slices[0]
    for sl in slices[1:]:
        out = out.unionByName(sl)
    return out
