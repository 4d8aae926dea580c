"""Snapshot expiration + orphan-file GC.

The retention half of the Delta ACID layer the reference gets for free
(`_resources/PIPELINE_OVERVIEW.md:319`; VACUUM analogue). Two separated steps:

1. ``Table.expire_snapshots`` (metadata): drop all but the newest K snapshots,
   reference-count data files across RETAINED snapshots, report files whose
   refcount fell to zero.
2. Orphan GC (this job), distributed END TO END:
   - the disk listing is a DataFrame from Spark's ``binaryFile`` source —
     Spark's file index switches to a distributed listing job past
     ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths, so a
     10^9-file listing never materializes on the driver (an object-store
     inventory table plugs in the same way via ``listing_df``);
   - orphans = listing ``left_anti`` referenced ∪ in-flight (SURVEY.md §2.3);
   - deletes run executor-side via ``mapPartitions`` (counts reduced back).
   Files referenced by the ledgers of in-flight (not yet job-committed)
   maintenance jobs are protected: a crashed compaction's staged outputs must
   survive until its resume commits them. A modification-time grace period
   (evaluated against the listing's own ``modificationTime`` column) guards
   racing writers.

Safety invariant (tested): GC never deletes a file referenced by ANY retained
snapshot, and a reader pinned to a retained snapshot scans identically after GC.

The job also garbage-collects the METADATA layer (``gc_metadata_files``):
manifest and manifest-list Avro files referenced by no retained snapshot —
what expiration and ``RewriteManifestsJob`` strand — guarded by the same
mtime grace period so a concurrent commit's not-yet-published files survive.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..format import manifest as mf
from ..format.table import Table
from ..session import local_frame
from .ledger import Ledger


@dataclass
class ExpireResult:
    expired_snapshot_ids: list[int]
    candidate_files: int
    deleted_files: int
    protected_inflight: int
    bytes_reclaimed: int
    metadata_files_deleted: int = 0


def _inflight_ledger_outputs(table: Table) -> set[str]:
    """Output paths recorded by ledgers whose job has not reached job-committed."""
    ldir = os.path.join(table.location, "metadata", "ledger")
    if not os.path.isdir(ldir):
        return set()
    out: set[str] = set()
    for name in os.listdir(ldir):
        if not name.endswith(".jsonl"):
            continue
        led = Ledger(table.location, name[:-6], "any")
        if led.job_done():
            continue
        for rec in led.records():
            for f in rec.get("output_files", []):
                out.add(f["path"])
    return out


def referenced_files(table: Table) -> set[str]:
    """All data files referenced by any retained snapshot (any status)."""
    refs: set[str] = set()
    seen_lists: set[str] = set()
    for s in table.meta.snapshots:
        if s.manifest_list in seen_lists:
            continue
        seen_lists.add(s.manifest_list)
        for rec in mf.read_manifest_list(s.manifest_list):
            for e in mf.read_manifest(rec["path"]):
                refs.add(e["path"])
    return refs


def gc_metadata_files(table: Table, grace_period_sec: float = 0.0) -> int:
    """Delete manifest / manifest-list Avro files no retained snapshot
    references — the metadata-layer garbage that snapshot expiration and
    ``RewriteManifestsJob`` leave behind (Iceberg's expireSnapshots does the
    same cleanup). Driver-side: the metadata dir is O(manifests), not O(rows).

    The mtime grace period protects a CONCURRENT committer: an in-flight
    commit writes its manifests and manifest list *before* publishing the
    metadata version, and those files are unreferenced until the publish —
    but they are also fresh, so a nonzero grace skips them.
    """
    table.refresh()
    keep: set[str] = set()
    for s in table.meta.snapshots:
        keep.add(s.manifest_list)
        try:
            for rec in mf.read_manifest_list(s.manifest_list):
                keep.add(rec["path"])
        except FileNotFoundError:
            continue
    mdir = os.path.join(table.location, "metadata")
    cutoff = time.time() - grace_period_sec
    deleted = 0
    for name in os.listdir(mdir):
        if not (name.startswith(("manifest-", "snap-")) and name.endswith(".avro")):
            continue
        path = os.path.join(mdir, name)
        if path in keep:
            continue
        try:
            if grace_period_sec and os.path.getmtime(path) >= cutoff:
                continue
            os.remove(path)
            deleted += 1
        except FileNotFoundError:
            continue
    return deleted


def disk_listing(table: Table) -> DataFrame:
    """(path, length, mtime_sec) for every parquet file under the table's data
    dir, via the ``binaryFile`` source with only metadata columns selected (the
    ``content`` column is pruned away, so no file bytes are read). Spark's
    InMemoryFileIndex parallelizes the listing across executors for large
    directory trees; on object stores, swap in an inventory table here."""
    data_dir = os.path.join(table.location, "data")
    df = (
        table.spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(data_dir)
    )
    return df.select(
        F.regexp_replace("path", "^file:(//)?", "").alias("path"),
        F.col("length"),
        (F.unix_timestamp("modificationTime")).alias("mtime_sec"),
    )


class ExpireSnapshotsJob:
    def __init__(
        self,
        table: Table,
        *,
        keep_last: int = 3,
        older_than_ms: int | None = None,
        delete_orphans: bool = True,
        grace_period_sec: float = 0.0,
        listing_df: DataFrame | None = None,
    ):
        self.table = table
        self.keep_last = keep_last
        # age-based retention (Iceberg expire_snapshots older_than): only
        # snapshots committed before this cutoff are eligible; keep_last
        # becomes the retain-last floor
        self.older_than_ms = older_than_ms
        self.delete_orphans = delete_orphans
        self.grace_period_sec = grace_period_sec
        self.listing_df = listing_df  # injectable (object-store inventory)

    def run(self) -> ExpireResult:
        expired_ids, _dead = self.table.expire_snapshots(
            self.keep_last, older_than_ms=self.older_than_ms)
        if not self.delete_orphans:
            return ExpireResult(expired_ids, 0, 0, 0, 0)
        meta_deleted = gc_metadata_files(self.table, self.grace_period_sec)

        spark = self.table.spark
        listing = self.listing_df if self.listing_df is not None else disk_listing(self.table)
        # references are read after the listing (Spark's file index lists
        # when the frame is built), so a file committed while the listing
        # was taken counts as referenced, not as an orphan
        self.table.refresh()
        refs = referenced_files(self.table)
        protected = _inflight_ledger_outputs(self.table)

        # keep side of the anti-join: metadata-sized (manifest refs + in-flight
        # ledger outputs) -> broadcast; the unbounded side (the listing) stays
        # distributed end to end
        refs_df = local_frame(
            spark, [(p,) for p in sorted(refs | protected)], "path string")
        orphans = listing.join(F.broadcast(refs_df), "path", "left_anti")
        if self.grace_period_sec:
            cutoff = time.time() - self.grace_period_sec
            orphans = orphans.filter(F.col("mtime_sec") < F.lit(cutoff))

        n_candidates = 0
        n_protected = len(protected)

        # executor-side deletes; (deleted, bytes) reduced back to the driver
        def _delete(rows):
            deleted, freed = 0, 0
            for r in rows:
                try:
                    os.remove(r.path)
                    deleted += 1
                    freed += r.length
                except FileNotFoundError:
                    continue
            yield (deleted, freed)

        stats = orphans.select("path", "length").rdd.mapPartitions(_delete).collect()
        deleted = sum(d for d, _ in stats)
        reclaimed = sum(b for _, b in stats)
        n_candidates = deleted  # exact listing-side candidates == delete attempts
        return ExpireResult(expired_ids, n_candidates, deleted, n_protected,
                            reclaimed, meta_deleted)
