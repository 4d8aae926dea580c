"""Managed maintenance: one policy-driven pass over a table.

The reference toggles ``pipelines.autoOptimize.managed``
(`utilities/utils.py:88`) and lets the platform decide when to compact,
cluster, and clean up. ``run_maintenance`` is that scheduler: a single call
that inspects metadata (never data) and runs the right jobs.

Policy (each stage is the same resumable, ledgered job a user runs by hand):

- **Cluster keys declared** → *incremental liquid clustering*: the curve
  rewrite already bin-packs (each partition lands in ceil(bytes/target)
  curve-sorted files), so running a separate compactor would ping-pong with
  it — compaction's (conv, turn) sort disturbs the curve layout, the next
  clustering re-splits, forever. Instead ONE clustering job runs, scoped to
  the partitions whose live file set changed since the last clustering
  commit (a pure manifest diff; the cold 99% of a 100 TB table is never
  re-planned, matching how liquid clustering stays incremental).
- **No cluster keys** → plain FFD bin-packing compaction (no-op when
  nothing is fragmented).
- Then snapshot expiration + orphan GC by the retention policy.
- **Materialized views bound to the table** (``mv.source-location``) are
  refreshed incrementally when a catalog is in scope — the DLT behavior of
  "the platform keeps gold fresh" (pass ``catalog=`` or run ``MAINTAIN``
  through the SQL dialect).
- Finally manifest-layer compaction (``operators/manifests.py``) when the
  manifest count passed ``maintenance.manifest.max-count`` — micro-batch
  appends add one manifest per commit, and planning must stay O(live files).

Policy knobs are table properties so they travel with the table:
``maintenance.cluster.curve`` (zorder|hilbert, default zorder),
``maintenance.expire.keep-last`` (default 3; 0 disables expiration),
``maintenance.expire.grace-sec`` (orphan grace period, default 3600),
``maintenance.expire.max-snapshot-age-sec`` (0 = pure keep-last; >0 makes
expiration age-based with keep-last as the retained floor).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from ..format import manifest as mf
from ..format.table import Table
from .clustering import ClusteringJob, ClusteringResult
from .compaction import CompactionJob, CompactionResult
from .expire import ExpireResult, ExpireSnapshotsJob
from .ledger import partition_key
from .manifests import RewriteManifestsJob, RewriteManifestsResult


@dataclass
class MaintenanceResult:
    compaction: CompactionResult | None
    clustering: ClusteringResult | None
    expiration: ExpireResult | None
    manifests: RewriteManifestsResult | None = None
    rewrite_deletes: "object | None" = None  # RewriteDeletesResult
    views_refreshed: "list | None" = None    # [(name, RefreshResult)]
    elapsed_sec: float = 0.0


def refresh_dependent_views(catalog, table: Table) -> list:
    """Incrementally refresh every materialized view in ``catalog`` whose
    source is ``table`` — metadata-bounded discovery (each candidate's
    properties are one JSON read), then the normal change-feed refresh."""
    import os

    from .matview import PROP_SOURCE, refresh

    loc = os.path.abspath(table.location)
    results = []
    for db in sorted(os.listdir(catalog.warehouse)):
        if not os.path.isdir(os.path.join(catalog.warehouse, db)):
            continue
        for name in catalog.list_tables(db):
            t = catalog.load_table(f"{db}.{name}")
            src = t.meta.properties.get(PROP_SOURCE)
            if src is not None and os.path.abspath(src) == loc:
                results.append((f"{db}.{name}", refresh(t)))
    return results


def stale_partitions(table: Table) -> set[str] | None:
    """Partition keys whose live file set changed since the last clustering
    commit; ``None`` means cluster everything (no prior clustering, or its
    snapshot already expired). Pure metadata — two manifest-list reads."""
    last = None
    for s in sorted(table.meta.snapshots, key=lambda s: -s.sequence_number):
        if s.summary.get("job") == "cluster":
            last = s
            break
    if last is None:
        return None
    old = {f.path for f in table.live_data_files(last.snapshot_id)}
    return {
        partition_key(f.partition)
        for f in table.live_data_files()
        if f.path not in old
    }


def run_maintenance(
    table: Table,
    *,
    max_concurrency: int = 8,
    force_cluster: bool = False,
    catalog=None,
) -> MaintenanceResult:
    t0 = time.time()
    table.refresh()

    compaction = None
    clustering = None
    if table.meta.cluster_keys:
        scope = None if force_cluster else stale_partitions(table)
        if scope is None or scope:
            curve = table.meta.properties.get("maintenance.cluster.curve", "zorder")
            clustering = ClusteringJob(
                table, curve=curve, max_concurrency=max_concurrency,
                only_partitions=scope,
            ).run()
    else:
        compaction = CompactionJob(table, max_concurrency=max_concurrency).run()

    # refresh dependent views BEFORE expiration: the view pointer references
    # a source snapshot in the feed window, and expiring it first would
    # demote every refresh in this pass to a full recompute (the fallback is
    # correct but O(source), not O(changes))
    views = (refresh_dependent_views(catalog, table)
             if catalog is not None else None)

    expiration = None
    keep_last = table.property_int("maintenance.expire.keep-last", 3)
    if keep_last > 0:
        grace = table.property_int("maintenance.expire.grace-sec", 3600)
        # age-based retention: with max-snapshot-age-sec set, only snapshots
        # older than the window expire and keep-last is the retained floor
        max_age = table.property_int("maintenance.expire.max-snapshot-age-sec", 0)
        older_than = (int(time.time() * 1000) - max_age * 1000
                      if max_age > 0 else None)
        expiration = ExpireSnapshotsJob(
            table, keep_last=keep_last, older_than_ms=older_than,
            grace_period_sec=float(grace)
        ).run()

    # manifest-layer compaction: micro-batch appends add one manifest per
    # commit; past the threshold, re-pack them partition-sorted so planning
    # stays O(live files), not O(commits)
    manifests = None
    max_manifests = table.property_int("maintenance.manifest.max-count", 8)
    cur = table.current_snapshot()
    if cur is not None and max_manifests > 0:
        if len(mf.read_manifest_list(cur.manifest_list)) > max_manifests:
            manifests = RewriteManifestsJob(table).run()

    # delete-file debt: each MOR delete commit adds positional-delete files
    # and each equality delete adds a key-list file that taxes EVERY scan of
    # pre-delete data; past the threshold, coalesce DVs, convert eqdels to
    # positional marks, and drop dangling rows
    rewrite_deletes = None
    max_dv = table.property_int("maintenance.rewrite-deletes.max-count", 4)
    n_delete_files = sum(map(len, table.live_deletes()))
    if max_dv > 0 and n_delete_files > max_dv:
        from .rewrite_deletes import RewriteDeletesJob
        rewrite_deletes = RewriteDeletesJob(table).run()

    return MaintenanceResult(
        compaction=compaction,
        clustering=clustering,
        expiration=expiration,
        manifests=manifests,
        rewrite_deletes=rewrite_deletes,
        views_refreshed=views,
        elapsed_sec=time.time() - t0,
    )
