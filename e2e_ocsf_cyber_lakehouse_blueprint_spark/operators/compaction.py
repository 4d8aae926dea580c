"""Bin-packing small-file compaction (FFD) — the auto-compaction the reference
delegates to Delta (`delta.autoOptimize.autoCompact`, `utilities/utils.py:87`;
`pipelines.autoOptimize.managed`, `:88`), built as an explicit, resumable job.

Plan (driver-side Python, metadata only):
  census live files per partition -> pick small files -> first-fit-decreasing
  pack into target-size bins -> group partitions into cluster-width jobs.

Execute (Spark, per group of partitions, concurrent):
  zero-shuffle binpack — each member partition's small files become one child
  relation whose scan tasks ARE ~target-size bins (split packing pinned to the
  target file size); children union into ONE single-stage job; sort-within-
  partitions + partitionBy write; ONE batched stats harvest for every group.
  The binpack path preserves each input file's (conv_id, turn_idx) sort order
  per output file but does NOT re-co-locate a conversation whose rows span
  files in different bins — global contiguity is the CLUSTERING job's
  responsibility (single range exchange), which is why the bench pairs them.

Commit (driver): ONE copy-on-write snapshot replacing all rewritten files —
readers pinned to the old snapshot are untouched (snapshot isolation), and a
crash before commit leaves the table unchanged while the ledger lets the rerun
reuse every finished partition.
"""

from __future__ import annotations

import functools
import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from ..format.manifest import DataFile
from ..format.stats import (
    harvest_file_stats, layout_bloom_cols, layout_hash_cols,
)
from ..format.table import Table
from .ledger import Ledger, partition_key, spill_metrics, split_size_for_rewrites
from ..timing import phase_timer

DEFAULT_TARGET_FILE_SIZE = 128 * 1024 * 1024


def ffd_pack(items: list[tuple[str, int]], capacity: int) -> list[list[str]]:
    """First-fit-decreasing bin packing of (id, size) items into capacity bins.

    Items larger than capacity get a dedicated bin. Returns bins as id lists.
    """
    bins: list[tuple[int, list[str]]] = []  # (used, ids)
    for item_id, size in sorted(items, key=lambda x: (-x[1], x[0])):
        placed = False
        for i, (used, ids) in enumerate(bins):
            if used + size <= capacity:
                bins[i] = (used + size, ids + [item_id])
                placed = True
                break
        if not placed:
            bins.append((size, [item_id]))
    return [ids for _, ids in bins]


@dataclass
class RewriteGroup:
    plans: list
    n_output_files: int


def group_plans(plans: list, group_bins: int) -> list[RewriteGroup]:
    """Greedy-pack adjacent partition plans until a group's output-file count
    reaches ``group_bins``: each group becomes ONE Spark job whose shuffle is
    at least that wide. At the 10^12-turn design scale a single partition
    already exceeds group_bins and stays a singleton job; at sandbox scale
    (many small partitions) grouping is the difference between 3-task jobs
    that idle a cluster and full-width shuffles — the same move as Iceberg's
    rewrite bin-pack groups."""
    groups: list[RewriteGroup] = []
    cur: list = []
    bins = 0
    for p in sorted(plans, key=lambda p: p.key):
        cur.append(p)
        bins += max(1, p.n_output_files)
        if bins >= group_bins:
            groups.append(RewriteGroup(cur, bins))
            cur, bins = [], 0
    if cur:
        groups.append(RewriteGroup(cur, bins))
    return groups


def _staging_dir(table: Table, job_tag: str) -> str:
    return os.path.join(table.location, "data", f"{job_tag}-{uuid.uuid4().hex[:12]}")


def _partitioned_write(table: Table, df, out_dir: str) -> None:
    writer = df.write.mode("error")
    if table.spec.fields:
        writer = writer.partitionBy(*table.spec.column_names)
    writer.parquet(out_dir)


def write_group_binpack(table: Table, group: RewriteGroup,
                        sort_keys: tuple[str, ...], job_tag: str) -> str:
    """Zero-shuffle bin-pack rewrite (Iceberg binpack style) for a group of
    partitions in ONE single-stage Spark job.

    Each member partition becomes a child relation over its small files; the
    caller pins ``spark.sql.files.maxPartitionBytes`` to the target file size
    (``split_size_for_rewrites``), so Spark's own file-split packing turns
    each child into ~target-size scan tasks — the physical realization of the
    FFD plan. Children are UNIONed (Union is narrow: partitions concatenate),
    giving one task per bin, cluster-wide parallelism, NO shuffle and NO
    range sampling. Tasks are partition-pure, so ``partitionBy`` writes each
    task to exactly one partition directory -> one ~target-size file.

    Note: an explicit per-bin ``coalesce(1)``/``repartition(1)`` formulation
    does NOT work — Catalyst treats repartition as a hint and collapses a
    Union of single-partition children into ONE partition, serializing the
    whole group (measured: 47 bins -> 1 task)."""
    spec = table.spec
    # pin BOTH delete-file kinds once per job: a per-child live lookup would
    # re-read the manifest list O(groups) times
    dels, eqdels = table.live_deletes()

    def child(plan):
        # broadcast-anti DV application is narrow: scan-task partitioning (the
        # bins) and per-task ordering survive, so the zero-shuffle contract holds
        return table.read_data_files(plan.input_files, delete_files=dels,
                                     eq_delete_files=eqdels)

    # DataFrame construction costs a driver round trip per child (file-index
    # listing); build the children concurrently
    gtag = f"{job_tag}.g{group.plans[0].key if group.plans else '?'}"
    with phase_timer(f"{gtag}.children"), ThreadPoolExecutor(
            max_workers=min(16, max(1, len(group.plans)))) as pool:
        subs = list(pool.map(child, group.plans))
    out = functools.reduce(lambda a, b: a.unionByName(b), subs)
    # ONE sort over the union: sortWithinPartitions is per-task, and Union is
    # narrow, so sorting after the union is row-identical to per-child sorts
    # while codegen compiles one sort stage instead of |children| of them
    out = out.sortWithinPartitions(*sort_keys)
    # narrow projection after the sort: intra-partition order is preserved
    out = spec.with_partition_columns(out)
    out_dir = _staging_dir(table, job_tag)
    with phase_timer(f"{gtag}.write"):
        _partitioned_write(table, out, out_dir)
    return out_dir


def write_group_global_range(table: Table, group: RewriteGroup, key_col_name: str,
                             key_expr, job_tag: str,
                             delete_files: list, eq_delete_files: list) -> str:
    """Clustering rewrite for a group of partitions in ONE Spark job with ONE
    range exchange: scan all group files as a single relation, compute the
    layout key, ``repartitionByRange(total_bins, partition_cols + key)``,
    sort within, ``partitionBy`` write.

    A single global range exchange costs ONE sampling pass (vs. one hidden
    sampling job per partition, which was the measured serial floor of the
    phase). Range boundaries can straddle a partition edge; ``partitionBy``
    still routes every row to its correct partition directory — the only
    effect is an occasional extra sub-target-size file, which the next
    compaction pass folds in.

    The caller pins both delete lists once per JOB (a live lookup here would
    re-read the manifest list per group)."""
    spec = table.spec
    files = [f for p in group.plans for f in p.input_files]
    keys = spec.column_names + [key_col_name]
    n = max(1, group.n_output_files)
    df = table.read_data_files(files, delete_files=delete_files,
                               eq_delete_files=eq_delete_files)
    df = df.withColumn(key_col_name, key_expr)
    df = spec.with_partition_columns(df)
    out = (
        df.repartitionByRange(n, *keys)
        .sortWithinPartitions(*keys)
        .drop(key_col_name)
    )
    out_dir = _staging_dir(table, job_tag)
    gtag = f"{job_tag}.g{group.plans[0].key if group.plans else '?'}"
    with phase_timer(f"{gtag}.write"):
        _partitioned_write(table, out, out_dir)
    return out_dir


def _dir_has_parquet(d: str) -> bool:
    for root, _, names in os.walk(d):
        if any(n.endswith(".parquet") for n in names):
            return True
    return False


def _masks_explain_empty(table: Table, plan) -> bool:
    """True when outstanding delete files can legitimately mask EVERY row of
    the plan's inputs (an all-deleted partition rewrites to zero files)."""
    paths = {f.path for f in plan.input_files}
    dels, eqdels = table.live_deletes()
    if any(paths.intersection(d.covered_paths) for d in dels):
        return True
    from ..format.table import _eq_bounds_may_match
    return any(
        d.data_sequence > f.data_sequence and _eq_bounds_may_match(f, d)
        for f in plan.input_files for d in eqdels
    )


def run_grouped_rewrites(
    table: Table,
    plans: list,
    ledger: Ledger,
    group_writer,
    *,
    resume: bool,
    max_concurrency: int,
    job_tag: str,
    group_bins: int | None = None,
    stamp_sort_order: str | None = None,
) -> list[tuple[object, list[DataFile], bool]]:
    """Grouped copy-on-write rewrites + ONE batched stats harvest.

    Each plan has ``.key`` / ``.partition`` / ``.input_files`` /
    ``.n_output_files``. ``group_writer(group, job_tag) -> staging_dir``
    executes one group as one Spark job (compaction: zero-shuffle binpack;
    clustering: single global range exchange). Stats for all staging dirs are
    then harvested in a single job (per-partition harvest jobs were measured
    as the dominant phase cost).

    Ledger/resume ladder per PARTITION (granularity unchanged):
    ``committed`` -> reuse stats, zero I/O; ``written`` with intact staging
    dir -> skip rewrite, re-harvest; else rewrite with its group.
    """
    spark = table.spark
    spec = table.spec
    pcol_names = [f.name for f in spec.fields]
    done = ledger.completed_partitions() if resume else {}
    written = ledger.written_partitions() if resume else {}

    results: list[tuple[object, list[DataFile], bool]] = []
    todo: list = []
    resumed_staged: list[tuple[object, str, int | None]] = []
    for plan in plans:
        ins = sorted(f.path for f in plan.input_files)
        rec = done.get(plan.key)
        if rec is not None and sorted(rec["input_files"]) == ins:
            results.append((plan, Ledger.output_data_files(rec), True))
            continue
        wrec = written.get(plan.key)
        if (
            wrec is not None
            and sorted(wrec["input_files"]) == ins
            and os.path.isdir(wrec["staging_dir"])
        ):
            resumed_staged.append((plan, wrec["staging_dir"], wrec.get("started_ms")))
            continue
        todo.append(plan)

    # Partition-spec evolution: a plan whose stored partition keys differ
    # from the CURRENT spec is being migrated — its rewrite may fan out into
    # several new-spec directories, so its outputs can only be attributed by
    # staging dir. Such plans run as singleton groups (own staging dir);
    # aligned plans keep the shared-group fast path.
    cur_keys = set(pcol_names)

    def _migrating(plan) -> bool:
        return set(plan.partition.keys()) != cur_keys

    aligned = [p for p in todo if not _migrating(p)]
    migrating = [p for p in todo if _migrating(p)]

    # CONSTANT default: the plan/job structure must be a function of the DATA,
    # never of cluster size — round 1 tied this to defaultParallelism, which
    # made local[4] and local[16] run structurally different jobs and poisoned
    # the two-cluster-size scaling comparison (VERDICT.md round 1)
    group_bins = group_bins or 64
    groups = group_plans(aligned, group_bins) + [
        RewriteGroup([p], max(1, p.n_output_files)) for p in migrating
    ]

    def rewrite_group(group: RewriteGroup) -> tuple[RewriteGroup, str, int]:
        started = int(time.time() * 1000)
        out_dir = group_writer(group, job_tag)
        for plan in group.plans:
            ledger.record_partition_written(
                plan.partition, [f.path for f in plan.input_files], out_dir,
                started_ms=started,
            )
        return group, out_dir, started

    fresh: list[tuple[object, str, int | None]] = []
    if groups:
        with phase_timer(f"{job_tag}.writes"), ThreadPoolExecutor(
                max_workers=max(1, min(max_concurrency, len(groups)))) as pool:
            for group, out_dir, started in pool.map(rewrite_group, groups):
                fresh.extend((plan, out_dir, started) for plan in group.plans)

    staged = resumed_staged + fresh
    if staged:
        # a staging dir can hold ZERO parquet files when delete masks erase
        # every row of its group (all-deleted partition rewrite) — skip such
        # dirs so the harvest's schema read never sees an empty relation
        harvest_dirs = [d for d in sorted({d for _, d, _ in staged})
                        if _dir_has_parquet(d)]
        blooms = layout_bloom_cols(table.bloom_stat_columns(),
                                   table.meta.properties, stamp_sort_order)
        with phase_timer(f"{job_tag}.harvest"):
            files = harvest_file_stats(
                spark, harvest_dirs, table.schema,
                pcol_names,
                layout_hash_cols(table.hash_stat_columns(), blooms,
                                 table.meta.properties, stamp_sort_order),
                table.stat_columns(),
                blooms, table.bloom_bits(),
            ) if harvest_dirs else []
        if stamp_sort_order is not None:
            # layout provenance (Iceberg sort_order_id analogue): lets the
            # next clustering pass skip files already written in this spec
            for f in files:
                f.sort_order = stamp_sort_order
        by_part: dict[str, list[DataFile]] = {}
        for f in files:
            by_part.setdefault(partition_key(f.partition), []).append(f)
        spill = spill_metrics(spark)
        resumed_keys = {p.key for p, _, _ in resumed_staged}
        for plan, d, started in staged:
            # scope to THIS plan's staging dir: a resumed group dir can hold a
            # member partition that was meanwhile rewritten into a fresh dir —
            # without the dir filter both copies would be committed
            if _migrating(plan):
                # singleton migration group: every file in the dir is this
                # plan's output (its key can't match the new-spec values)
                outs = [f for f in files if f.path.startswith(d + os.sep)]
            else:
                outs = [f for f in by_part.get(plan.key, [])
                        if f.path.startswith(d + os.sep)]
            if not outs and not _masks_explain_empty(table, plan):
                # zero outputs with no delete mask in play would mean the
                # writer LOST a partition (key-formatting drift between the
                # planner and the harvest) — never commit that silently
                raise RuntimeError(
                    f"rewrite produced no files for partition {plan.key}")
            ledger.record_partition(
                plan.partition, [f.path for f in plan.input_files], outs,
                rows=sum(f.record_count for f in outs),
                bytes_written=sum(f.file_size_bytes for f in outs),
                spill_bytes=spill, started_ms=started,
            )
            results.append((plan, outs, plan.key in resumed_keys))
    return results


@dataclass
class PartitionCompactionPlan:
    partition: dict[str, str | None]
    input_files: list[DataFile]
    n_output_files: int  # FFD bin count; realized physically by split packing

    @property
    def key(self) -> str:
        return partition_key(self.partition)


@dataclass
class CompactionResult:
    snapshot_id: int | None
    partitions: int
    files_in: int
    files_out: int
    rows: int
    bytes_in: int
    bytes_out: int
    skipped_resume: int = 0
    elapsed_sec: float = 0.0
    spill_bytes: int = 0


def deleted_rows_by_file(table: Table) -> dict[str, int]:
    """Per-data-file masked-row counts from the live positional-delete files.

    One distributed groupBy over the DV parquet only — never the data files.
    Still census-scale at 10^9 data files: DV volume is bounded by delete
    activity since the last rewrite, not by table size."""
    dels = table.live_delete_files()
    if not dels:
        return {}
    rows = (table.spark.read.parquet(*[d.path for d in dels])
            .groupBy("file_path").count().collect())
    return {r["file_path"]: r["count"] for r in rows}


def plan_compaction(
    table: Table,
    *,
    target_file_size: int,
    small_file_ratio: float = 0.75,
    min_input_files: int = 2,
    only_partitions: set[str] | None = None,
    delete_ratio_threshold: float = 0.1,
) -> list[PartitionCompactionPlan]:
    """Census + FFD pack per partition. Pure metadata — no data read (the
    delete-debt census reads only the metadata-sized DV parquet).

    ``only_partitions`` restricts the census to the given partition keys —
    the auto-compact path scopes work to partitions the triggering append
    actually touched, so a hot table never re-plans its cold history.

    Two kinds of candidate per partition (Iceberg ``rewrite_data_files``'s
    ``delete-file-threshold`` analogue, Delta ``OPTIMIZE`` DV purge):

    - *small* files under ``small_file_ratio * target_file_size`` — packed
      together when at least ``min_input_files`` exist;
    - *delete-dirty* files of ANY size whose positional-delete mask covers
      ≥ ``delete_ratio_threshold`` of their rows — rewritten even alone,
      since the rewrite both reclaims dead bytes and lets the commit retire
      the now-stale DV files (merge-on-read debt has a bounded lifetime).

    Packing sizes use the LIVE-byte estimate (file size scaled by the
    surviving-row fraction) so post-rewrite outputs still land on target."""
    by_partition: dict[str, list[DataFile]] = {}
    parts: dict[str, dict] = {}
    for f in table.live_data_files():
        k = partition_key(f.partition)
        if only_partitions is not None and k not in only_partitions:
            continue
        by_partition.setdefault(k, []).append(f)
        parts[k] = f.partition
    masked = deleted_rows_by_file(table) if delete_ratio_threshold < 1.0 else {}

    def live_size(f: DataFile) -> int:
        dead = masked.get(f.path, 0)
        if not dead or not f.record_count:
            return f.file_size_bytes
        return max(1, int(f.file_size_bytes * (1 - dead / f.record_count)))

    plans = []
    threshold = int(target_file_size * small_file_ratio)
    for k, files in sorted(by_partition.items()):
        small = [f for f in files if f.file_size_bytes < threshold]
        small_paths = {f.path for f in small}
        dirty = [
            f for f in files
            if f.path not in small_paths and f.record_count
            and masked.get(f.path, 0) >= delete_ratio_threshold * f.record_count
        ]
        if not dirty and len(small) < min_input_files:
            continue
        cand = small + dirty
        bins = ffd_pack([(f.path, live_size(f)) for f in cand], target_file_size)
        if not dirty and len(bins) >= len(small):
            continue  # nothing to gain: every file already ~target-sized
        plans.append(PartitionCompactionPlan(parts[k], cand, len(bins)))
    return plans


class CompactionJob:
    """Resumable bin-packing compaction over one table.

    At 100TB scale: each partition rewrite is an independent Spark job over only
    that partition's small files; `max_concurrency` bounds how many run at once
    (the driver threads only schedule — all data movement is executor-side).
    The final commit is one metadata operation regardless of data volume.
    """

    def __init__(
        self,
        table: Table,
        *,
        target_file_size: int | None = None,
        sort_keys: tuple[str, ...] = ("conv_id", "turn_idx"),
        small_file_ratio: float = 0.75,
        min_input_files: int = 2,
        max_concurrency: int = 8,
        only_partitions: set[str] | None = None,
        delete_ratio_threshold: float | None = None,
    ):
        self.table = table
        self.target_file_size = target_file_size or table.property_int(
            "write.target-file-size-bytes", DEFAULT_TARGET_FILE_SIZE
        )
        self.sort_keys = sort_keys
        self.small_file_ratio = small_file_ratio
        self.min_input_files = min_input_files
        self.max_concurrency = max_concurrency
        self.only_partitions = only_partitions
        if delete_ratio_threshold is None:
            delete_ratio_threshold = float(table.meta.properties.get(
                "maintenance.compact.delete-ratio-threshold", "0.1"))
        self.delete_ratio_threshold = delete_ratio_threshold

    def _group_writer(self, group: RewriteGroup, job_tag: str) -> str:
        return write_group_binpack(self.table, group, self.sort_keys, job_tag)

    def _rewrite_partition(self, plan: PartitionCompactionPlan, job_tag: str) -> str:
        """Single-partition staging write (same layout as the grouped path);
        used by tests simulating a crash between write and harvest."""
        return self._group_writer(RewriteGroup([plan], plan.n_output_files), job_tag)

    def run(self, *, resume: bool = True, dry_run: bool = False) -> CompactionResult:
        t0 = time.time()
        self.table.refresh()
        snapshot = self.table.current_snapshot()
        if snapshot is None:
            return CompactionResult(None, 0, 0, 0, 0, 0, 0)
        with phase_timer("compact.plan"):
            plans = plan_compaction(
                self.table,
                target_file_size=self.target_file_size,
                small_file_ratio=self.small_file_ratio,
                min_input_files=self.min_input_files,
                only_partitions=self.only_partitions,
                delete_ratio_threshold=self.delete_ratio_threshold,
            )
        if dry_run or not plans:
            return CompactionResult(
                snapshot.snapshot_id, len(plans),
                sum(len(p.input_files) for p in plans),
                sum(p.n_output_files for p in plans),
                0, 0, 0, elapsed_sec=time.time() - t0,
            )
        job_id = f"compact-{snapshot.snapshot_id}"
        ledger = Ledger(self.table.location, job_id, "compact")
        with split_size_for_rewrites(self.table.spark, self.target_file_size):
            results = run_grouped_rewrites(
                self.table, plans, ledger, self._group_writer,
                resume=resume, max_concurrency=self.max_concurrency,
                job_tag=job_id,
            )

        skipped = 0
        deleted, added = [], []
        for plan, outs, was_resumed in results:
            if was_resumed:
                skipped += 1
            deleted.extend(f.path for f in plan.input_files)
            added.extend(outs)
        with phase_timer("compact.commit"):
            snap = self.table.commit_rewrite(
                deleted, added, operation="replace",
                summary_extra={"job": "compact", "job-id": job_id},
                starting_sequence_number=snapshot.sequence_number,
                preserve_sequence=True,
            )
        ledger.record_job_done({"snapshot_id": snap.snapshot_id})
        return CompactionResult(
            snapshot_id=snap.snapshot_id,
            partitions=len(plans),
            files_in=len(deleted),
            files_out=len(added),
            rows=sum(f.record_count for f in added),
            bytes_in=sum(f.file_size_bytes for p in plans for f in p.input_files),
            bytes_out=sum(f.file_size_bytes for f in added),
            skipped_resume=skipped,
            elapsed_sec=time.time() - t0,
            spill_bytes=spill_metrics(self.table.spark),
        )
