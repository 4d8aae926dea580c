"""The benchmark's workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned.

A workload has three parts:

- ``setup`` generates its inputs from the seed, builds its table and runs
  untimed warm-up operations;
- ``round`` is one fixed sequence of timed operations; the loop runs whole
  rounds until the run's seconds are used up;
- ``check`` compares the engine's outputs with results computed apart from
  the engine (``perfbench.checks``) and raises ``CheckFailed`` on a mismatch.
"""

from __future__ import annotations

import random
import time
from contextlib import nullcontext

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e2e_ocsf_cyber_lakehouse_blueprint_spark.format import table as table_mod
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.partition import PartitionSpec, days
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators import delete as delete_mod
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators import maintain as maintain_mod
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators import manifests as manifests_mod
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators import merge as merge_mod
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators import upsert as upsert_mod
from e2e_ocsf_cyber_lakehouse_blueprint_spark.plans import agg_pushdown as agg_mod
from e2e_ocsf_cyber_lakehouse_blueprint_spark.sources.transcripts import (
    SCHEMA_DDL, generate_transcripts,
)

from perfbench import checks, reference
from perfbench.harness import CORES

KEYS = ["conv_id", "turn_idx"]
SPAN_DAYS = 8


def conv_name(i: int) -> str:
    return f"conv-{i:010d}"


def transcripts(spark, seed: int, start: int, stop: int) -> DataFrame:
    """Generated turns of conversations ``start .. stop - 1``. A conversation's
    turns depend only on the seed and its id, so the turns of any id range
    are the rows of the same ids in one bigger range."""
    df = generate_transcripts(spark, stop, seed=seed, hot_convs=0,
                              span_days=SPAN_DAYS)
    return df.filter(F.col("conv_id") >= conv_name(start)) if start else df


def rewrite_text(df: DataFrame, tag: str, new_turns: int = 0) -> DataFrame:
    """An edit batch: every turn of ``df`` with its text re-tagged, plus
    ``new_turns`` new turns per conversation after the last one."""
    out = df.withColumn("text", F.concat(F.lit(tag), F.col("text")))
    if new_turns:
        extra = (df.groupBy("conv_id")
                 .agg(F.max("turn_idx").alias("last"), F.max("ts").alias("ts"))
                 .select("conv_id", F.explode(F.sequence(
                     F.col("last") + 1, F.col("last") + new_turns)).alias("turn_idx"),
                     "ts")
                 .select("conv_id", F.col("turn_idx").cast("int"),
                         F.lit("user").alias("role"),
                         F.concat(F.lit(tag), F.lit("new turn ")).alias("text"),
                         F.lit(None).cast("string").alias("tool"), "ts"))
        out = out.unionByName(extra)
    return out


def replace_keys(base: DataFrame, batch: DataFrame) -> DataFrame:
    """``base`` with every (conv_id, turn_idx) of ``batch`` taken from
    ``batch``: the effect of MERGE (update all, insert new) and of upsert."""
    return base.join(batch.select(*KEYS), KEYS, "left_anti").unionByName(batch)


def delete_where(base: DataFrame, predicates) -> DataFrame:
    """``base`` without the rows matching every ``(column, "=", value)``."""
    cond = F.lit(True)
    for col, _, value in predicates:
        cond = cond & (F.col(col) == value)
    return base.filter(~cond)


def live_bytes_per_turn(table) -> float:
    files = table.live_data_files()
    return sum(f.file_size_bytes for f in files) / sum(f.record_count for f in files)


class Recorder:
    """Times each loop operation and, when tracing, opens its span. After
    each operation it times the host-speed reference (``perfbench.reference``),
    outside the operation's time."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.ref: list[float] = []
        self.ops = 0
        self.busy_s = 0.0

    def call(self, kind: str, fn, *args, **kwargs):
        ctx = self.tracer.op(kind) if self.tracer else nullcontext()
        t0 = time.perf_counter()
        with ctx:
            res = fn(*args, **kwargs)
        dt = time.perf_counter() - t0
        self.samples.setdefault(kind, []).append(dt)
        self.ops += 1
        self.busy_s += dt
        self.ref.append(reference.burst())
        return res


class Untimed(Recorder):
    """Runs warm-up operations through the same code without recording them."""

    def call(self, kind, fn, *args, **kwargs):
        return fn(*args, **kwargs)


def point_count(table, conv: str) -> int:
    return table.scan([("conv_id", "=", conv)]).count()


# =================================================================== ingest


class IngestMutate:
    """Micro-batch appends of new conversations into a new table, each
    followed by point lookups of a conversation just appended and of one
    appended earlier. Then a scoped MERGE, an upsert, a merge-on-read delete
    and a copy-on-write delete on recent conversations, a manifest re-pack
    and table maintenance.

    Every round starts from a new, empty table, so each round does the same
    work whatever the number of rounds a run fits in. The table is clustered,
    so maintenance re-clusters the partitions that gained files, and appends
    auto-compact a partition once it holds ``AUTO_COMPACT_FILES`` small files."""

    name = "ingest_mutate"
    headline = ("append",)
    BATCH_CONVS = 250
    APPENDS_PER_ROUND = 8
    AUTO_COMPACT_FILES = 4
    WARMUP_APPENDS = 2
    PROPERTIES = {
        "write.target-file-size-bytes": str(8 * 1024 * 1024),
        "stats.columns": "conv_id,turn_idx,role,tool,ts",
        "stats.bloom-columns": "conv_id",
        "stats.bloom-bits": str(1 << 16),
        "stats.bloom.layouts": "curve",
        "write.auto-compact.enabled": "true",
        "write.auto-compact.min-input-files": str(AUTO_COMPACT_FILES),
        # orphans are removed at once: one client, no concurrent writer
        "maintenance.expire.grace-sec": "0",
    }

    def __init__(self, spark, work, seed: int):
        self.spark, self.seed, self.work = spark, seed, work
        self.rng = random.Random(seed)
        self.batches = 0        # micro-batches generated so far, all tables
        self.rounds = 0
        self.table = None
        self.first = 0          # first micro-batch of self.table
        # edits to self.table in commit order:
        # ("replace", batch) | ("delete", predicates)
        self.edits: list[tuple[str, object]] = []
        self.merged: list[str] = []
        self.pinned = None

    def batch(self, b: int) -> DataFrame:
        n = self.BATCH_CONVS
        return transcripts(self.spark, self.seed, b * n, (b + 1) * n)

    def _pick(self, b: int) -> str:
        return conv_name(b * self.BATCH_CONVS + self.rng.randrange(self.BATCH_CONVS))

    def expected(self) -> DataFrame:
        n = self.BATCH_CONVS
        e = transcripts(self.spark, self.seed, self.first * n, self.batches * n)
        for kind, arg in self.edits:
            e = replace_keys(e, arg) if kind == "replace" else delete_where(e, arg)
        return e

    def _new_table(self, name: str) -> None:
        self.table = table_mod.Table.create(
            self.spark, self.work.sub(name), T.StructType.fromDDL(SCHEMA_DDL),
            PartitionSpec.of(days("ts_day", "ts")), properties=self.PROPERTIES,
            cluster_keys=["conv_id", "ts"])
        self.first = self.batches
        self.edits, self.merged = [], []

    def setup(self) -> None:
        self._new_table("ingest-warmup")
        self._ingest(Untimed(), self.WARMUP_APPENDS)

    def _ingest(self, rec: Recorder, appends: int) -> None:
        for _ in range(appends):
            b = self.batches
            rec.call("append", self.table.append, self.batch(b), n_files=1)
            self.batches += 1
            # one conversation just appended, one from an earlier batch
            rec.call("lookup", point_count, self.table, self._pick(b))
            rec.call("lookup", point_count, self.table,
                     self._pick(self.first + self.rng.randrange(b - self.first + 1)))

    def round(self, rec: Recorder) -> None:
        self._new_table(f"ingest-{self.rounds}")
        table = self.table
        self._ingest(rec, self.APPENDS_PER_ROUND)
        recent = self.batches - 1
        m_conv, u_conv, d_conv, c_conv = (
            conv_name(recent * self.BATCH_CONVS + i)
            for i in self.rng.sample(range(self.BATCH_CONVS), 4))
        tag = f"r{self.rounds}:"
        self.rounds += 1
        merge_src = rewrite_text(self.batch(recent).filter(F.col("conv_id") == m_conv),
                                 "merged-" + tag, new_turns=1)
        rec.call("merge", merge_mod.MergeIntoJob(table).run, merge_src)
        self.edits.append(("replace", merge_src))
        self.merged.append(m_conv)
        up = rewrite_text(self.batch(recent).filter(F.col("conv_id") == u_conv),
                          "upserted-" + tag, new_turns=1)
        rec.call("upsert", upsert_mod.upsert, table, up, KEYS, n_files=1)
        self.edits.append(("replace", up))
        for kind, conv, role, mode in (
                ("delete_mor", d_conv, "tool", "merge-on-read"),
                ("delete_cow", c_conv, "system", "copy-on-write")):
            pred = [("conv_id", "=", conv), ("role", "=", role)]
            rec.call(kind, delete_mod.DeleteJob(table, pred, mode=mode).run)
            self.edits.append(("delete", pred))
        # a reader pinned here must read the same rows after maintenance
        self.pinned = table.current_snapshot().snapshot_id
        # run_maintenance re-packs manifests only when more than
        # maintenance.manifest.max-count remain after its clustering
        # commit, which writes a single manifest; so the round re-packs
        # them itself, before clustering
        rec.call("rewrite_manifests", manifests_mod.RewriteManifestsJob(table).run)
        rec.call("maintain", maintain_mod.run_maintenance, table,
                 max_concurrency=CORES)

    def stored_bytes_per_turn(self) -> float:
        return live_bytes_per_turn(self.table)

    def check(self) -> None:
        """The last round's table."""
        table = self.table
        want = checks.digest(self.expected())
        checks.same_digest(checks.digest(table.scan()), want, "table rows")
        checks.same_digest(checks.digest(table.scan(snapshot_id=self.pinned)), want,
                           "reader pinned before the last maintenance")
        checks.no_orphans(table)
        merged = self.merged
        checks.same_text(table.scan([("conv_id", "in", merged)]),
                         self.expected().filter(F.col("conv_id").isin(merged)))


# ===================================================================== plan


class PlanAtScale:
    """A table of many small files; the loop plans point and ts-range scans,
    answers count/min/max from metadata and runs point lookups. Driver-side
    planning does nearly all the work."""

    name = "plan_at_scale"
    headline = ("plan_point", "plan_range")
    APPENDS = 2                 # one manifest each
    BATCH_CONVS = 2_000
    APPEND_BINS = 24            # x 8 day partitions = files per append
    PLANS_PER_ROUND = 4         # point and ts-range plans and lookups each
    WARMUP_ROUNDS = 1
    RANGE_DAYS = 2              # width of the ts-range predicate

    def __init__(self, spark, work, seed: int):
        self.spark, self.seed = spark, seed
        self.loc = work.sub("plan")
        self.rng = random.Random(seed)
        self.table = None
        self.keys_used: set[str] = set()
        self.ranges_used: set[str] = set()

    def batch(self, b: int) -> DataFrame:
        n = self.BATCH_CONVS
        return transcripts(self.spark, self.seed, b * n, (b + 1) * n)

    def setup(self) -> None:
        self.table = table_mod.Table.create(
            self.spark, self.loc, T.StructType.fromDDL(SCHEMA_DDL),
            PartitionSpec.of(days("ts_day", "ts")),
            properties={"stats.columns": "conv_id,turn_idx,role,tool,ts"})
        for b in range(self.APPENDS):
            # range-partitioned on conv_id, so each file holds a narrow
            # conv_id range that point lookups can prune on
            self.table.append(self.batch(b), n_files=self.APPEND_BINS,
                              sort_within=["conv_id"])
        for _ in range(self.WARMUP_ROUNDS):
            self.round(Untimed())

    def _key(self) -> str:
        return conv_name(self.rng.randrange(self.APPENDS * self.BATCH_CONVS))

    def _range(self) -> str:
        day = 1 + self.rng.randrange(SPAN_DAYS - self.RANGE_DAYS)
        return f"2025-01-{day:02d} 00:00:00"

    def _agg(self):
        return agg_mod.metadata_agg(self.table, [
            agg_mod.AggItem("count_star", None, "n"),
            agg_mod.AggItem("min", "ts", "min_ts"),
            agg_mod.AggItem("max", "ts", "max_ts")]).collect()[0]

    def round(self, rec: Recorder) -> None:
        table = self.table
        keys = [self._key() for _ in range(self.PLANS_PER_ROUND)]
        ranges = [self._range() for _ in range(self.PLANS_PER_ROUND)]
        self.keys_used.update(keys)
        self.ranges_used.update(ranges)
        # lookups between the plans spread the plans over the round
        for key, lo in zip(keys, ranges):
            rec.call("plan_point", table.plan_scan, [("conv_id", "=", key)])
            rec.call("plan_range", table.plan_scan, [("ts", ">=", lo)])
            rec.call("lookup", point_count, table, key)
        rec.call("metadata_agg", self._agg)

    def stored_bytes_per_turn(self) -> float:
        return live_bytes_per_turn(self.table)

    def check(self) -> None:
        import datetime

        table = self.table
        keys = sorted(self.keys_used)
        census = checks.file_census(
            self.spark, [f.path for f in table.live_data_files()], keys)
        for key in keys:
            checks.covers(table.plan_scan([("conv_id", "=", key)]),
                          {p for p, c in census.items() if key in c.keys}, key)
        for lo in sorted(self.ranges_used):
            t = datetime.datetime.fromisoformat(lo)
            checks.covers(table.plan_scan([("ts", ">=", lo)]),
                          {p for p, c in census.items() if c.max_ts >= t},
                          f"ts >= {lo}")
        checks.same_aggregates(tuple(self._agg()), census)


WORKLOADS = {w.name: w for w in (IngestMutate, PlanAtScale)}
