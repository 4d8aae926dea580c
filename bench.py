"""Benchmark harness.

Default mode (driver contract): run the headline maintenance pipeline +
representative queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS];
print ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

--scaling mode (BASELINE.md protocol): run the identical maintenance job in two
fresh subprocesses at local[N] and local[4N] on the same input scale, report
turns/sec at both + scaling efficiency (target >= 0.8), and write
BENCH/BASELINE.md.

The maintenance input is the deterministic Zipf-skewed transcripts generator
(sources/transcripts.py, seeded, wall-clock-free) — a few hot conversations
carry thousands of turns to make the skew paths earn their keep.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Bench tables live on tmpfs when available: the sandbox's one virtio disk
# (~270 MB/s measured, shared writeback) caps every rewrite phase at the same
# serial I/O floor regardless of cores, while real clusters scale disk
# bandwidth with node count. tmpfs makes the phases compute-bound, which is
# what the two-cluster-size scaling protocol needs to measure.
BENCH_WORKROOT = os.environ.get(
    "BENCH_WORKDIR", "/dev/shm" if os.path.isdir("/dev/shm") else None)
# bench opts in to tmpfs shuffle dirs (session.get_spark gates the default)
os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")


def _sf_of(sf_dir: str) -> float:
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return 0.1


def _maintenance_bench(spark, sf: float, workdir: str, *, cpus: int = DEFAULT_CPUS,
                       turns_scale: int = 2_000_000, core_only: bool = False) -> dict:
    """Append (fragmented) -> compact -> Z-order cluster -> merge -> expire.
    Returns phase timings + turns/sec for the compact+cluster core.

    Partition sizing: at the 10^12-turn design target each days(ts) partition
    holds ~10^9 turns, so per-partition Spark jobs are compute-bound. The bench
    mirrors that regime at sandbox scale with FEW, LARGE partitions (span_days=8)
    rather than many tiny ones — otherwise job-scheduling overhead, not the
    engine, is what gets measured."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.partition import (
        PartitionSpec, days,
    )
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.clustering import ClusteringJob
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.compaction import CompactionJob
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.expire import ExpireSnapshotsJob
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.merge import MergeIntoJob
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.sources.transcripts import (
        SCHEMA_DDL, generate_transcripts,
    )

    n_convs = max(2000, int(sf * turns_scale))
    df = generate_transcripts(
        spark, n_convs, hot_convs=5, hot_turns=4000, span_days=8
    )
    concurrency = max(4, min(16, cpus))
    timings: dict[str, float] = {}

    t0 = time.time()
    table = Table.create(
        spark, os.path.join(workdir, "bench_transcripts"),
        T.StructType.fromDDL(SCHEMA_DDL),
        PartitionSpec.of(days("ts_day", "ts")),
        properties={
            "write.target-file-size-bytes": str(32 * 1024 * 1024),
            # bounds on the narrow key columns only: never decompress `text`
            # for stats nobody prunes on
            "stats.columns": "conv_id,turn_idx,role,tool,ts",
            # per-file conv_id blooms: the third merge-scoping layer —
            # bounds say "maybe", the bloom knows the file's actual key set.
            # Harvested by a narrow conv_id-only job per write. Sized for
            # the file's key cardinality: a 32MB z-ordered file holds ~8k
            # distinct convs, so 2^18 bits (32KB, 0.1% of data) keeps
            # FPR ~2e-4 where the 8Kbit default would saturate.
            "stats.bloom-columns": "conv_id",
            "stats.bloom-bits": str(1 << 18),
            # blooms only on curve-layout outputs: append/compaction-era
            # files are rewritten by the very next pass, so their bitsets
            # (a full key-column read per write) would be thrown away
            # within one maintenance cycle. Merge runs post-cluster, where
            # every live file carries a bloom.
            "stats.bloom.layouts": "curve",
        },
    )
    table.append(df, n_files=8)
    timings["ingest_append"] = time.time() - t0
    n_turns = sum(f.record_count for f in table.live_data_files())

    t0 = time.time()
    CompactionJob(table, max_concurrency=concurrency).run()
    timings["compact"] = time.time() - t0

    t0 = time.time()
    ClusteringJob(table, curve="zorder", max_concurrency=concurrency).run()
    timings["cluster_zorder"] = time.time() - t0

    if not core_only:
        # metadata-only aggregate (plans/agg_pushdown.py): COUNT/MIN/MAX
        # answered from manifest stats on the freshly-maintained (clean)
        # table — at 10^12 turns this replaces a full-table scan with an
        # O(manifest) driver computation
        from e2e_ocsf_cyber_lakehouse_blueprint_spark.plans.agg_pushdown import (
            AggItem, metadata_agg,
        )

        t0 = time.time()
        fast = metadata_agg(table, [
            AggItem("count_star", None, "n"),
            AggItem("min", "ts", "min_ts"),
            AggItem("max", "ts", "max_ts"),
        ])
        assert fast is not None, "metadata agg refused the maintained table"
        meta_row = fast.collect()[0]
        assert meta_row["n"] == n_turns, (meta_row["n"], n_turns)
        timings["agg_count_meta"] = time.time() - t0

        # scoped merge: corrections to 3 conversations — manifest scoping
        # should rewrite a small neighborhood, not the table
        t0 = time.time()
        convs = ["conv-0000000007", "conv-0000000008", "conv-0000000019"]
        source = (
            table.scan([("conv_id", "in", convs)])
            .withColumn("text", F.concat(F.lit("corrected:"), F.col("text")))
        )
        res = MergeIntoJob(table).run(source)
        timings["merge_scoped"] = time.time() - t0
        timings["merge_files_scoped_frac"] = round(
            res.files_scoped / max(1, res.files_total), 3)

        # same correction shape through the atomic row-delta UPSERT: one
        # snapshot (batch files + equality delete), NO target rows read —
        # contrast with merge_scoped, which rewrites the matched files
        from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.upsert import upsert

        t0 = time.time()
        batch = (
            table.scan([("conv_id", "in", convs)])
            .withColumn("text", F.concat(F.lit("upserted:"), F.col("text")))
        )
        upsert(table, batch, ["conv_id", "turn_idx"], n_files=1)
        timings["upsert_rowdelta"] = time.time() - t0

        # predicate delete both ways on the same-shape stripe: merge-on-read
        # moves only the DV bytes, copy-on-write rewrites the neighborhood
        from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.delete import DeleteJob

        # disjoint same-volume stripes (roles cycle with turn_idx%4):
        # tool rows sit at turns 3,7; system rows at 2,6 — every file holds
        # both stripes, so each delete straddles the whole table
        t0 = time.time()
        rm = DeleteJob(table, [("role", "=", "tool"), ("turn_idx", "<", 8)],
                       mode="merge-on-read").run()
        timings["delete_mor"] = time.time() - t0
        assert rm.rows_deleted > 0
        t0 = time.time()
        rc = DeleteJob(table, [("role", "=", "system"), ("turn_idx", "<", 8)],
                       mode="copy-on-write").run()
        timings["delete_cow"] = time.time() - t0
        assert rc.rows_deleted > 0

        # materialized view kept fresh incrementally: full build once, then
        # a 3-conversation upsert lands and the refresh applies ONLY the
        # change feed (eqdel keys cover the group key, so dirty groups come
        # straight from the key tuples — no source rescan)
        from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.matview import (
            Agg, MatViewDefn, create_materialized_view_table,
        )
        from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.matview import (
            refresh as mv_refresh,
        )

        t0 = time.time()
        mv = create_materialized_view_table(
            spark, os.path.join(workdir, "bench_mv"), table,
            MatViewDefn(
                group_keys=("conv_id",),
                aggs=(Agg("count_star", None, "n_turns"),
                      Agg("sum", "turn_idx", "sum_turn"),
                      Agg("max", "ts", "last_ts")),
            ),
        )
        timings["mv_build_full"] = time.time() - t0
        batch = (
            table.scan([("conv_id", "in", convs)])
            .withColumn("text", F.concat(F.lit("mv:"), F.col("text")))
        )
        upsert(table, batch, ["conv_id", "turn_idx"], n_files=1)
        t0 = time.time()
        mres = mv_refresh(mv)
        assert mres.mode == "incremental", mres.fallback_reason
        timings["mv_refresh_incremental"] = time.time() - t0

        t0 = time.time()
        ExpireSnapshotsJob(table, keep_last=1).run()
        timings["expire_gc"] = time.time() - t0

        t0 = time.time()
        _ = table.scan([("conv_id", "=", "conv-0000000007")]).count()
        timings["scan_point_lookup"] = time.time() - t0

        t0 = time.time()
        _ = table.scan([("ts", ">=", "2025-01-07 00:00:00")]).count()
        timings["scan_ts_range"] = time.time() - t0

    core = timings["compact"] + timings["cluster_zorder"]
    return {
        "timings": timings,
        "turns": n_turns,
        "throughput_turns_per_sec": round(n_turns / core, 1),
    }


def _query_bench(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entrymod

    names = [
        "agg_pricing_summary", "join_top_orders", "join_broadcast_dim",
        "window_dedup", "stats_census", "dedup_exact", "dedup_minhash_lsh",
        "text_stats", "sim_topk",
    ]
    qs = entrymod.queries()
    out = {}
    for name in names:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 3)
    return out


# ---------------------------------------------------------------- template
# The scaling protocol measures ONLY the compact+cluster core, but each trial
# used to pay a full ingest (~70% of trial wall) first. Instead: build the
# fragmented table once ("template"), keep a pristine copy, and restore it
# before every trial (tmpfs copy, seconds). Manifests store absolute paths,
# so the restore target is always the path the template was built at.

def prepare_template(sf_dir: str, cpus: int, template_root: str) -> dict:
    from pyspark.sql import types as T

    from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.partition import (
        PartitionSpec, days,
    )
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.session import get_spark
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.sources.transcripts import (
        SCHEMA_DDL, generate_transcripts,
    )

    sf = _sf_of(sf_dir)
    turns_scale = int(os.environ.get("BENCH_TURNS_SCALE", "8000000"))
    n_convs = max(2000, int(sf * turns_scale))
    # fragmentation must scale with data volume, or at larger BENCH_TURNS_SCALE
    # the per-partition files exceed the small-file threshold and the compact
    # phase silently degenerates to a planning no-op
    n_files = max(8, round(8 * sf * turns_scale / 800_000))
    spark = get_spark(parallelism=cpus, shuffle_partitions=max(cpus, 8),
                      app_name="bench-template")
    df = generate_transcripts(spark, n_convs, hot_convs=5, hot_turns=4000,
                              span_days=8)
    t0 = time.time()
    loc = os.path.join(template_root, "t")
    table = Table.create(
        spark, loc, T.StructType.fromDDL(SCHEMA_DDL),
        PartitionSpec.of(days("ts_day", "ts")),
        properties={
            "write.target-file-size-bytes": str(32 * 1024 * 1024),
            "stats.columns": "conv_id,turn_idx,role,tool,ts",
        },
    )
    table.append(df, n_files=n_files)
    elapsed = time.time() - t0
    n_turns = sum(f.record_count for f in table.live_data_files())
    spark.stop()
    shutil.copytree(loc, os.path.join(template_root, "pristine"))
    return {"ingest_sec": round(elapsed, 3), "turns": n_turns, "n_files": n_files}


def run_core_from_template(template_root: str, cpus: int) -> dict:
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.clustering import ClusteringJob
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.compaction import CompactionJob
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.session import get_spark

    loc = os.path.join(template_root, "t")
    shutil.rmtree(loc, ignore_errors=True)
    shutil.copytree(os.path.join(template_root, "pristine"), loc)
    spark = get_spark(parallelism=cpus, shuffle_partitions=max(cpus, 8),
                      app_name=f"bench-core-{cpus}")
    try:
        table = Table.load(spark, loc)
        n_turns = sum(f.record_count for f in table.live_data_files())
        # steady-state measurement: warm the JVM's codegen / parquet reader+
        # writer / committer paths before timing (a fresh JVM's first parquet
        # job pays multi-second class-load + JIT costs that a long-running
        # cluster amortizes away)
        warm = os.path.join(template_root, f"warm-{cpus}")
        some = [f.path for f in table.live_data_files()[:4]]
        spark.read.parquet(*some).limit(50000).write.mode("overwrite").parquet(warm)
        # also warm the range-exchange sampler + shuffle + sort codegen paths
        # the clustering phase runs (first-shuffle JIT was a measured ~2-4s
        # one-off that polluted per-phase minima)
        (spark.read.parquet(warm).repartitionByRange(4, "conv_id", "turn_idx")
         .sortWithinPartitions("conv_id").write.mode("overwrite")
         .parquet(warm + "2"))
        shutil.rmtree(warm, ignore_errors=True)
        shutil.rmtree(warm + "2", ignore_errors=True)
        concurrency = max(4, min(16, cpus))
        t0 = time.time()
        CompactionJob(table, max_concurrency=concurrency).run()
        c = time.time() - t0
        t0 = time.time()
        ClusteringJob(table, curve="zorder", max_concurrency=concurrency).run()
        z = time.time() - t0
        return {
            "metric": "compact+zorder core from template",
            "value": round(c + z, 3),
            "unit": "sec",
            "queries": {"compact": round(c, 3), "cluster_zorder": round(z, 3)},
            "sf": 0.0,
            "cpus": cpus,
            "turns": n_turns,
            "throughput_turns_per_sec": round(n_turns / (c + z), 1),
        }
    finally:
        spark.stop()


def run_once(sf_dir: str, cpus: int, *, maintenance_only: bool = False,
             core_only: bool = False) -> dict:
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.session import get_spark

    spark = get_spark(parallelism=cpus, shuffle_partitions=max(cpus, 8),
                      app_name=f"bench-{cpus}")
    sf = _sf_of(sf_dir)
    workdir = tempfile.mkdtemp(prefix=f"bench-{cpus}-", dir=BENCH_WORKROOT)
    # The host shows one-sided CPU-steal noise (identical back-to-back runs
    # measured 67s vs 27s core); a single shot is a lottery. Default to
    # best-of-2 trials of the maintenance pipeline with per-phase minima —
    # the same estimator the scaling protocol uses (BENCH/BASELINE.md).
    trials = max(1, int(os.environ.get("BENCH_MAINT_TRIALS", "2")))
    try:
        maint = None
        raw_trials: list[dict] = []
        for i in range(trials):
            wd = os.path.join(workdir, f"t{i}")
            os.makedirs(wd, exist_ok=True)
            m = _maintenance_bench(
                spark, sf, wd, cpus=cpus, core_only=core_only,
                turns_scale=int(os.environ.get("BENCH_TURNS_SCALE", "8000000")))
            raw_trials.append(dict(m["timings"]))
            if maint is None:
                maint = m
            else:
                for k, v in m["timings"].items():
                    if not k.endswith("_frac"):
                        maint["timings"][k] = min(maint["timings"][k], v)
        core = maint["timings"]["compact"] + maint["timings"]["cluster_zorder"]
        maint["throughput_turns_per_sec"] = round(maint["turns"] / core, 1)
        queries = dict(maint["timings"])
        if not maintenance_only:
            queries.update(_query_bench(spark, sf_dir))
        total = round(sum(queries.values()), 3)
        # per-phase spread across maintenance trials (VERDICT r4 item #8):
        # host-steal regressions adjudicate from one artifact instead of a
        # re-investigation — a phase whose min moved but whose max overlaps
        # the previous round's spread is window noise, not a code change
        spread = {}
        if len(raw_trials) >= 2:
            for k in raw_trials[0]:
                if k.endswith("_frac"):
                    continue
                vals = sorted(t[k] for t in raw_trials)
                spread[k] = {
                    "min": round(vals[0], 3),
                    "median": round(statistics.median(vals), 3),
                    "max": round(vals[-1], 3),
                }
        return {
            "metric": "maintenance+query wall clock (compact+zorder core -> turns/sec)",
            "value": total,
            "unit": "sec",
            "queries": {k: round(v, 3) for k, v in queries.items()},
            "sf": sf,
            "cpus": cpus,
            "turns": maint["turns"],
            "throughput_turns_per_sec": maint["throughput_turns_per_sec"],
            "maint_trials": trials,
            "maint_phase_spread": spread,
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


def run_scaling(sf_dir: str, n_small: int, n_big: int, trials: int = 2) -> dict:
    """Same input at local[N] vs local[4N] in fresh JVMs; efficiency =
    throughput(4N) / (4 x throughput(N)).

    This sandbox VM shares its host (measured steal: nproc=32 but parallel burn
    throughput ~= 20-24 cores, varying by the minute), so: (a) both sizes stay
    under the effective-capacity ceiling, (b) each size runs `trials` times and
    the best PHASE times count (steal is one-sided noise; the minimum is the
    capacity estimate), (c) runs interleave N/4N to expose both sizes to
    similar host conditions, (d) the fragmented input table is built ONCE and
    restored from a pristine tmpfs copy before each trial, so a trial costs
    only the measured core (more trials per wall-clock hour -> tighter
    minima)."""
    results = {}
    template_root = tempfile.mkdtemp(prefix="bench-tmpl-", dir=BENCH_WORKROOT)
    # Both arms share one fixed heap by default. The per-core alternative
    # (BENCH_MEM_PER_CORE_GB, the "each executor brings its own memory"
    # proxy) was MEASURED and rejected at bench scale: the working set
    # (~2.6 GB) never pressures a 16 GB heap at either parallelism — local[2]
    # at 8g matched local[2] at 16g exactly — while a 32 GB heap made the
    # local[8] arm ~30% slower (GC geometry), i.e. heap size was a
    # confounder, not a fairness fix. Raw runs: BENCH/run4x_r3{b,c,d}.json.
    fixed_mem = os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    per_core_gb = os.environ.get("BENCH_MEM_PER_CORE_GB")

    def sub(args_list, cpus):
        mem = f"{int(per_core_gb) * cpus}g" if per_core_gb else fixed_mem
        env = dict(os.environ, SPARK_DRIVER_MEMORY=mem)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)] + args_list,
            capture_output=True, text=True, timeout=3600, env=env,
        )
        lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
        if not lines:
            raise RuntimeError(f"bench subprocess {args_list} failed: {proc.stderr[-2000:]}")
        return json.loads(lines[-1])

    try:
        prep = sub(["--prepare-template", template_root, "--sf-dir", sf_dir,
                    "--cpus", str(n_big)], n_big)
        order = [c for _ in range(trials) for c in (n_small, n_big)]
        for cpus in order:
            run = sub(["--use-template", template_root, "--cpus", str(cpus)], cpus)
            results.setdefault(cpus, []).append(run)
    finally:
        shutil.rmtree(template_root, ignore_errors=True)

    def best_core(cpus):
        # best-per-phase across trials: shared-host steal is one-sided noise,
        # so the minimum observed time per phase is the honest capacity number
        runs = results[cpus]
        compact = min(r["queries"]["compact"] for r in runs)
        cluster = min(r["queries"]["cluster_zorder"] for r in runs)
        turns = runs[0]["turns"]
        return compact, cluster, turns / (compact + cluster)

    c_s, z_s, thr_s = best_core(n_small)
    c_b, z_b, thr_b = best_core(n_big)
    eff = thr_b / ((n_big / n_small) * thr_s)
    return {
        "n_small": n_small, "n_big": n_big,
        "throughput_small": round(thr_s, 1), "throughput_big": round(thr_b, 1),
        "best_phases": {"small": {"compact": c_s, "cluster_zorder": z_s},
                        "big": {"compact": c_b, "cluster_zorder": z_b}},
        "scaling_efficiency": round(eff, 3),
        "trials": trials,
        "template_ingest": prep,
        "runs": results,
    }


def write_baseline_md(res: dict, path: str = None) -> None:
    """Persist the two-cluster-size protocol result (BASELINE.json north_rule:
    throughput at N and 4N parallelism + scaling efficiency >= 0.8)."""
    path = path or os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "BENCH", "BASELINE.md")
    ns, nb = res["n_small"], res["n_big"]
    runs_s = res["runs"][ns] if ns in res["runs"] else res["runs"][str(ns)]
    runs_b = res["runs"][nb] if nb in res["runs"] else res["runs"][str(nb)]
    turns = runs_s[0]["turns"]

    def trial_rows(cpus, runs):
        return "\n".join(
            f"| local[{cpus}] | {i+1} | {r['queries']['compact']:.1f} | "
            f"{r['queries']['cluster_zorder']:.1f} | {r['throughput_turns_per_sec']:,.0f} |"
            for i, r in enumerate(runs)
        )

    bp = res["best_phases"]
    md = f"""# BASELINE — two-cluster-size scaling protocol

Sandbox proxy for N vs 4N executors (task directive): the identical
maintenance job — append (fragmented) -> FFD compaction -> Z-order
clustering over {turns:,} deterministic Zipf-skewed transcript turns — run in
fresh JVMs at local[{ns}] and local[{nb}], interleaved best-of-{res['trials']}
trials (the host shows one-sided CPU-steal noise; the per-phase minimum is the
capacity estimate). Core metric = compact + cluster_zorder wall clock.

| parallelism | trial | compact s | cluster s | turns/sec |
|---|---|---|---|---|
{trial_rows(ns, runs_s)}
{trial_rows(nb, runs_b)}

## Best-of-trials core phases

| parallelism | compact s | cluster s | throughput (turns/sec) |
|---|---|---|---|
| local[{ns}] | {bp['small']['compact']:.1f} | {bp['small']['cluster_zorder']:.1f} | {res['throughput_small']:,.0f} |
| local[{nb}] | {bp['big']['compact']:.1f} | {bp['big']['cluster_zorder']:.1f} | {res['throughput_big']:,.0f} |

**Scaling efficiency (local[{nb}] vs {nb//ns} x local[{ns}]): {res['scaling_efficiency']:.3f}**
(north_rule target >= 0.8)

Workdirs and shuffle dirs are tmpfs: the sandbox's single ~270 MB/s virtio
disk would otherwise impose the same serial I/O floor on every parallelism
level, while a real cluster's local-disk bandwidth scales with node count.
Reproduce: `python bench.py --scaling --n-small {ns} --trials {res['trials']}`.
"""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(md)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--n-small", type=int, default=4)
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--maintenance-only", action="store_true")
    ap.add_argument("--core-only", action="store_true")
    ap.add_argument("--json-only", action="store_true")
    ap.add_argument("--prepare-template", metavar="DIR")
    ap.add_argument("--use-template", metavar="DIR")
    args = ap.parse_args()

    if args.prepare_template:
        print(json.dumps(prepare_template(args.sf_dir, args.cpus, args.prepare_template)))
        return
    if args.use_template:
        print(json.dumps(run_core_from_template(args.use_template, args.cpus)))
        return

    if args.scaling:
        res = run_scaling(args.sf_dir, args.n_small, args.n_small * 4, args.trials)
        write_baseline_md(res)
        print(json.dumps(res))
        return

    res = run_once(args.sf_dir, args.cpus, maintenance_only=args.maintenance_only,
                   core_only=args.core_only)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
