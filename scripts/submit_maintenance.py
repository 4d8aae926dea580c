"""spark-submit entry point for the maintenance engine (north rule: "run via
spark-submit --py-files on a multi-executor cluster at two cluster sizes").

Package first, then submit the SAME job at N and 4N executors. The zip is
not kept in git: ``scripts/make_pyfiles.py`` builds it from the working tree
on demand, so it always matches the code being submitted.

    python scripts/make_pyfiles.py                     # -> dist/engine.zip

    spark-submit --master yarn --deploy-mode client \
        --num-executors 8  --executor-cores 4 --executor-memory 16g \
        --py-files dist/engine.zip \
        scripts/submit_maintenance.py --table /shared/lake/transcripts --job maintain

    spark-submit ... --num-executors 32 ... \
        scripts/submit_maintenance.py --table /shared/lake/transcripts --job maintain

The table path must be on a POSIX filesystem that the driver and every
executor mount at the same path (NFS, Lustre, a FUSE mount): the metadata
plane commits with ``os.link``/``os.replace`` and plain ``open``, which
object-store URIs such as ``s3a://`` do not provide.

Each run prints ONE JSON line of per-phase metrics (the same shape bench.py
emits locally); throughput_turns_per_sec at the two sizes gives the scaling
efficiency the BASELINE protocol measures with local[2]/local[8] in the
sandbox. The driver never touches data rows: jobs are planned from manifest
metadata and executed as DataFrame writes, so the exact same code path runs
under YARN/k8s/standalone as under local[N].

Jobs:
  ingest    append --input parquet into the table (creates it if absent)
  compact   bin-packing small-file rewrite
  cluster   Z-order (default) or --curve hilbert clustering
  expire    snapshot expiration + distributed orphan GC
  maintain  managed pass: incremental cluster/compact + retention
  sql       run one --statement through the maintenance SQL dialect
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="table location (dir/URI)")
    ap.add_argument("--job", required=True,
                    choices=["ingest", "compact", "cluster", "expire",
                             "maintain", "sql"])
    ap.add_argument("--input", help="parquet path for --job ingest")
    ap.add_argument("--curve", default="zorder", choices=["zorder", "hilbert"])
    ap.add_argument("--statement", help="SQL text for --job sql")
    ap.add_argument("--keep-last", type=int, default=3)
    ap.add_argument("--max-concurrency", type=int, default=8)
    args = ap.parse_args()

    # Under spark-submit the master MUST come from the command line; the
    # env var tells the session factory to leave spark.master alone.
    os.environ.setdefault("SPARK_GRAFT_MASTER", "submit")

    from e2e_ocsf_cyber_lakehouse_blueprint_spark.session import get_spark
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table

    spark = get_spark(app_name=f"maintenance-{args.job}")
    t0 = time.time()

    if args.job == "ingest":
        if not args.input:
            ap.error("--job ingest requires --input")
        df = spark.read.parquet(args.input)
        if os.path.exists(os.path.join(args.table, "metadata")):
            table = Table.load(spark, args.table)
        else:
            table = Table.create(spark, args.table, df.schema)
        snap = table.append(df)
        result = {"snapshot_id": snap.snapshot_id,
                  "rows": int(snap.summary.get("added-records", 0))}
    else:
        table = Table.load(spark, args.table)
        if args.job == "compact":
            from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.compaction import (
                CompactionJob,
            )
            result = dataclasses.asdict(CompactionJob(
                table, max_concurrency=args.max_concurrency).run())
        elif args.job == "cluster":
            from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.clustering import (
                ClusteringJob,
            )
            result = dataclasses.asdict(ClusteringJob(
                table, curve=args.curve,
                max_concurrency=args.max_concurrency).run())
        elif args.job == "expire":
            from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.expire import (
                ExpireSnapshotsJob,
            )
            result = dataclasses.asdict(ExpireSnapshotsJob(
                table, keep_last=args.keep_last).run())
        elif args.job == "maintain":
            from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.maintain import (
                run_maintenance,
            )
            result = dataclasses.asdict(run_maintenance(
                table, max_concurrency=args.max_concurrency))
        else:  # sql
            if not args.statement:
                ap.error("--job sql requires --statement")
            from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.catalog import (
                Catalog,
            )
            from e2e_ocsf_cyber_lakehouse_blueprint_spark.sql import run_sql
            out = run_sql(Catalog(spark, os.path.dirname(args.table)),
                          args.statement)
            result = {"result": str(out)}

    wall = time.time() - t0
    print(json.dumps({
        "job": args.job, "table": args.table, "wall_sec": round(wall, 3),
        "parallelism": spark.sparkContext.defaultParallelism,
        "result": _jsonable(result),
    }))
    return 0


def _jsonable(x):
    if isinstance(x, dict):
        return {k: _jsonable(v) for k, v in x.items()}
    if isinstance(x, (list, tuple, set)):
        return [_jsonable(v) for v in x]
    if isinstance(x, (str, int, float, bool)) or x is None:
        return x
    return str(x)


if __name__ == "__main__":
    raise SystemExit(main())
