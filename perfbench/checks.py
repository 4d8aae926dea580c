"""Output checks computed apart from the engine: plain pyspark over the
generated inputs or over the parquet files themselves, and ``os.walk`` over
the table directory. Each check raises ``CheckFailed`` on a mismatch."""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


class CheckFailed(AssertionError):
    pass


def digest(df: DataFrame) -> tuple[int, int]:
    """Row count and an order-independent hash of the rows."""
    row = (df.select(F.xxhash64(*COLUMNS).cast("decimal(38,0)").alias("h"))
           .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
           .collect()[0])
    return int(row["n"]), int(row["s"] or 0)


def same_digest(got: tuple[int, int], want: tuple[int, int], what: str) -> None:
    if got != want:
        raise CheckFailed(f"{what}: rows/hash {got} != expected {want}")


def same_text(got: DataFrame, want: DataFrame) -> None:
    """Per-turn text equal under (conv_id, turn_idx) order."""
    def turns(df):
        return [tuple(r) for r in df.select("conv_id", "turn_idx", "text")
                .orderBy("conv_id", "turn_idx").collect()]

    g, w = turns(got), turns(want)
    if g != w:
        bad = next((i for i, (a, b) in enumerate(zip(g, w)) if a != b),
                   min(len(g), len(w)))
        raise CheckFailed(f"merged text differs at turn {bad}: "
                          f"{g[bad:bad + 1]} != {w[bad:bad + 1]} "
                          f"({len(g)} turns, expected {len(w)})")


def local_path(p: str) -> str:
    """A file URI or path as a plain absolute path."""
    return os.path.abspath(unquote(urlparse(p).path) if p.startswith("file:") else p)


def no_orphans(table) -> None:
    """Parquet files on disk equal the files the retained snapshots
    reference."""
    on_disk = {os.path.join(d, n) for d, _, names in os.walk(table.location)
               for n in names if n.endswith(".parquet")}
    referenced = set()
    for s in table.snapshots:
        sid = s.snapshot_id
        for f in (table.live_data_files(sid) + table.live_delete_files(sid)
                  + table.live_eq_delete_files(sid)):
            referenced.add(local_path(f.path))
    if on_disk != referenced:
        raise CheckFailed(
            f"after expire: {len(on_disk - referenced)} unreferenced files on "
            f"disk (e.g. {sorted(on_disk - referenced)[:1]}), "
            f"{len(referenced - on_disk)} referenced files missing")


class Census:
    """What one parquet file holds: rows, ts range, and which of the keys
    asked about."""

    __slots__ = ("count", "min_ts", "max_ts", "keys")

    def __init__(self, count, min_ts, max_ts, keys):
        self.count, self.min_ts, self.max_ts = count, min_ts, max_ts
        self.keys = set(keys)


def file_census(spark, paths: list[str], keys: list[str]) -> dict[str, Census]:
    """One plain parquet read of ``paths``, grouped by ``_metadata.file_path``."""
    rows = (spark.read.parquet(*paths)
            .groupBy(F.col("_metadata.file_path").alias("f"))
            .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("lo"),
                 F.max("ts").alias("hi"),
                 F.collect_set(F.when(F.col("conv_id").isin(keys),
                                      F.col("conv_id"))).alias("k"))
            .collect())
    return {local_path(r["f"]): Census(r["n"], r["lo"], r["hi"], r["k"]) for r in rows}


def covers(planned, holding: set[str], what: str) -> None:
    """The planned files are a superset of the files holding matching rows."""
    missed = holding - {local_path(f.path) for f in planned}
    if missed:
        raise CheckFailed(f"plan_scan({what}) missed {len(missed)} of "
                          f"{len(holding)} files holding matching rows")


def same_aggregates(got: tuple, census: dict[str, Census]) -> None:
    """Metadata count/min/max equal the same aggregates over the files."""
    cs = census.values()
    want = (sum(c.count for c in cs), min(c.min_ts for c in cs),
            max(c.max_ts for c in cs))
    if tuple(got) != want:
        raise CheckFailed(f"metadata count/min/max {tuple(got)} != parquet {want}")
