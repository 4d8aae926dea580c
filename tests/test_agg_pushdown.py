"""Metadata-only aggregation (plans/agg_pushdown.py + sql.py fast path):
COUNT/MIN/MAX answered from manifest stats, hybrid residual scans where the
stats can't decide, and loud fallbacks where the fast path would be unsound."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.catalog import Catalog
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.partition import (
    PartitionSpec, days,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.delete import (
    DeleteJob, equality_delete,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.plans.agg_pushdown import (
    AggItem, metadata_agg,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.plans.pruning import covers_bounds
from e2e_ocsf_cyber_lakehouse_blueprint_spark.sql import (
    _try_metadata_agg, run_sql,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.sources.transcripts import (
    SCHEMA_DDL, generate_transcripts,
)

AGG_SQL = """
    SELECT COUNT(*) AS n_turns, COUNT(tool) AS n_tool,
           MIN(turn_idx) AS min_turn, MAX(turn_idx) AS max_turn,
           MIN(ts) AS min_ts, MAX(ts) AS max_ts
    FROM ops.transcripts{where}
"""


@pytest.fixture()
def cat(spark, tmp_path):
    c = Catalog(spark, str(tmp_path / "wh"))
    c.create_database("ops")
    t = c.create_table(
        "ops.transcripts", T.StructType.fromDDL(SCHEMA_DDL),
        PartitionSpec.of(days("ts_day", "ts")),
        properties={"write.target-file-size-bytes": str(256 * 1024)},
    )
    df = generate_transcripts(spark, n_convs=40, hot_convs=1, hot_turns=50,
                              span_days=4).cache()
    t.append(df, n_files=3)
    t.append(df.withColumn("turn_idx", F.col("turn_idx") + 1000), n_files=3)
    return c, t


def _expected(t, where_expr=None):
    df = t.scan()
    if where_expr:
        df = df.filter(where_expr)
    return df.agg(
        F.count(F.lit(1)).alias("n_turns"), F.count("tool").alias("n_tool"),
        F.min("turn_idx").alias("min_turn"), F.max("turn_idx").alias("max_turn"),
        F.min("ts").alias("min_ts"), F.max("ts").alias("max_ts"),
    ).collect()[0]


def _no_data_reads(monkeypatch):
    def boom(self, paths, *a, **kw):
        raise AssertionError(f"data files were read: {paths[:2]}")
    monkeypatch.setattr(Table, "read_parquet", boom)


def test_count_min_max_zero_io(cat, monkeypatch):
    c, t = cat
    want = _expected(t)
    _no_data_reads(monkeypatch)
    got = run_sql(c, AGG_SQL.format(where="")).collect()[0]
    assert tuple(got) == tuple(want)


def test_where_full_match_zero_io(cat, monkeypatch):
    """turn_idx >= 0 fully covers every file: still metadata-only."""
    c, t = cat
    want = _expected(t, "turn_idx >= 0")
    _no_data_reads(monkeypatch)
    got = run_sql(c, AGG_SQL.format(where=" WHERE turn_idx >= 0")).collect()[0]
    assert tuple(got) == tuple(want)


@pytest.mark.parametrize("where_sql,where_expr", [
    (" WHERE turn_idx >= 1000", "turn_idx >= 1000"),
    (" WHERE role = 'user'", "role = 'user'"),
    (" WHERE tool IS NULL", "tool IS NULL"),
    (" WHERE tool IS NOT NULL", "tool IS NOT NULL"),
    (" WHERE role = 'user' AND turn_idx < 8", "role = 'user' AND turn_idx < 8"),
])
def test_hybrid_matches_scan(cat, where_sql, where_expr):
    c, t = cat
    want = _expected(t, where_expr)
    got = run_sql(c, AGG_SQL.format(where=where_sql)).collect()[0]
    assert tuple(got) == tuple(want)


def test_version_as_of_zero_io(cat, monkeypatch):
    c, t = cat
    s1 = t.snapshots[0].snapshot_id
    want = t.scan(snapshot_id=s1).count()
    _no_data_reads(monkeypatch)
    got = run_sql(
        c, f"SELECT COUNT(*) AS n FROM ops.transcripts VERSION AS OF {s1}"
    ).collect()[0]
    assert got["n"] == want


def test_string_min_max_falls_back(cat):
    """conv_id bounds are truncated prefixes — the fast path must refuse,
    the ordinary path must still answer."""
    c, t = cat
    assert _try_metadata_agg(
        c, "SELECT MIN(conv_id) AS m FROM ops.transcripts") is None
    got = run_sql(c, "SELECT MIN(conv_id) AS m FROM ops.transcripts")
    assert got.collect()[0]["m"] == t.scan().agg(F.min("conv_id")).collect()[0][0]


def test_group_by_not_intercepted(cat):
    c, t = cat
    got = run_sql(c, """
        SELECT role, COUNT(*) AS n FROM ops.transcripts GROUP BY role
    """)
    want = dict(t.scan().groupBy("role").count().collect())
    assert {r["role"]: r["n"] for r in got.collect()} == want


def test_posdel_count_zero_data_io(cat, monkeypatch):
    """COUNT(*) over merge-on-read deletes: metadata row count minus the
    distinct masked positions, read from the delete parquet only."""
    c, t = cat
    DeleteJob(t, [("role", "=", "system")], mode="merge-on-read").run()
    t.refresh()
    want = t.scan().count()
    assert t.live_delete_files(), "fixture must leave live posdels"
    _no_data_reads(monkeypatch)
    got = run_sql(c, "SELECT COUNT(*) AS n FROM ops.transcripts").collect()[0]
    assert got["n"] == want


def test_posdel_min_max_falls_back_correct(cat):
    c, t = cat
    DeleteJob(t, [("turn_idx", "<", 3)], mode="merge-on-read").run()
    t.refresh()
    assert t.live_delete_files()
    assert _try_metadata_agg(
        c, "SELECT MIN(turn_idx) AS m FROM ops.transcripts") is None
    got = run_sql(c, "SELECT MIN(turn_idx) AS m FROM ops.transcripts")
    assert got.collect()[0]["m"] == 3


def test_eqdel_falls_back_correct(cat, spark):
    c, t = cat
    keys = spark.createDataFrame([("conv-0000000000",)], "conv_id string")
    equality_delete(t, keys)
    t.refresh()
    assert _try_metadata_agg(
        c, "SELECT COUNT(*) AS n FROM ops.transcripts") is None
    got = run_sql(c, "SELECT COUNT(*) AS n FROM ops.transcripts").collect()[0]
    assert got["n"] == t.scan().count()


def test_truncated_string_equality_stays_residual(spark, tmp_path):
    """A 45-char constant column: its stored bounds are a truncated prefix
    and an incremented prefix, so lo != hi and equality must NOT claim a
    full match — the file goes to the residual scan and the answer is right."""
    long_val = "x" * 45
    short_val = "const"
    c = Catalog(spark, str(tmp_path / "wh2"))
    c.create_database("d")
    t = c.create_table("d.t", T.StructType.fromDDL("k int, v string, w string"))
    t.append(spark.createDataFrame(
        [(i, long_val, short_val) for i in range(10)], t.schema))

    got = run_sql(c, f"SELECT COUNT(*) AS n FROM d.t WHERE v = '{long_val}'")
    assert got.collect()[0]["n"] == 10
    # the short constant DOES full-match: provably zero data reads
    f = t.live_data_files()[0]
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.plans.pruning import (
        covers_bounds,
    )
    assert not covers_bounds(f, "v", "=", long_val, T.StringType())
    assert covers_bounds(f, "w", "=", short_val, T.StringType())


def test_renamed_column_zero_io(cat, monkeypatch):
    """Stats live under the write-era name; the fast path resolves them
    through the rename map."""
    c, t = cat
    run_sql(c, "ALTER TABLE ops.transcripts RENAME COLUMN turn_idx TO idx")
    t.refresh()
    want = t.scan().agg(F.min("idx"), F.max("idx"), F.count("idx")).collect()[0]
    _no_data_reads(monkeypatch)
    got = run_sql(c, """
        SELECT MIN(idx) AS mn, MAX(idx) AS mx, COUNT(idx) AS n
        FROM ops.transcripts
    """).collect()[0]
    assert tuple(got) == tuple(want)


def test_empty_table_aggregates(spark, tmp_path):
    c = Catalog(spark, str(tmp_path / "wh3"))
    c.create_database("d")
    c.create_table("d.e", T.StructType.fromDDL("k int, ts timestamp"))
    row = run_sql(c, """
        SELECT COUNT(*) AS n, MIN(k) AS mn, MAX(ts) AS mx FROM d.e
    """).collect()[0]
    assert (row["n"], row["mn"], row["mx"]) == (0, None, None)


def test_direct_api_in_predicate(cat):
    c, t = cat
    got = metadata_agg(
        t,
        [AggItem("count_star", None, "n")],
        [("role", "in", ["user", "tool"])],
    )
    assert got.collect()[0]["n"] == \
        t.scan().filter(F.col("role").isin("user", "tool")).count()


def test_fully_covered_answer_runs_no_job(cat, jobs_run):
    """The metadata answer is a LocalRelation: collecting it is no Spark job."""
    c, t = cat
    want = _expected(t)
    items = [AggItem("count_star", None, "n_turns"),
             AggItem("count", "tool", "n_tool"),
             AggItem("min", "turn_idx", "min_turn"),
             AggItem("max", "turn_idx", "max_turn"),
             AggItem("min", "ts", "min_ts"), AggItem("max", "ts", "max_ts")]
    got = metadata_agg(t, items)
    with jobs_run() as ran:
        row = got.collect()[0]
    assert ran == []
    assert tuple(row) == tuple(want)


@pytest.mark.parametrize("preds,where", [
    (None, None),
    ([("turn_idx", ">=", 5)], "turn_idx >= 5"),
])
def test_timestamp_min_max_on_non_utc_host(cat, host_tz, preds, where):
    """Timestamp bounds decode to naive UTC wall time. On a host whose local
    zone is not UTC the metadata answer must still equal the scan, both when
    every file is covered and when residual files are folded in."""
    c, t = cat
    covered = [all(covers_bounds(f, col, op, v, T.IntegerType())
                   for col, op, v in preds or [])
               for f in t.plan_scan(preds)]
    assert all(covered) if preds is None else any(covered) and not all(covered)
    items = [AggItem("min", "ts", "mn"), AggItem("max", "ts", "mx")]
    with host_tz("PST+08"):
        scan = t.scan() if where is None else t.scan().filter(where)
        want = scan.agg(F.min("ts"), F.max("ts")).collect()[0]
        got = metadata_agg(t, items, preds).collect()[0]
    assert tuple(got) == tuple(want)
