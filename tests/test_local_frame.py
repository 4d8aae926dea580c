"""Driver-held rows enter Spark through ``session.local_frame`` as a
LocalRelation: DESCRIBE outputs and empty scans collect with no Spark job,
every schema a call site passes reads back as the pickled-list path read
it, and empty build sides (no references, no bounds) broadcast fine."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e2e_ocsf_cyber_lakehouse_blueprint_spark import sql
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.partition import (
    PartitionSpec, days,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table
from e2e_ocsf_cyber_lakehouse_blueprint_spark.functions.multimodal import (
    MEDIA_SCHEMA,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.delete import DeleteJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.expire import (
    ExpireSnapshotsJob,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.merge import MergeIntoJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.rewrite_deletes import (
    RewriteDeletesJob,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.session import local_frame
from e2e_ocsf_cyber_lakehouse_blueprint_spark.sources.transcripts import (
    SCHEMA_DDL, generate_transcripts,
)

TS = datetime.datetime(2025, 1, 1, 0, 0, 3)

# (schema, rows) for every schema a call site hands to local_frame
SITE_FRAMES = {
    "paths": ("file_path string", [("a",), ("b",)]),
    "paths_empty": ("path string", []),
    "posdel_count": (
        T.StructType([T.StructField("n", T.LongType()),
                      T.StructField("m", T.LongType())]), [(7, 7)]),
    "agg_row": (
        "n long, c long, mn int, mx timestamp, d date, f double, b boolean",
        [(3, 2, -1, TS, datetime.date(2025, 1, 1), 1.5, True)]),
    "agg_row_nulls": (
        "n long, c long, mn int, mx timestamp, d date, f double, b boolean",
        [(0, 0, None, None, None, None, None)]),
    "table_empty": (SCHEMA_DDL, []),
    "merge_bounds": (
        "fid int, lo string, hi string, hlo long, hhi long, lo1 int, hi1 int",
        [(0, "conv-1", "conv-9", -5, 7, 1, 2),
         (1, "5", "9", None, None, None, None)]),
    "seq": ("path string, _seq long", [("a", 3), ("b", 4)]),
    "manifests": (
        "path string, manifest_length long, added_snapshot_id long, "
        "added_files_count int, existing_files_count int, "
        "deleted_files_count int, partition_summaries map<string,string>",
        [("m1", 10, 1, 2, 0, 0, {}), ("m2", 11, 2, 1, 1, 0, {"d": "x"})]),
    "refs": ("name string, type string, snapshot_id long",
             [("main", "branch", None), ("b1", "tag", 5)]),
    "history": (
        "version long, timestamp timestamp_ntz, operation string, "
        "parent_version long, summary map<string,string>",
        [(2, TS, "append", 1, {"added-files": "3"}),
         (1, TS, "append", None, {})]),
    "create_stmt": ("createtab_stmt string", [("CREATE TABLE t (k INT)",)]),
    "media": (MEDIA_SCHEMA, [
        (1, "image", bytearray(b"\x00\x01"), (64, 48, 1000, "stub")),
        (2, None, None, None),
        (3, "audio", bytearray(b""), (None, None, None, None)),
    ]),
}


@pytest.mark.parametrize("site", sorted(SITE_FRAMES))
def test_matches_list_path(spark, host_tz, site):
    schema, rows = SITE_FRAMES[site]
    with host_tz("UTC"):  # where the list path reads naive datetimes right
        got = local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()


def test_collect_runs_no_job(spark, jobs_run):
    with jobs_run() as ran:
        spark.createDataFrame([(1,)], "a long").collect()
    assert ran, "the probe must see the pickled-list path's job"
    with jobs_run() as ran:
        rows = local_frame(spark, [(1,)], "a long").collect()
    assert rows == [(1,)] and ran == []


def _table(spark, path, n_convs=12):
    t = Table.create(spark, path, T.StructType.fromDDL(SCHEMA_DDL),
                     PartitionSpec.of(days("ts_day", "ts")))
    df = generate_transcripts(spark, n_convs=n_convs, hot_convs=1,
                              hot_turns=20, span_days=2)
    t.append(df, n_files=2)
    t.append(df.withColumn("turn_idx", F.col("turn_idx") + 1000), n_files=2)
    return t


def test_describe_outputs_run_no_job(spark, tmp_table_dir, jobs_run):
    t = _table(spark, tmp_table_dir)
    with jobs_run() as ran:
        hist = sql.history(t).collect()
        mans = sql.manifests(t).collect()
        refs = sql.refs_table(t).collect()
        stmt = sql.show_create_table(t, "d.t").collect()
    assert ran == []
    assert [r["version"] for r in hist] == [
        s.snapshot_id for s in reversed(t.snapshots)]
    assert hist[0]["timestamp"] == datetime.datetime.fromtimestamp(
        t.snapshots[-1].timestamp_ms / 1000.0, tz=datetime.timezone.utc
    ).replace(tzinfo=None)
    assert len(mans) >= 1 and refs[0]["name"] == "main"
    assert stmt[0]["createtab_stmt"].startswith("CREATE TABLE d.t")


def test_empty_plan_scan(spark, tmp_table_dir, jobs_run):
    """A scan whose plan keeps no file is a LocalRelation: collecting it
    runs no job. ``count()`` still runs one (Spark executes a global
    aggregate even over a local relation)."""
    t = _table(spark, tmp_table_dir)
    preds = [("turn_idx", "<", -1)]
    assert t.plan_scan(preds) == []
    with jobs_run() as ran:
        rows = t.scan(preds).collect()
    assert rows == [] and ran == []
    assert t.scan(preds).count() == 0


def test_expire_with_no_references(spark, tmp_table_dir, tmp_path):
    """A table with no snapshot references nothing: the broadcast keep side
    is empty and every listed stray is an orphan."""
    t = Table.create(spark, tmp_table_dir, T.StructType.fromDDL(SCHEMA_DDL))
    strays = []
    for i in range(2):
        p = str(tmp_path / f"stray-{i}.parquet")
        with open(p, "wb") as f:
            f.write(b"PAR1 stray")
        strays.append(p)
    listing = local_frame(spark, [(p, 10, 0.0) for p in strays],
                          "path string, length long, mtime_sec double")
    res = ExpireSnapshotsJob(t, keep_last=1, listing_df=listing).run()
    assert res.deleted_files == 2
    assert not any(os.path.exists(p) for p in strays)


def test_merge_into_empty_table(spark, tmp_table_dir):
    """No live file means no bounds rows: MERGE inserts the whole source."""
    t = Table.create(spark, tmp_table_dir, T.StructType.fromDDL(SCHEMA_DDL),
                     PartitionSpec.of(days("ts_day", "ts")))
    src = generate_transcripts(spark, n_convs=5, hot_convs=1, hot_turns=10,
                               span_days=1)
    MergeIntoJob(t).run(src)
    t.refresh()
    key = ["conv_id", "turn_idx"]
    assert sorted(t.scan().select(*key).collect()) == sorted(
        src.select(*key).collect())


def test_rewrite_deletes_with_no_live_data(spark, tmp_table_dir):
    """Delete files outliving every data file they cover: the live-path
    build side is empty, so every mark dangles and none is rewritten."""
    t = _table(spark, tmp_table_dir)
    DeleteJob(t, [("role", "=", "user")], mode="merge-on-read").run()
    t.refresh()
    dels = t.live_delete_files()
    assert dels
    t.live_data_files = lambda *a, **kw: []
    res = RewriteDeletesJob(t, min_input_files=1).run()
    assert (res.dv_files_in, res.rows_in) == (
        len(dels), sum(d.record_count for d in dels))
    assert (res.rows_out, res.dv_files_out) == (0, 0)
