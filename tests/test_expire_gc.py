"""Snapshot expiration + orphan GC: refcount safety, pinned-reader preservation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.partition import PartitionSpec, days
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.compaction import CompactionJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.expire import (
    ExpireSnapshotsJob, referenced_files,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.ledger import Ledger
from e2e_ocsf_cyber_lakehouse_blueprint_spark.sources.transcripts import (
    SCHEMA_DDL, generate_transcripts,
)


def schema():
    return T.StructType.fromDDL(SCHEMA_DDL)


@pytest.fixture()
def table_with_history(spark, tmp_table_dir):
    df = generate_transcripts(spark, n_convs=50, hot_convs=1, hot_turns=50, span_days=4)
    t = Table.create(
        spark, tmp_table_dir, schema(),
        PartitionSpec.of(days("ts_day", "ts")),
        properties={"write.target-file-size-bytes": str(1024 * 1024)},
    )
    t.append(df, n_files=3)
    t.append(df, n_files=3)
    CompactionJob(t).run()  # replaces files -> old appends' files become expirable
    return t, df


def test_expire_reclaims_only_dead_files(spark, table_with_history):
    t, df = table_with_history
    assert len(t.snapshots) == 3
    live_before = {f.path for f in t.live_data_files()}
    rows_before = t.scan().count()
    res = ExpireSnapshotsJob(t, keep_last=1).run()
    assert res.expired_snapshot_ids  # something expired
    assert res.deleted_files > 0
    # live files untouched, scan identical
    assert {f.path for f in t.live_data_files()} == live_before
    assert t.scan().count() == rows_before
    for p in live_before:
        assert os.path.exists(p)


def test_expire_never_deletes_retained_refs(spark, table_with_history):
    t, _ = table_with_history
    ExpireSnapshotsJob(t, keep_last=2).run()
    # every retained snapshot still fully scannable
    for s in t.snapshots:
        if s.operation == "expire":
            continue
        n = t.scan(snapshot_id=s.snapshot_id).count()
        assert n > 0


def test_gc_protects_inflight_ledger_outputs(spark, table_with_history, tmp_path):
    t, _ = table_with_history
    # simulate a crashed job: stage a file + ledger record, no job-done marker
    staged_dir = os.path.join(t.location, "data", "crashed-job")
    os.makedirs(staged_dir)
    staged = os.path.join(staged_dir, "part-0.parquet")
    t.scan().limit(5).coalesce(1).write.mode("overwrite").parquet(staged_dir + "-tmp")
    src = next(
        os.path.join(staged_dir + "-tmp", f)
        for f in os.listdir(staged_dir + "-tmp") if f.endswith(".parquet")
    )
    os.rename(src, staged)
    led = Ledger(t.location, "compact-999", "compact")
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.manifest import DataFile

    led.record_partition(
        {"ts_day": "2025-01-01"}, ["/nonexistent-input"],
        [DataFile(staged, {"ts_day": "2025-01-01"}, 5, os.path.getsize(staged))],
        rows=5, bytes_written=1,
    )
    ExpireSnapshotsJob(t, keep_last=1).run()
    assert os.path.exists(staged)  # in-flight output survived GC


def test_gc_removes_true_orphans(spark, table_with_history):
    t, _ = table_with_history
    orphan = os.path.join(t.location, "data", "orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"PAR1 not really parquet")
    ExpireSnapshotsJob(t, keep_last=len(t.snapshots)).run()
    assert not os.path.exists(orphan)


def test_referenced_files_covers_all_snapshots(spark, table_with_history):
    t, _ = table_with_history
    refs = referenced_files(t)
    live = {f.path for f in t.live_data_files()}
    assert live <= refs
    assert len(refs) > len(live)  # history references replaced files too


def test_gc_listing_is_distributed_and_injectable(spark, table_with_history, monkeypatch):
    """The orphan anti-join runs over a listing DATAFRAME (object-store
    inventory analogue) — never a driver-side walk. Injecting the listing and
    poisoning the built-in lister proves no driver materialization path."""
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators import expire as ex

    t, _ = table_with_history
    orphan = os.path.join(t.location, "data", "injected-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"PAR1 fake")
    live = {f.path for f in t.live_data_files()}
    listing = spark.createDataFrame(
        [(p, 10, 0.0) for p in sorted(live | {orphan})],
        "path string, length long, mtime_sec double",
    )
    monkeypatch.setattr(ex, "disk_listing", lambda *_: (_ for _ in ()).throw(
        AssertionError("driver-side lister must not be called")))
    res = ex.ExpireSnapshotsJob(
        t, keep_last=len(t.snapshots), listing_df=listing
    ).run()
    assert not os.path.exists(orphan)
    assert res.deleted_files == 1
    for p in live:
        assert os.path.exists(p)


def test_gc_keeps_files_committed_while_listing(spark, table_with_history,
                                                monkeypatch):
    """An append that commits after the metadata GC refreshed the table but
    before the data listing is taken keeps its files."""
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators import expire as ex

    t, df = table_with_history
    writer = Table.load(spark, t.location)
    real = ex.disk_listing

    def listing_after_append(table):
        writer.append(df, n_files=1)
        return real(table)

    monkeypatch.setattr(ex, "disk_listing", listing_after_append)
    ex.ExpireSnapshotsJob(t, keep_last=len(t.snapshots) + 1).run()
    t.refresh()
    live = [f.path for f in t.live_data_files()]
    assert all(os.path.exists(p) for p in live)
    assert t.scan().count() == 3 * df.count()


def test_expire_older_than_keeps_recent_history(spark, table_with_history):
    """Age-based retention: snapshots committed at/after the cutoff survive
    even beyond keep_last; older ones expire down to the keep_last floor."""
    t, _ = table_with_history
    snaps = sorted(t.snapshots, key=lambda s: s.sequence_number)
    assert len(snaps) == 3
    # cutoff between snapshot 1 and 2: the two newest are "recent"
    cutoff = snaps[1].timestamp_ms
    expired, _ = t.expire_snapshots(keep_last=1, older_than_ms=cutoff)
    assert expired == [snaps[0].snapshot_id]
    ids = {s.snapshot_id for s in t.snapshots}
    assert snaps[1].snapshot_id in ids and snaps[2].snapshot_id in ids


def test_expire_older_than_respects_keep_last_floor(spark, table_with_history):
    t, _ = table_with_history
    # cutoff in the far future: everything is "old", keep_last floors at 2
    future = max(s.timestamp_ms for s in t.snapshots) + 10_000_000
    t.expire_snapshots(keep_last=2, older_than_ms=future)
    ops = [s.operation for s in sorted(t.snapshots,
                                       key=lambda s: s.sequence_number)]
    # 2 retained + the expire commit itself
    assert len(t.snapshots) == 3 and ops[-1] == "expire"


def test_ref_aging_retires_abandoned_refs(spark, table_with_history):
    t, _ = table_with_history
    snaps = sorted(t.snapshots, key=lambda s: s.sequence_number)
    t.create_tag("ephemeral", snaps[0].snapshot_id, max_ref_age_ms=1)
    t.create_tag("durable", snaps[0].snapshot_id)  # no retention: pins forever
    import time as _time
    _time.sleep(0.01)
    assert t.aged_out_refs() == ["ephemeral"]
    t.expire_snapshots(keep_last=1)
    assert "ephemeral" not in t.refs and "durable" in t.refs
    # the durable tag still pins the old snapshot
    assert snaps[0].snapshot_id in {s.snapshot_id for s in t.snapshots}


def test_branch_advance_renews_ref_age_clock(spark, table_with_history):
    t, df = table_with_history
    t.create_branch("dev", max_ref_age_ms=3_600_000)
    before = int(t.refs["dev"]["created_ms"])
    import time as _time
    _time.sleep(0.002)
    t.append_to_branch("dev", df.limit(5), n_files=1)
    after = int(t.refs["dev"]["created_ms"])
    assert after > before
    assert t.refs["dev"].get("max_ref_age_ms") == 3_600_000
    assert t.aged_out_refs() == []


def test_sql_expire_snapshots_and_retain_refs(spark, tmp_path):
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.catalog import Catalog
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.sql import run_sql

    df = generate_transcripts(spark, n_convs=20, hot_convs=1, hot_turns=20)
    c = Catalog(spark, str(tmp_path / "wh"))
    c.create_database("ops")
    t = c.create_table("ops.t", schema(), PartitionSpec.of(days("ts_day", "ts")))
    t.append(df, n_files=1)
    t.append(df, n_files=1)
    t.append(df, n_files=1)
    run_sql(c, "ALTER TABLE ops.t CREATE TAG rc RETAIN 0 DAYS")
    import time as _time
    _time.sleep(0.01)
    res = run_sql(c, "EXPIRE SNAPSHOTS ops.t OLDER THAN '2100-01-01 00:00:00' "
                     "KEEP LAST 1")
    t.refresh()
    assert res.expired_snapshot_ids
    assert "rc" not in t.refs
    assert t.scan().count() == 3 * df.count()
