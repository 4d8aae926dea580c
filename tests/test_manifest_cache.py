"""The process-wide cache of decoded manifests and manifest lists: hits skip
the Avro decode, a changed or removed file is seen, the budget holds, and no
caller can mutate what a later read returns."""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e2e_ocsf_cyber_lakehouse_blueprint_spark.format import avro
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format import manifest as mf
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.partition import (
    PartitionSpec, days,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.compaction import CompactionJob
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.expire import (
    ExpireSnapshotsJob,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.sources.transcripts import (
    SCHEMA_DDL, generate_transcripts,
)


@pytest.fixture()
def cache(monkeypatch):
    c = mf._DecodeCache()
    monkeypatch.setattr(mf, "_decoded", c)
    return c


@pytest.fixture()
def decodes(monkeypatch):
    """Paths passed to ``avro.read_ocf``, in call order."""
    calls: list[str] = []
    real = avro.read_ocf

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(avro, "read_ocf", counting)
    return calls


def _file(i: int) -> mf.DataFile:
    return mf.DataFile(
        path=f"/data/part-{i}.parquet",
        partition={"ts_day": f"2025-01-{1 + i % 28:02d}"},
        record_count=10 + i, file_size_bytes=1000 + i,
        lower_bounds={"conv_id": mf.encode_bound(f"c{i:04d}")},
        upper_bounds={"conv_id": mf.encode_bound(f"c{i + 1:04d}")},
        null_counts={"conv_id": 0},
        blooms={"bloom(conv_id)": "00ff"},
    )


def _write(tmp_path, name: str, n: int) -> tuple[str, str]:
    """A manifest of ``n`` files and a manifest list naming it."""
    mpath = str(tmp_path / f"manifest-{name}.avro")
    rec = mf.write_manifest(mpath, [_file(i) for i in range(n)], 1,
                            sequence_number=1)
    lpath = str(tmp_path / f"snap-{name}.avro")
    mf.write_manifest_list(lpath, [rec])
    return mpath, lpath


def test_second_read_skips_decode(tmp_path, cache, decodes):
    mpath, lpath = _write(tmp_path, "a", 5)
    first = (mf.read_manifest(mpath), mf.read_manifest_list(lpath))
    assert decodes == [mpath, lpath]
    second = (mf.read_manifest(mpath), mf.read_manifest_list(lpath))
    assert decodes == [mpath, lpath]
    assert second == first
    assert [f.path for f in mf.live_files([mpath])] == [
        _file(i).path for i in range(5)]
    assert decodes == [mpath, lpath]


def test_rewritten_file_is_decoded_again(tmp_path, cache, decodes):
    mpath, _ = _write(tmp_path, "a", 3)
    assert len(mf.read_manifest(mpath)) == 3
    # different bytes at the same path: a new size, so a new key
    mf.write_manifest(mpath, [_file(i) for i in range(7)], 2)
    assert len(mf.read_manifest(mpath)) == 7
    assert decodes == [mpath, mpath]
    # same size, new mtime: decoded again too
    st = os.stat(mpath)
    os.utime(mpath, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert len(mf.read_manifest(mpath)) == 7
    assert decodes == [mpath, mpath, mpath]
    assert len(cache._items) == 1


def test_removed_file_raises_as_uncached(tmp_path, cache):
    mpath, _ = _write(tmp_path, "a", 2)
    mf.read_manifest(mpath)
    os.remove(mpath)
    with pytest.raises(FileNotFoundError) as cached:
        mf.read_manifest(mpath)
    with pytest.raises(FileNotFoundError) as uncached:
        avro.read_ocf(mpath)
    assert str(cached.value) == str(uncached.value)


def test_mutating_a_read_does_not_change_the_next(tmp_path, cache):
    mpath, lpath = _write(tmp_path, "a", 4)
    want_entries = mf.read_manifest(mpath)
    want_list = mf.read_manifest_list(lpath)
    want_files = mf.live_files([mpath])

    f = mf.live_files([mpath])[0]
    f.lower_bounds["conv_id"] = mf.encode_bound("zzz")
    f.partition["ts_day"] = "1999-01-01"
    f.blooms["bloom(conv_id)"] = "ffff"
    f.covered_paths.append("/elsewhere")
    f.data_sequence = 0
    e = mf.read_manifest(mpath)[1]
    e["status"] = mf.STATUS_DELETED
    e["upper_bounds"]["conv_id"] = mf.encode_bound("")
    e["null_counts"]["conv_id"] = 99
    rec = mf.read_manifest_list(lpath)[0]
    rec["partition_summaries"].clear()
    rec["path"] = "/elsewhere"

    assert mf.read_manifest(mpath) == want_entries
    assert mf.read_manifest_list(lpath) == want_list
    assert mf.live_files([mpath]) == want_files


def test_budget_evicts_and_holds(tmp_path, cache, decodes, monkeypatch):
    paths = [_write(tmp_path, str(i), 4)[0] for i in range(6)]
    size = os.path.getsize(paths[0])
    monkeypatch.setattr(mf, "CACHE_BUDGET_BYTES", 2 * size + size // 2)
    for p in paths:
        mf.read_manifest(p)
        assert cache.nbytes <= mf.CACHE_BUDGET_BYTES
    assert list(cache._items) == paths[-2:]
    assert cache.nbytes == sum(os.path.getsize(p) for p in paths[-2:])
    del decodes[:]
    mf.read_manifest(paths[-1])          # still held
    mf.read_manifest(paths[0])           # evicted: decoded again
    assert decodes == [paths[0]]
    assert list(cache._items) == [paths[-1], paths[0]]
    # a file bigger than the whole budget is decoded on every read
    big = _write(tmp_path, "big", 40)[0]
    assert os.path.getsize(big) > mf.CACHE_BUDGET_BYTES
    before = dict(cache._items)
    mf.read_manifest(big)
    mf.read_manifest(big)
    assert decodes[-2:] == [big, big]
    assert dict(cache._items) == before


# ------------------------------------------------------------- on a table


def _table(spark, loc, n_files=2):
    df = generate_transcripts(spark, n_convs=20, span_days=3)
    t = Table.create(spark, loc, T.StructType.fromDDL(SCHEMA_DDL),
                     PartitionSpec.of(days("ts_day", "ts")))
    t.append(df, n_files=n_files)
    return t, df


def test_scan_of_gc_removed_snapshot_fails_as_uncached(spark, tmp_table_dir,
                                                        cache):
    t, df = _table(spark, tmp_table_dir)
    t.append(df, n_files=2)
    old_sid = t.current_snapshot().snapshot_id
    pinned = Table.load(spark, tmp_table_dir)      # a reader left behind
    n = pinned.scan(snapshot_id=old_sid).count()   # its manifests now cached
    assert n == 2 * df.count()
    old = pinned.meta.snapshot_by_id(old_sid)
    old_manifests = [r["path"] for r in mf.read_manifest_list(old.manifest_list)]

    CompactionJob(t).run()
    ExpireSnapshotsJob(t, keep_last=1).run()
    gone = [p for p in [old.manifest_list] + old_manifests if not os.path.exists(p)]
    assert gone and gone[0] == old.manifest_list

    with pytest.raises(FileNotFoundError) as cached:
        pinned.scan(snapshot_id=old_sid)
    with pytest.raises(FileNotFoundError) as uncached:
        avro.read_ocf(old.manifest_list)
    assert str(cached.value) == str(uncached.value)


def test_wap_publish_restamp_does_not_reach_staged_manifest(
        spark, tmp_table_dir, cache):
    t, df = _table(spark, tmp_table_dir, n_files=1)
    extra = df.withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("-wap")))
    staged = t.stage_append(extra, n_files=1)
    staged_files = {f.path: f for f in t.live_data_files(staged.snapshot_id)}
    new_paths = set(staged_files) - {
        f.path for f in t.live_data_files(staged.parent_snapshot_id)}
    assert new_paths
    for p in new_paths:
        assert staged_files[p].data_sequence == staged.sequence_number

    pub = t.publish_snapshot(staged.snapshot_id)
    assert {f.path: f for f in t.live_data_files(staged.snapshot_id)} == staged_files
    seq_now = {f.path: f.data_sequence for f in t.live_data_files()}
    for p in new_paths:
        assert seq_now[p] == pub.sequence_number > staged.sequence_number
    assert t.scan(snapshot_id=staged.snapshot_id).count() == 2 * df.count()


@pytest.fixture()
def fast_switching():
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        yield
    finally:
        sys.setswitchinterval(old)


def test_threads_share_cache_under_eviction(tmp_path, cache, monkeypatch,
                                            fast_switching):
    paths = [_write(tmp_path, str(i), 3 + i)[0] for i in range(8)]
    monkeypatch.setattr(mf, "CACHE_BUDGET_BYTES",
                        3 * max(os.path.getsize(p) for p in paths))
    want = {p: mf.read_manifest(p) for p in paths}

    def reader(k):
        for j in range(200):
            p = paths[(k * 7 + j * 3) % len(paths)]
            if mf.read_manifest(p) != want[p]:
                return False
        return True

    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [pool.submit(reader, k) for k in range(8)]
        assert all(f.result(timeout=120) for f in futures)
    assert cache.nbytes == sum(k[0] for k, _, _ in cache._items.values())
    assert cache.nbytes <= mf.CACHE_BUDGET_BYTES


def test_threads_plan_alike(spark, tmp_table_dir, monkeypatch, fast_switching):
    t, df = _table(spark, tmp_table_dir, n_files=3)
    t.append(df, n_files=3)
    preds = [None, [("conv_id", "=", "conv-0000000003")],
             [("ts", ">=", "2025-01-02 00:00:00")]]
    want = [sorted(f.path for f in t.plan_scan(p)) for p in preds]
    cache = mf._DecodeCache()     # cold, so the threads race on the misses
    monkeypatch.setattr(mf, "_decoded", cache)

    def plan(i):
        return sorted(f.path for f in t.plan_scan(preds[i % len(preds)]))

    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [pool.submit(plan, i) for i in range(48)]
        got = [f.result(timeout=300) for f in futures]
    assert got == [want[i % len(preds)] for i in range(48)]
    assert cache.nbytes == sum(k[0] for k, _, _ in cache._items.values())


def test_bounds_decoded_once(spark, tmp_table_dir, monkeypatch):
    """A second plan compares the same bound strings: ``decode_bound`` hands
    back the values it decoded for the first, and prunes alike."""
    t, _ = _table(spark, tmp_table_dir, n_files=3)
    preds = [("conv_id", "=", "conv-0000000003"),
             ("ts", ">=", "2025-01-02 00:00:00"), ("turn_idx", "<", 4)]
    mf.decode_bound.cache_clear()
    loads: list[str] = []
    real = mf.json.loads

    def counting(s, *a, **kw):
        loads.append(s)
        return real(s, *a, **kw)

    monkeypatch.setattr(mf.json, "loads", counting)
    bounds = {b for f in t.live_data_files()
              for side in (f.lower_bounds, f.upper_bounds)
              for b in side.values()}
    first = [f.path for f in t.plan_scan(preds)]
    assert bounds.intersection(loads), "the first plan decodes bounds"
    del loads[:]
    second = [f.path for f in t.plan_scan(preds)]
    assert not bounds.intersection(loads)
    assert first == second
    assert mf.decode_bound.cache_info().hits > 0
