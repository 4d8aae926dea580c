"""Clustering: curve kernel unit tests + job scan-equivalence + data-skipping gains."""

from __future__ import annotations

import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.partition import (
    PartitionSpec, bucket, days,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table
from e2e_ocsf_cyber_lakehouse_blueprint_spark.functions.zorder import hilbert3
from e2e_ocsf_cyber_lakehouse_blueprint_spark.operators.clustering import (
    ClusteringJob, dimension_ranges,
)
from e2e_ocsf_cyber_lakehouse_blueprint_spark.sources.transcripts import (
    SCHEMA_DDL, generate_transcripts,
)

from curve_oracle import interleave3


# ------------------------------------------------------------ kernel units

def test_interleave3_known_vectors():
    a = np.array([0b1, 0b0, 0b11], dtype=np.uint64)
    b = np.array([0b0, 0b1, 0b01], dtype=np.uint64)
    c = np.array([0b0, 0b0, 0b10], dtype=np.uint64)
    out = interleave3(a, b, c)
    # bit layout per level i: a->3i+2, b->3i+1, c->3i
    assert out[0] == 0b100
    assert out[1] == 0b010
    assert out[2] == (0b100 | 0b010) | ((0b100 | 0b000 | 0b001) << 3)


def test_interleave3_monotone_per_axis():
    n = 1000
    a = np.arange(n, dtype=np.uint64)
    z = np.zeros(n, dtype=np.uint64)
    for dims in [(a, z, z), (z, a, z), (z, z, a)]:
        out = interleave3(*dims)
        assert np.all(np.diff(out.astype(np.int64)) > 0)


def test_hilbert3_bijective_on_full_grid():
    # all 8^2 = 64 points of the 2-bit 3D grid must map to distinct indices 0..63
    pts = np.array([(x, y, zz) for x in range(4) for y in range(4) for zz in range(4)],
                   dtype=np.uint64)
    idx = hilbert3(pts[:, 0], pts[:, 1], pts[:, 2], bits=2)
    assert sorted(idx.tolist()) == list(range(64))


def test_hilbert3_unit_steps_are_neighbors():
    # walking the curve in index order moves exactly one axis by 1 (locality)
    bits = 2
    pts = np.array([(x, y, zz) for x in range(4) for y in range(4) for zz in range(4)],
                   dtype=np.uint64)
    idx = hilbert3(pts[:, 0], pts[:, 1], pts[:, 2], bits=bits)
    order = np.argsort(idx)
    walk = pts[order]
    manhattan = np.abs(np.diff(walk.astype(np.int64), axis=0)).sum(axis=1)
    assert np.all(manhattan == 1)


# ------------------------------------------------------------- job e2e

def schema():
    return T.StructType.fromDDL(SCHEMA_DDL)


@pytest.fixture()
def scattered_table(spark, tmp_table_dir):
    """Rows shuffled across files: no natural clustering at all."""
    df = generate_transcripts(spark, n_convs=300, hot_convs=2, hot_turns=300, span_days=20)
    t = Table.create(
        spark, tmp_table_dir, schema(),
        PartitionSpec.unpartitioned(),
        properties={"write.target-file-size-bytes": str(64 * 1024)},
    )
    # repartition by random-ish hash of text => every file spans all convs/timestamps
    t.append(df.repartition(12, "text"))
    return t, df


def sorted_rows(df):
    return [tuple(r) for r in df.orderBy("conv_id", "turn_idx", "ts").collect()]


@pytest.mark.parametrize("curve", ["zorder", "hilbert"])
def test_clustering_scan_equivalence(spark, scattered_table, curve):
    t, src = scattered_table
    before = sorted_rows(t.scan())
    res = ClusteringJob(t, curve=curve, max_concurrency=4).run()
    assert res.files_in > 0
    after = sorted_rows(t.scan())
    assert after == before


def test_clustering_improves_skipping_on_both_dimensions(spark, scattered_table):
    t, src = scattered_table
    conv = src.select("conv_id").distinct().orderBy("conv_id").collect()[5][0]
    lo, hi = src.agg(F.min("ts"), F.max("ts")).first()
    ts_pred = [("ts", ">=", lo + (hi - lo) * 9 // 10)]
    conv_pred = [("conv_id", "=", conv)]

    files_before = len(t.live_data_files())
    pruned_conv_before = len(t.plan_scan(conv_pred))
    pruned_ts_before = len(t.plan_scan(ts_pred))
    # scattered: nothing prunes
    assert pruned_conv_before == files_before
    assert pruned_ts_before == files_before

    ClusteringJob(t, curve="zorder").run()
    files_after = len(t.live_data_files())
    pruned_conv = len(t.plan_scan(conv_pred))
    pruned_ts = len(t.plan_scan(ts_pred))
    assert files_after > 1
    assert pruned_conv < files_after  # conv point lookup skips files
    assert pruned_ts < files_after    # ts range skips files too
    # and results stay correct under pruning
    got = t.scan(conv_pred).count()
    want = src.filter(F.col("conv_id") == conv).count()
    assert got == want


def test_clustering_resume_and_ledger(spark, scattered_table):
    t, _ = scattered_table
    res1 = ClusteringJob(t, curve="hilbert").run()
    assert res1.files_out >= 1
    # incremental (liquid) semantics: every live file already carries the
    # hilbert spec, so a second run is a metadata-only no-op
    res2 = ClusteringJob(t, curve="hilbert").run()
    assert res2.files_in == 0
    assert res2.files_skipped_clustered == res1.files_out
    assert res2.snapshot_id == res1.snapshot_id
    # a different curve is a different spec: full rewrite again
    res3 = ClusteringJob(t, curve="zorder").run()
    assert res3.files_in == res1.files_out
    # incremental=False forces the re-sort even under the same spec
    res4 = ClusteringJob(t, curve="zorder", incremental=False).run()
    assert res4.files_in > 0


def test_clustering_incremental_rewrites_only_new_files(spark, scattered_table):
    """After an append, re-clustering touches only the new bytes (the
    write-amplification property that matters at 10^12 turns)."""
    t, src = scattered_table
    res1 = ClusteringJob(t, curve="zorder").run()
    assert res1.files_out >= 1
    extra = src.limit(50)
    t.append(extra.repartition(2))
    res2 = ClusteringJob(t, curve="zorder").run()
    # only the two appended files rewrite; prior outputs stay in place
    assert res2.files_skipped_clustered == res1.files_out
    assert 0 < res2.files_in <= 2
    # scan equivalence still holds over the mixed clustered/incremental layout
    want = sorted_rows(src.unionByName(extra))
    assert sorted_rows(t.scan()) == want


def test_clustering_on_days_bucket_table(spark, tmp_table_dir):
    """Partitioned (days + bucket) table: scan equivalence after clustering,
    and pruning a single day skips the other days' files."""
    src = generate_transcripts(spark, n_convs=200, hot_convs=2, hot_turns=200,
                               span_days=6)
    t = Table.create(
        spark, tmp_table_dir, schema(),
        PartitionSpec.of(days("ts_day", "ts"), bucket("conv_bucket", "conv_id", 2)),
        properties={"write.target-file-size-bytes": str(64 * 1024)},
    )
    t.append(src.repartition(6, "text"))
    before = sorted_rows(t.scan())
    res = ClusteringJob(t, curve="zorder").run()
    assert res.files_out >= 1
    assert sorted_rows(t.scan()) == before
    live = t.live_data_files()
    day = sorted({f.partition["ts_day"] for f in live})[0]
    start = datetime.datetime.fromisoformat(day)
    kept = t.plan_scan([("ts", ">=", start),
                        ("ts", "<", start + datetime.timedelta(days=1))])
    assert 0 < len(kept) < len(live)
    assert {f.partition["ts_day"] for f in kept} == {day}


def test_dimension_ranges_from_manifests(spark, scattered_table):
    t, src = scattered_table
    (t_lo, t_hi), (ts_lo, ts_hi) = dimension_ranges(t.live_data_files())
    want_t_hi = src.agg(F.max("turn_idx")).first()[0]
    assert t_lo == 0.0 and t_hi == float(want_t_hi)
    assert ts_hi > ts_lo > 1e15  # epoch-us magnitude sanity


def test_zorder_expr_matches_numpy_kernel(spark):
    """The Catalyst-expression Morton key must be bit-identical to the numpy kernel."""
    from pyspark.sql import functions as F
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.functions.zorder import (
        zorder_key_expr, BITS_PER_DIM,
    )
    import numpy as np
    import random

    rnd = random.Random(9)
    rows = [(rnd.randrange(1 << BITS_PER_DIM), rnd.randrange(1 << BITS_PER_DIM),
             rnd.randrange(1 << BITS_PER_DIM)) for _ in range(500)]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    got = [r[0] for r in df.select(
        zorder_key_expr(F.col("a"), F.col("b"), F.col("c"))).collect()]
    arr = np.array(rows, dtype=np.uint64)
    want = interleave3(arr[:, 0], arr[:, 1], arr[:, 2]).astype(np.int64).tolist()
    assert got == want
