"""Tests of the benchmark's own code: its order statistics, its input
generation and its output checks. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import tempfile

import pytest

from perfbench import checks
from perfbench.summary import median, quartiles, tail_percentile


# ------------------------------------------------------------ statistics


def test_median_of_even_count_averages_the_two_middle_values():
    assert median([1.0, 2.0, 3.0, 10.0]) == 2.5
    assert median([4.0, 1.0]) == 2.5


def test_median_of_odd_count_is_the_middle_value():
    assert median([5.0, 1.0, 3.0]) == 3.0


def test_quartiles_match_statistics_quantiles():
    import statistics

    xs = [float(x) for x in (7, 1, 9, 3, 5, 2, 8)]
    assert quartiles(xs) == tuple(statistics.quantiles(xs, n=4))


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert tail_percentile([float(x) for x in range(50)]) is None
    assert tail_percentile([float(x) for x in range(100)]) == (90.0, 89.0)
    p, v = tail_percentile([float(x) for x in range(1000)])
    assert p == 99.0 and sum(1 for x in range(1000) if x > v) >= 10
    assert tail_percentile([1.0] * 500) is None  # nothing lies beyond


def test_loop_timings_are_reported_in_reference_units():
    import types

    from perfbench.run import end_to_end, raw_times
    from perfbench.workloads import Recorder

    rec = Recorder()
    rec.samples = {"plan": [0.02, 0.04], "lookup": [0.1, 0.3, 0.2]}
    rec.ops, rec.busy_s, rec.ref = 5, 0.66, [0.004, 0.006]
    wl = types.SimpleNamespace(headline=("plan",), stored_bytes_per_turn=lambda: 9.0)
    raw = raw_times(wl, rec)
    assert raw["ref"] == pytest.approx(0.005)
    m = end_to_end(wl, raw, setup_s=12.5)
    assert m["setup_s"] == (12.5, "s")
    assert m["op_mean_ref"] == (pytest.approx(6.0), "ref")       # 0.03 / 0.005
    assert m["busy_per_op_ref"] == (pytest.approx(26.4), "ref")  # 0.132 / 0.005


def test_reference_burst_times_one_task():
    from perfbench import reference

    assert reference.burst() > 0.0
    assert reference.task() == reference.task()


# ------------------------------------------------------- Spark-backed


@pytest.fixture(scope="module")
def spark():
    """The benchmark's own session, or the one another test module already
    started (which is then left running). ``start_spark`` points the
    environment and ``tempfile`` at the run's work directory; both are put
    back before the directory is removed, so that later tests in the same
    process do not reuse a deleted temp directory."""
    from pyspark.sql import SparkSession

    from perfbench.harness import Workdir, start_spark, stop_spark

    saved_env, saved_tempdir = dict(os.environ), tempfile.tempdir
    work = Workdir()
    session = SparkSession.getActiveSession()
    own = session is None
    try:
        if own:
            session, _ = start_spark(work)
        session.work = work
        yield session
    finally:
        try:
            if own and session is not None:
                stop_spark(session)
        finally:
            os.environ.clear()
            os.environ.update(saved_env)
            tempfile.tempdir = saved_tempdir
            work.close()


def _rows(spark, seed=1, n=40):
    from perfbench.workloads import transcripts

    return transcripts(spark, seed, 0, n)


def test_seed_changes_the_generated_inputs(spark):
    a = checks.digest(_rows(spark, seed=1))
    assert a == checks.digest(_rows(spark, seed=1))
    assert a != checks.digest(_rows(spark, seed=2))


def _same_rows(got, want):
    checks.same_digest(checks.digest(got), checks.digest(want), "rows")


def test_row_check_rejects_a_dropped_row(spark):
    want = _rows(spark)
    _same_rows(want, want)
    got = want.filter("NOT (conv_id = 'conv-0000000003' AND turn_idx = 1)")
    with pytest.raises(checks.CheckFailed):
        _same_rows(got, want)


def _alter_one_byte(df):
    from pyspark.sql import functions as F

    hit = (F.col("conv_id") == "conv-0000000005") & (F.col("turn_idx") == 0)
    return df.withColumn("text", F.when(
        hit, F.concat(F.lit("#"), F.expr("substring(text, 2)"))
    ).otherwise(F.col("text")))


def test_row_check_rejects_one_altered_text_byte(spark):
    want = _rows(spark)
    with pytest.raises(checks.CheckFailed):
        _same_rows(_alter_one_byte(want), want)


def test_text_check_rejects_one_altered_text_byte(spark):
    want = _rows(spark)
    checks.same_text(want, want)
    with pytest.raises(checks.CheckFailed):
        checks.same_text(_alter_one_byte(want), want)


def _small_table(spark, name):
    from pyspark.sql import types as T

    from e2e_ocsf_cyber_lakehouse_blueprint_spark.format.table import Table
    from e2e_ocsf_cyber_lakehouse_blueprint_spark.sources.transcripts import SCHEMA_DDL

    table = Table.create(spark, spark.work.sub(name), T.StructType.fromDDL(SCHEMA_DDL))
    table.append(_rows(spark), n_files=2)
    return table


def test_gc_check_rejects_an_orphan_file(spark):
    table = _small_table(spark, "gc")
    checks.no_orphans(table)
    live = table.live_data_files()[0].path
    orphan = os.path.join(os.path.dirname(checks.local_path(live)), "orphan.parquet")
    _rows(spark, n=3).toPandas().to_parquet(orphan)
    with pytest.raises(checks.CheckFailed):
        checks.no_orphans(table)


def test_gc_check_rejects_a_missing_referenced_file(spark):
    table = _small_table(spark, "gc-missing")
    os.remove(checks.local_path(table.live_data_files()[0].path))
    with pytest.raises(checks.CheckFailed):
        checks.no_orphans(table)


def test_plan_checks_reject_a_missed_file_and_a_wrong_aggregate(spark):
    from pyspark.sql import functions as F

    table = _small_table(spark, "plan")
    files = table.live_data_files()
    census = checks.file_census(spark, [f.path for f in files], ["conv-0000000002"])
    holding = {p for p, c in census.items() if "conv-0000000002" in c.keys}
    assert holding
    checks.covers(files, holding, "conv_id")
    kept = [f for f in files if checks.local_path(f.path) not in holding]
    with pytest.raises(checks.CheckFailed):
        checks.covers(kept, holding, "conv_id")

    want = tuple(_rows(spark).agg(F.count(F.lit(1)), F.min("ts"), F.max("ts"))
                 .collect()[0])
    checks.same_aggregates(want, census)
    with pytest.raises(checks.CheckFailed):
        checks.same_aggregates((want[0] - 1, want[1], want[2]), census)
