from __future__ import annotations

import contextlib
import os
import sys
import time
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from e2e_ocsf_cyber_lakehouse_blueprint_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(parallelism=8, app_name="engine-tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return str(tmp_path / "tbl")


@contextlib.contextmanager
def _jobs_run(spark):
    """Yield a list that holds, once the block exits, the ids of the Spark
    jobs the block started. Jobs are found by a fresh job group, not by the
    size of the status store, which keeps only ``spark.ui.retainedJobs``."""
    sc = spark.sparkContext
    group = f"job-probe-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    ran: list[int] = []
    try:
        yield ran
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ran.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def jobs_run(spark):
    return lambda: _jobs_run(spark)


@contextlib.contextmanager
def _host_tz(tz: str):
    old = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


@pytest.fixture()
def host_tz():
    """Context manager that sets the driver's local time zone (``TZ``) and
    restores it on exit; the Spark session time zone stays UTC."""
    return _host_tz
