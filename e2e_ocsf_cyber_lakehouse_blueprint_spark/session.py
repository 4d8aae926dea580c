"""SparkSession factory tuned for the maintenance engine.

The reference relies on platform defaults (DLT-managed clusters,
`_resources/PIPELINE_OVERVIEW.md:319`); here we pin the configs that matter for
a multi-executor deployment: AQE (incl. skew-join splitting, used by the MERGE
path, SURVEY.md section 2.3), shuffle partitions sized to cores, Arrow enabled for
the pandas-UDF kernels, and UTC session time zone so timestamp semantics are
engine-independent (duckdb oracle comparisons).

Driver-held rows (metadata answers, DESCRIBE outputs, broadcast build sides
of manifest-sized lists) enter Spark only through :func:`local_frame`.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    parallelism: int | None = None,
    app_name: str = "transcript-maintenance-engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``parallelism`` maps to ``local[N]`` in the sandbox. On a real cluster,
    run via spark-submit and set ``SPARK_GRAFT_MASTER=submit`` (the submit
    driver `scripts/submit_maintenance.py` does): the builder then leaves
    ``spark.master`` alone so spark-submit's ``--master`` wins instead of
    being silently overridden back to local mode. Any other value of
    ``SPARK_GRAFT_MASTER`` is used verbatim as the master URL.
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master_env = os.environ.get("SPARK_GRAFT_MASTER")
    # Shuffle/spill local dirs: tmpfs is an explicit OPT-IN (the bench harness
    # sets SPARK_GRAFT_TMPFS=1). The sandbox's single virtio disk (~270 MB/s,
    # shared writeback) serializes shuffle I/O and would make core-count
    # scaling unmeasurable — but defaulting every Linux deployment to
    # /dev/shm would let large shuffle spill exhaust RAM-backed tmpfs, so the
    # library default stays the platform's spark.local.dir.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS_OVERRIDE")
    if (local_dir is None and os.environ.get("SPARK_GRAFT_TMPFS") == "1"
            and os.path.isdir("/dev/shm")):
        local_dir = "/dev/shm/spark-local"
    builder = SparkSession.builder.appName(app_name)
    if master_env != "submit":
        builder = builder.master(master_env or f"local[{cpus}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # INT96 (Spark's legacy default) suppresses parquet column statistics
        # for TIMESTAMP columns; INT64 micros keeps footer min/max — which the
        # footer-based stats harvest and parquet row-group pushdown both need
        # — and is 4 bytes/row smaller
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Manifest-driven scans pass EXPLICIT file lists; Spark still re-lists
        # every path on the driver (measured ~19 ms/file via the checksumming
        # LocalFileSystem = a 3-9 s SERIAL floor per maintenance job at a few
        # hundred files — the dominant Amdahl term in the scaling protocol).
        # Raw local FS (no .crc stats) + low parallel-discovery threshold
        # (listing fans out as a Spark job) cut it ~3x; on object stores the
        # equivalents are the S3A/ABFS bulk-listing switches.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        # v2 commit: tasks move their outputs themselves; v1's job-commit
        # renames every task directory FROM THE DRIVER, a per-file serial
        # cost at job end (another Amdahl term in the scaling protocol)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "16")
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", "64")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # SPARK_GRAFT_CONF="k=v;k2=v2" — the sandbox equivalent of
    # `spark-submit --conf`, so bench/scaling runs can pin executor-level
    # knobs (GC flags, off-heap memory) without code changes
    for pair in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine configs to an externally provided session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """DataFrame over driver-held tuples, as a ``LocalRelation``.

    ``createDataFrame(<python list>)`` pickles the rows into a parallelized
    RDD, so collecting even one row (or broadcasting a manifest-sized build
    side) runs a Spark job, and naive datetimes are read as *local* time
    (``time.mktime``). One Arrow table typed by the Spark schema becomes a
    ``LocalTableScan`` instead: no job to collect or broadcast it, and naive
    timestamps are UTC wall time, like the pinned session time zone.
    ``schema`` is a ``StructType`` or a DDL string; values must already have
    the column's Python type (no str() of numbers into string columns).
    """
    import pyarrow as pa

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
