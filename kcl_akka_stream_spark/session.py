"""SparkSession factory.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in a single JVM, but every
config below is chosen for the 1000-executor / 100 TB posture:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy);
- shuffle partitions sized to cores locally -- on a real cluster this would be
  2-3x total executor cores, and AQE coalesces down;
- Arrow enabled so the few Pandas-UDF operators batch-transfer;
- UTC session timezone so results hash-match the DuckDB oracle;
- Python workers forked from ``kcl_akka_stream_spark.worker_daemon``
  (``spark.python.daemon.module``): ``pyspark.daemon`` with zip archives'
  directories re-read only when the archive changed.  It patches CPython
  3.12 and earlier, where every task's ``importlib.invalidate_caches()``
  re-read all of ``pyspark.zip``'s directory once per importer; on 3.13
  and later it is plain ``pyspark.daemon``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def get_session(app_name: str = "kcl_akka_stream_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the SparkSession with scale-aware defaults."""
    cpus = _cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "kcl_akka_stream_spark.worker_daemon")
        # Arrow batch size for the Python data plane (Pandas UDFs and the
        # Python DataSource): measured sweep at 2M rows through the
        # envelope_sim streaming source + watermarked window (VERDICT r8
        # #8, SCALE_PROBE.md at `f2504d4`): 2k = 64k rows/s,
        # 10k = 91k, 25k = 92k, 50k = 88k, 100k = 95-97k.  The curve
        # plateaus past 10k; 100k wins the head-to-head re-run and
        # minimizes per-batch IPC/flush overhead, while 64-dim float
        # embedding rows at 100k/batch stay ~25 MB per Arrow batch --
        # within worker memory at any realistic row width here.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # keep metastore/warehouse droppings out of the repo (bucketed-table
        # support for co-located joins)
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"))
        .config("spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/spark_graft_derby")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
