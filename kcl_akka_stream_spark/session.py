"""SparkSession factory.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in a single JVM, but every
config below is chosen for the 1000-executor / 100 TB posture:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy);
- batch exchanges start at ``spark.sql.adaptive.coalescePartitions.
  initialPartitionNum`` = cores locally (on a real cluster 2-3x total
  executor cores) and AQE coalesces down; stateful streaming queries get
  ``STATE_PARTITIONS`` state partitions instead (see there);
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

#: ``spark.sql.shuffle.partitions``.  Streaming runs without AQE, so only
#: stateful streaming queries read it, as their count of state partitions;
#: batch exchanges read ``initialPartitionNum`` instead.  Spark writes it into
#: a checkpoint's offset log at first start and restores it on every resume,
#: so it sizes new checkpoints only, and for good.  Each state partition costs
#: every trigger a Python round trip and a state-store commit whatever it
#: holds, so one partition wins while a trigger carries few state groups:
#: ``stream_ingest`` (8 shards, local[4]) 4 partitions -> 1 cut ``pass_cpu_s``
#: from 3.67 to 2.58 s.  The checkpoint tracker keeps that true for any shard
#: count (at most ``tracker.SHARD_BUCKETS`` groups per trigger):
#: ``stream_checkpoint_frontier`` at sf0.1 (1,500 shards) 3.71 -> 2.04 s.
#: Native state keeps one group per key, and a trigger with many keys runs
#: them all in one task.  31 other streaming registry queries use it
#: (sf0.1, local[4]).  Of the 16 windows, joins and dedup, 4 took 13-30%
#: longer on one partition (session windows and dedup, 100k events in one
#: trigger) and 6 took 8-19% less.  The 15 built-in-aggregate twins
#: (``streaming_q._aggregate_epochs``: bins, registers, words, one row per
#: user at most) take 1.26-2.80 s, medians of 3 alternations, against
#: 1.16-3.01 s when each trigger folded its own state; 12 of the 15 ranges
#: overlap.  A deployment with heavy native per-trigger state raises the
#: setting before the query's first start.
STATE_PARTITIONS = 1


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else the smaller of 48g and half the
    host's physical memory (a 48g heap on a small host lets two sessions
    run the machine out of memory).  ``SC_PHYS_PAGES`` is the host's RAM,
    not a container's cgroup limit: inside a smaller container, set
    ``SPARK_GRAFT_DRIVER_MEM``."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, phys_mb // 2)}m"


def get_session(app_name: str = "kcl_akka_stream_spark") -> SparkSession:
    """Build (or reuse) the SparkSession with scale-aware defaults."""
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(cpus))
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
        .config("spark.driver.memory", _driver_memory())
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
