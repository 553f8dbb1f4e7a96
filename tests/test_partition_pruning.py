"""Partition pruning: a date-partitioned layout plus a date predicate must
prune at planning time -- the scan touches one partition directory, not the
table.  At 100 TB this is the difference between reading 100 TB and one
day's slice."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from kcl_akka_stream_spark.plans.hygiene import physical_plan


def test_date_partitioned_scan_prunes(spark, sf_dir):
    from kcl_akka_stream_spark.sources.batch import load_table

    out = tempfile.mkdtemp(prefix="kcl_part_")
    try:
        ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
        ev.write.mode("overwrite").partitionBy("day").parquet(out)
        part = spark.read.parquet(out)
        days = [r.day for r in part.select("day").distinct().orderBy("day").limit(2).collect()]
        one_day = part.filter(F.col("day") == days[0])
        plan = physical_plan(one_day)
        # the date predicate must appear as a partition filter on the scan...
        assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters", 1)[1][:200]
        # ...and row counts agree with the unpartitioned source
        assert part.select("day").distinct().count() > 1
        expected = ev.filter(F.to_date("ts") == days[0]).count()
        assert one_day.count() == expected > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)
