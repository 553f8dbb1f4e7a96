"""Bucketed co-located join: pre-bucketing both sides of a recurring join
key eliminates the per-query shuffle entirely -- the storage-layout lever
for repeated 100 TB fact-fact joins (brief: 'co-locate joins via bucketing').
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from kcl_akka_stream_spark.plans.hygiene import count_exchanges


def test_bucketed_join_has_no_shuffle(spark):
    a_name = f"bkt_a_{uuid.uuid4().hex[:8]}"
    b_name = f"bkt_b_{uuid.uuid4().hex[:8]}"
    a = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    try:
        a.write.bucketBy(8, "k").sortBy("k").saveAsTable(a_name)
        b.write.bucketBy(8, "k").sortBy("k").saveAsTable(b_name)
        ta, tb = spark.table(a_name), spark.table(b_name)
        # keep it a SortMergeJoin so the shuffle (absence) is what's measured
        joined = ta.hint("merge").join(tb, on="k")
        assert count_exchanges(joined) == 0, "bucketed sides must not re-shuffle"
        assert joined.count() == 1000
        # same join without bucketing shuffles both sides
        plain = a.hint("merge").join(b, on="k")
        assert count_exchanges(plain) >= 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {a_name}")
        spark.sql(f"DROP TABLE IF EXISTS {b_name}")


def test_assert_cobucketed_detects_mismatch(spark, tmp_path):
    from kcl_akka_stream_spark.sources.bucketed import (
        assert_cobucketed,
        write_bucketed,
    )
    import pytest

    a_name = f"cb_a_{uuid.uuid4().hex[:8]}"
    b_name = f"cb_b_{uuid.uuid4().hex[:8]}"
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    try:
        write_bucketed(df, a_name, str(tmp_path / "a"), "k", n_buckets=8)
        write_bucketed(df, b_name, str(tmp_path / "b"), "k", n_buckets=4)
        with pytest.raises(ValueError, match="not co-bucketed"):
            assert_cobucketed(spark, a_name, b_name)
        write_bucketed(df, b_name, str(tmp_path / "b2"), "k", n_buckets=8)
        assert assert_cobucketed(spark, a_name, b_name) == 8
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {a_name}")
        spark.sql(f"DROP TABLE IF EXISTS {b_name}")


def test_write_bucketed_rejects_sql_unsafe_identifier(spark, tmp_path):
    from kcl_akka_stream_spark.sources.bucketed import write_bucketed
    import pytest

    df = spark.range(0, 10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="invalid table identifier"):
        write_bucketed(df, "bad-name; DROP TABLE x", str(tmp_path / "x"), "k")
