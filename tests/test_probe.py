"""``tools/probe.py``'s N-times fixture writer: every table lands as one
``<table>.parquet`` file with the 1x schema, replicas stay distinct
(distinct texts are exactly N times the 1x count, which a perturbation
that repeats every 5 replicas fails), ``n_chars`` stays true, and ids
never collide across replicas."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kcl_akka_stream_spark.sources.batch import TABLE_NAMES, load_table
from tools.probe import write_scaled

N = 10


@pytest.fixture(scope="module")
def scaled_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("x10"))
    write_scaled(spark, sf_dir, d, N)
    return d


def test_every_table_is_one_file_with_the_1x_schema(spark, sf_dir, scaled_dir):
    assert sorted(os.listdir(scaled_dir)) == sorted(f"{t}.parquet" for t in TABLE_NAMES)
    for name in TABLE_NAMES:
        assert os.path.isfile(os.path.join(scaled_dir, f"{name}.parquet"))
        one = load_table(spark, sf_dir, name)
        big = load_table(spark, scaled_dir, name)
        assert big.dtypes == one.dtypes, name
        factor = N if name in ("documents", "embeddings", "events") else 1
        assert big.count() == factor * one.count(), name


def test_replicated_documents_are_distinct_and_keep_n_chars(spark, sf_dir, scaled_dir):
    one = load_table(spark, sf_dir, "documents")
    big = load_table(spark, scaled_dir, "documents")
    n_text = one.select("text").distinct().count()
    assert n_text > 0
    assert big.select("text").distinct().count() == N * n_text
    assert big.filter(~F.length("text").eqNullSafe(F.col("n_chars"))).count() == 0


def test_replicated_ids_are_unique_and_users_disjoint(spark, sf_dir, scaled_dir):
    for name, key in (("documents", "doc_id"), ("embeddings", "vec_id"), ("events", "event_id")):
        big = load_table(spark, scaled_dir, name)
        assert big.select(key).distinct().count() == big.count(), name
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    big_users = load_table(spark, scaled_dir, "events").select("user_id").distinct().count()
    assert big_users == N * n_users
