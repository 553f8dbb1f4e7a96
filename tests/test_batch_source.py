"""The fixture loader's caches (``sources/batch.py``): ``load_table``
hands one session the same DataFrame for an unchanged file, and a file
rewritten in place (new size and mtime_ns) misses both the DataFrame
and the schema cache, so the new rows are read."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from kcl_akka_stream_spark.sources.batch import load_table


def test_load_table_reuses_dataframe_until_the_file_changes(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "nation.parquet")
    shutil.copyfile(os.path.join(sf_dir, "nation.parquet"), path)

    first = load_table(spark, d, "nation")
    assert load_table(spark, d, "nation") is first
    n_before = first.count()

    old = os.stat(path)
    table = pq.read_table(path)
    pq.write_table(table.slice(0, 5), path)
    new = os.stat(path)
    assert (new.st_size, new.st_mtime_ns) != (old.st_size, old.st_mtime_ns)

    second = load_table(spark, d, "nation")
    assert second is not first
    assert n_before > 5 and second.count() == 5
    rows = sorted(tuple(r) for r in second.collect())
    assert rows == sorted(tuple(r.values()) for r in table.slice(0, 5).to_pylist())
    assert load_table(spark, d, "nation") is second
