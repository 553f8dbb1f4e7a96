"""Batch sources: the driver's parquet fixture tables.

Parquet via ``spark.read.parquet`` is the only file format the engine needs
(the reference has none -- payloads are opaque, state lives in DynamoDB via
KCL; SURVEY §2.1 file-format note).  Reads are declarative so Catalyst gets
predicate pushdown + column pruning into the scan for free.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Optimization r15 (guide §1/§5 -- driver-side work in the timed path):
#: ``spark.read.parquet(path)`` runs schema INFERENCE on every call -- a
#: driver-coordinated footer-read job costing ~50-150 ms idle -- and every
#: query pays it 1-4x inside bench.py's timed region (297 queries x
#: warmup+3 runs).  The schema of a fixture file cannot change while the
#: file is unchanged, so cache the inferred StructType keyed by the
#: file's identity (absolute path, mtime_ns, size) and hand it to
#: ``spark.read.schema(...)``, which skips the inference job entirely.
#: This caches METADATA only -- never rows, plans, or results: every
#: action still scans the parquet fully.  Regenerated testdata changes
#: mtime/size and misses the cache, so a stale schema can never be
#: applied.  The cache is per-process (one bench/gate invocation); a
#: fresh driver run starts empty.
_SCHEMA_CACHE: dict[tuple[str, int, int], T.StructType] = {}

#: Second tier of the same optimization: even with the schema pinned,
#: ``spark.read.schema(s).parquet(path)`` re-creates the relation (file
#: listing + FileIndex + analysis) on every call -- measured 18-37 ms
#: idle -- and load_table is called 1-4x per query inside the timed
#:
#: region.  A DataFrame is an IMMUTABLE logical plan: handing the same
#: plan object to every caller changes nothing about execution (each
#: action still plans adaptively and scans the parquet from disk), so
#: cache the constructed DataFrame keyed by (session, file identity).
#: Like the schema tier this holds metadata only -- no rows, no
#: persisted blocks (``spark.catalog.clearCache`` between bench queries
#: is about storage, which this never touches) -- and a regenerated
#: fixture changes mtime/size, missing the cache.  Keyed WEAKLY by the
#: live SparkSession object (never by id(), which CPython reuses after
#: GC): a stopped/collected session's plans can never be handed out.
_DF_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _file_key(path: str) -> tuple[str, int, int]:
    st = os.stat(path)
    return (os.path.abspath(path), st.st_mtime_ns, st.st_size)


def _read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    key = _file_key(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    per_session = _DF_CACHE.setdefault(spark, {})
    dfk = (name, *_file_key(path))
    cached = per_session.get(dfk)
    if cached is None:
        cached = per_session[dfk] = _load_table_uncached(spark, path, name)
    return cached


def _load_table_uncached(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is an absolute arrival instant (the reference pins
        # approximateArrivalTimestamp as a java.time.Instant --
        # M/KinesisRecord.scala:18), which in Spark is TIMESTAMP (LTZ),
        # never TIMESTAMP_NTZ.  The fixture's parquet encoding has drifted
        # across regenerations, so normalize every encoding on load:
        #  - TIMESTAMP(NANOS): Spark has no native type; read nanos as long
        #    and truncate to micros (integer `div` keeps full precision --
        #    a double division would round at 2^53; same truncation DuckDB
        #    applies).
        #  - plain timestamp[us] without the UTC flag: Spark reads
        #    TIMESTAMP_NTZ, which unix_micros/withWatermark reject; cast to
        #    "timestamp".  Session TZ is pinned to UTC (session.py), so the
        #    cast is value-exact vs the DuckDB oracle.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet_cached(spark, path)
        df = _normalize_event_ts(df)
        return df
    return _read_parquet_cached(spark, path)


def _normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the events arrival timestamp to TIMESTAMP (LTZ) regardless
    of the parquet encoding -- nanos-as-long or TIMESTAMP_NTZ."""
    dtype = df.schema[ts_col].dataType
    if isinstance(dtype, T.LongType):
        return df.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
        )
    if isinstance(dtype, T.TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register fixture tables as temp views for the SQL API."""
    for name in names or TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events fixture directly from its parquet file (the file
    source takes the path as a glob) -- no temp-dir copy.  Same timestamp
    normalization as the batch loader (nanos-as-long OR TIMESTAMP_NTZ ->
    TIMESTAMP; watermarks reject NTZ event-time columns)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    key = _file_key(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    # The file source needs a directory (or glob) -- a concrete file path
    # fails basePath validation, so glob the exact filename.
    glob_path = os.path.join(sf_dir, "events.[p]arquet")
    stream = spark.readStream.schema(schema).parquet(glob_path)
    return _normalize_event_ts(stream)
