"""Structured Streaming queries exposed through the batch correctness gate.

Each callable runs a REAL streaming query and returns its result, so the
DuckDB oracle checks end-to-end streaming semantics, not a batch
re-expression (SURVEY §2.9).  Private helpers own every streaming
lifecycle in this module:

- ``_drain(writer)`` starts a query, drives it with processAllAvailable
  and stops it in ``finally``, whatever the query raised.
- ``_memory_sink(spark, writer, tag)`` drains into a memory sink and
  returns its rows with the sink's temp view already dropped, so no run
  leaves a view (and its rows) behind in the session catalog.
- ``_stream_epochs(spark, df, sink)`` stages ``df`` as ``N_EPOCHS``
  files and drains ``sink(stream)`` one file per trigger, removing the
  files whatever the query raised.  Both mergeable-state harnesses run on
  it.  ``_aggregate_epochs(spark, df, aggregate, tag)`` runs the streaming
  aggregation ``aggregate(stream)`` in complete mode, so Spark's state
  store merges the epochs (Structured Streaming), and returns the last
  trigger's table.  ``_fold_epochs(spark, df, partial, tag)`` pins each
  epoch's own state ``partial(batch_df, epoch_id)`` and returns their
  union for the twin to merge (Discretized Streams).

A twin whose merge is a built-in aggregate (count, sum, min, max,
bit_or, max of a struct) runs on ``_aggregate_epochs`` and writes that
aggregate once.  ``_fold_epochs`` keeps the other merges (bottom-k,
reservoir, top-k, sessions, quantile) and the partials that call
``plans.hygiene.spread``, whose ``df.rdd`` raises on a streaming
DataFrame (minhash, bootstrap).  Either way eager localCheckpoints pin
the state executor-side and no state row folds through the driver.  A
twin whose batch query derives its answer from the same state calls that
query's ``_*_finalize`` helper (core.py / pipeline.py) instead of a copy.

``stream_scd2_merge`` keeps its own callback: its merge depends on batch
order, so each batch folds into the standing table as it arrives.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from kcl_akka_stream_spark.queries.core import (
    _cents,
    _entropy_finalize,
    _ks_counts,
    _ks_finalize,
    _mi_finalize,
)
from kcl_akka_stream_spark.queries.pipeline import (
    _bootstrap_finalize,
    _f2_finalize,
    _hist_median_finalize,
    _hll_finalize,
    _kl_drift_finalize,
    _reservoir_finalize,
    _rollup_finalize,
    _rollup_partial,
)
from kcl_akka_stream_spark.queries.registry import query, tbl


#: When tools/explain_audit.py (or a test) installs a capture dict here,
#: every streaming twin's PHYSICAL plan is recorded under its family tag:
#: a _fold_epochs twin captures each epoch state before execution, and a
#: query drained by _aggregate_epochs or _memory_sink captures its final
#: trigger through StreamingQuery.explainInternal.
PLAN_CAPTURE: dict[str, list[str]] | None = None


def _capture_plan(tag: str, df: DataFrame) -> None:
    if PLAN_CAPTURE is not None:
        from kcl_akka_stream_spark.plans.hygiene import physical_plan

        PLAN_CAPTURE.setdefault(tag, []).append(physical_plan(df))


def _capture_query_plan(tag: str, q: StreamingQuery) -> None:
    """Record a drained query's last trigger plan, StateStoreRestore/Save
    included (a foreachBatch micro-batch is a LogicalRDD that hides it)."""
    if PLAN_CAPTURE is not None:
        PLAN_CAPTURE.setdefault(tag, []).append(q._jsq.explainInternal(True))


#: The mergeable-state contract (epoch states fold to exactly the
#: whole-stream state: abelian sums, min/max/OR semilattices, bottom-k)
#: is independent of batch count and composition BY CONSTRUCTION, and
#: every oracle recomputes from the whole relation.  TWO epochs exercise
#: the cross-batch merge at the least trigger overhead (~0.22 s per extra
#: trigger at sf0.1).  The split key is a deterministic full-row hash:
#: cheaper than a round-robin repartition and reproducible under retry.
N_EPOCHS = 2


def _write_epoch_fixture(df: DataFrame, src: str, n: int = N_EPOCHS) -> None:
    df.repartition(n, F.xxhash64(*df.columns)).write.mode(
        "overwrite"
    ).parquet(src)


def _drain(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer``, process everything available, and stop the query
    even when a trigger raised.  Returns the stopped query."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def _memory_sink(
    spark: SparkSession, writer: DataStreamWriter, tag: str
) -> DataFrame:
    """Drain ``writer`` into a uniquely named memory sink and return its
    rows.  The sink's temp view is dropped before returning: the DataFrame
    keeps the sink's rows, and the session catalog holds nothing once the
    query is done."""
    name = f"{tag}_{uuid.uuid4().hex[:8]}"
    q = _drain(writer.format("memory").queryName(name))
    _capture_query_plan(tag, q)
    rows = spark.table(name)
    spark.catalog.dropTempView(name)
    return rows


def _stream_epochs(
    spark: SparkSession,
    df: DataFrame,
    sink: Callable[[DataFrame], DataStreamWriter],
) -> StreamingQuery:
    """Stage ``df`` as N_EPOCHS files and drain ``sink(stream)`` over them,
    one file per trigger.  The staged files are removed (and the query
    stopped) even when a trigger raises."""
    src = tempfile.mkdtemp(prefix="kcl_epochs_")
    try:
        _write_epoch_fixture(df, src)
        stream = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1)
        return _drain(sink(stream.parquet(src)))
    finally:
        shutil.rmtree(src, ignore_errors=True)


def _fold_epochs(
    spark: SparkSession,
    df: DataFrame,
    partial: Callable[[DataFrame, int], DataFrame],
    tag: str,
) -> DataFrame:
    """Stream ``df`` as N_EPOCHS micro-batches and return the union of the
    per-epoch states ``partial(batch_df, epoch_id)``.  Each state is
    pinned by an eager localCheckpoint inside its trigger, so it lives in
    executor block storage and outlives the staged files."""
    states: list[DataFrame] = []

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        st = partial(batch_df, int(epoch_id))
        _capture_plan(tag, st)
        states.append(st.localCheckpoint(eager=True))

    _stream_epochs(spark, df, lambda s: s.writeStream.foreachBatch(fold))
    return reduce(DataFrame.unionByName, states)


def _aggregate_epochs(
    spark: SparkSession,
    df: DataFrame,
    aggregate: Callable[[DataFrame], DataFrame],
    tag: str,
) -> DataFrame:
    """Stream ``df`` as N_EPOCHS micro-batches through the streaming
    aggregation ``aggregate(stream)`` in complete mode and return its
    table after the last trigger: Spark's state store merges the epochs.
    Each trigger pins its table by an eager localCheckpoint and releases
    the one before, so one table is held at a time, executor-side."""
    pinned: list[DataFrame] = []

    def pin(batch_df: DataFrame, _epoch_id: int) -> None:
        pinned.append(batch_df.localCheckpoint(eager=True))
        if len(pinned) > 1:
            # DataFrame.unpersist only drops cache-manager entries; a
            # local checkpoint's blocks belong to its LogicalRDD's RDD
            # (Spark warns that it cannot be recomputed; nothing reads it)
            old = pinned.pop(0)
            old._jdf.queryExecution().analyzed().rdd().unpersist(False)

    def sink(stream: DataFrame) -> DataStreamWriter:
        return aggregate(stream).writeStream.outputMode("complete").foreachBatch(pin)

    q = _stream_epochs(spark, df, sink)
    _capture_query_plan(tag, q)
    return pinned[-1]


@query(
    "stream_tumbling_agg",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.9 -- tumbling event-time window over the envelope stream (absent in
    # the reference; Spark-native watermark+window).  Complete output mode ->
    # every window is emitted once the file stream drains.  Streams the
    # fixture file directly (no temp copy).
    from kcl_akka_stream_spark.sources.batch import stream_events

    stream = stream_events(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), (F.sum(_cents(F.col("value"))).cast("double") / F.lit(100.0)).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _memory_sink(
        spark, agg.writeStream.outputMode("complete"), "stream_tumbling_agg"
    )


@query(
    "stream_dedup",
    """
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.9 at-least-once replay -> exactly-once via watermarked
    # dropDuplicates: the source directory holds TWO copies of every event
    # (a simulated replay-from-checkpoint); the streaming dedup must emit
    # each exactly once.  NOTE: with the dedup key not containing the
    # event-time column, dropDuplicates state is NOT evicted by the
    # watermark -- fine for a bounded replay test, an unbounded-state
    # bug on an endless stream; stream_dedup_watermarked below is the
    # state-bounded production form.
    return _replayed_event_types(
        spark,
        sf_dir,
        "stream_dedup",
        lambda stream: stream.dropDuplicates(["event_id"]),
    )


def _replayed_event_types(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    dedup: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Per event type, the count of events left by ``dedup`` on a stream
    (watermarked on ``ts``) that holds every event twice."""
    ev = tbl(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix=f"kcl_{tag}_")
    try:
        ev.write.mode("overwrite").parquet(tmp)
        ev.write.mode("append").parquet(tmp)  # the replayed duplicates
        stream = spark.readStream.schema(ev.schema).parquet(tmp)
        deduped = dedup(stream.withWatermark("ts", "1 hour"))
        sink = _memory_sink(spark, deduped.writeStream.outputMode("append"), tag)
        return (
            sink.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "stream_dedup_watermarked",
    """
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
)
def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The STATE-BOUNDED twin of stream_dedup.  dropDuplicates(keys) with
    # a watermark only evicts state when the event-time column is part
    # of the dedup keys -- with a plain id key the state store grows
    # forever, which at 100 TB/day of events is an OOM with a fuse, not
    # a dedup.  dropDuplicatesWithinWatermark (the API Spark added for
    # exactly this) dedups on the id while evicting any key older than
    # the watermark delay, so state is bounded by (event rate x delay)
    # regardless of run length.  Semantics differ only for duplicates
    # arriving later than the delay -- the replay fixture's duplicates
    # carry identical timestamps, so the exact-dedup oracle still holds.
    return _replayed_event_types(
        spark,
        sf_dir,
        "stream_dedup_watermarked",
        lambda stream: stream.dropDuplicatesWithinWatermark(["event_id"]),
    )


@query(
    "stream_sliding_agg",
    """
    WITH w AS (
      SELECT event_type, value,
             unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
      FROM events)
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.9 -- sliding event-time window (1 h window / 30 min slide): each
    # event lands in exactly two windows.  Oracle expands the two
    # epoch-aligned window starts per event.
    from kcl_akka_stream_spark.sources.batch import stream_events

    stream = stream_events(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(_cents(F.col("value"))).cast("double") / F.lit(100.0)).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _memory_sink(
        spark, agg.writeStream.outputMode("complete"), "stream_sliding_agg"
    )


@query(
    "stream_session_window",
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS brk
      FROM events),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.9 -- session windows (30 min inactivity gap) per user over the
    # envelope stream.  Oracle is the classic gaps-and-islands rewrite.
    from kcl_akka_stream_spark.sources.batch import stream_events

    stream = stream_events(spark, sf_dir)
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n",
        )
    )
    return _memory_sink(
        spark, agg.writeStream.outputMode("complete"), "stream_session_window"
    )


@query(
    "stream_checkpoint_frontier",
    """
    WITH t AS (
      SELECT user_id AS shard_id, event_id AS seq,
             (event_type <> 'error') AS processed,
             sum(CASE WHEN event_type <> 'error' THEN 0 ELSE 1 END)
               OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS UNBOUNDED PRECEDING) AS unproc
      FROM events)
    SELECT shard_id,
           max(CASE WHEN unproc = 0 THEN seq END) AS frontier_seq,
           CAST(sum(CASE WHEN processed AND unproc > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS processed_uncheckpointed_count,
           CAST(sum(CASE WHEN processed THEN 0 ELSE 1 END) AS BIGINT) AS in_flight_count
    FROM t GROUP BY shard_id
    """,
)
def stream_checkpoint_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.3 C1-C6 as a REAL stateful streaming operator: the reference's
    # ShardCheckpointTracker (RecordProcessorImpl.scala:22-91) re-expressed
    # with applyInPandasWithState.  State is COMPACTED per micro-batch
    # (popProcessedRecords, RecordProcessorImpl.scala:73-78): only the
    # un-acked window survives, so like the reference the tracker relies on
    # per-shard in-order delivery (Kinesis' per-shard ordering guarantee).
    # The fixture honors that contract: events are range-split by seq into
    # three files with increasing mtimes, so maxFilesPerTrigger=1 delivers
    # each shard's records across micro-batches in seq order.  The gate
    # compares the LAST emission per shard against the batch-SQL oracle.
    import glob
    import time as _time

    from kcl_akka_stream_spark.streaming.tracker import streaming_checkpoint_frontier

    ev = tbl(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="kcl_spark_ckpt_")
    try:
        ev.repartitionByRange(3, "event_id").write.mode("overwrite").parquet(tmp)
        # range partition i holds the i-th seq band; stamp increasing mtimes
        # so the file source (oldest-first) replays them in seq order.
        base = _time.time() - 600
        for i, part in enumerate(sorted(glob.glob(os.path.join(tmp, "part-*")))):
            os.utime(part, (base + 60 * i, base + 60 * i))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(tmp)
        )
        tracked = streaming_checkpoint_frontier(
            stream.select(
                F.col("user_id").alias("shard_id"),
                F.col("event_id").alias("seq"),
                (F.col("event_type") != "error").alias("processed"),
            )
        )
        sink = _memory_sink(
            spark, tracked.writeStream.outputMode("update"), "stream_checkpoint_frontier"
        )
        w = Window.partitionBy("shard_id").orderBy(F.col("update_id").desc())
        return (
            sink.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select(
                "shard_id", "frontier_seq", "processed_uncheckpointed_count", "in_flight_count"
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "stream_stream_join",
    """
    SELECT a.event_id AS err_id, count(*) AS n_clicks_before
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'error' AND b.event_type = 'click'
     AND b.ts BETWEEN a.ts - INTERVAL 10 MINUTE AND a.ts
    GROUP BY a.event_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.9 -- watermarked stream-stream interval join (absent in the
    # reference; Spark-native): for each error event, the clicks by the
    # same user in the preceding 10 minutes.  Both sides are real streams;
    # the watermark bounds join state, the time-range condition lets the
    # engine expire rows.  Inner joins emit eagerly, so draining the file
    # stream yields the full deterministic result.
    from kcl_akka_stream_spark.sources.batch import stream_events

    errs = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("err_user"), F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts"))
        .withWatermark("err_ts", "1 hour")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("clk_user"), F.col("ts").alias("clk_ts"))
        .withWatermark("clk_ts", "1 hour")
    )
    joined = errs.join(
        clicks,
        (F.col("err_user") == F.col("clk_user"))
        & (F.col("clk_ts") >= F.col("err_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("clk_ts") <= F.col("err_ts")),
        "inner",
    )
    sink = _memory_sink(
        spark, joined.writeStream.outputMode("append"), "stream_stream_join"
    )
    return (
        sink.groupBy(F.col("err_id"))
        .agg(F.count(F.lit(1)).alias("n_clicks_before"))
    )


@query(
    "stream_committed_sink",
    """
    SELECT event_id, user_id, event_type FROM events
    """,
)
def stream_committed_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.3 C3/C4 end-to-end under the gate: a real stream drains through
    # committing_foreach_batch (at-least-once: process THEN record the
    # commit; write-before-mutate C4 discipline) into a parquet sink, with
    # the commit log carrying one entry per micro-batch at cadence N=1.
    # The gate then verifies the sink holds exactly the source events --
    # the reference's "received == sent" acceptance
    # (IT/KinesisSourceTest.scala:52-68) with the commit machinery in the
    # loop.
    from kcl_akka_stream_spark.config import ShardCheckpointConfig
    from kcl_akka_stream_spark.sources.batch import stream_events
    from kcl_akka_stream_spark.streaming.commit import (
        CommitTracker,
        committing_foreach_batch,
        read_commits,
    )

    base = tempfile.mkdtemp(prefix="kcl_spark_commit_sink_")
    sink_dir = os.path.join(base, "sink")
    commit_dir = os.path.join(base, "commits")
    try:
        tracker = CommitTracker(
            ShardCheckpointConfig(
                checkpoint_period_seconds=1e9,
                checkpoint_after_processing_nr_of_records=1,
            )
        )

        def process(batch_df, epoch_id):
            batch_df.select("event_id", "user_id", "event_type").write.mode(
                "append"
            ).parquet(sink_dir)

        cb = committing_foreach_batch(process, tracker, commit_dir)
        _drain(
            stream_events(spark, sf_dir)
            .writeStream.foreachBatch(cb)
            .outputMode("append")
        )
        commits = read_commits(commit_dir)
        if not commits:
            raise AssertionError("commit log empty: cadence machinery did not run")
        # materialize before the temp dir is removed
        rows = spark.read.parquet(sink_dir).collect()
        return spark.createDataFrame(rows, "event_id long, user_id long, event_type string")
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "stream_quality_filter",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents)
    SELECT doc_id, CAST(len(t) AS INT) AS n_words,
           round(CAST(list_sum([len(x) FOR x IN t]) AS DOUBLE)
                 / greatest(len(t), 1), 4) AS mean_word_len
    FROM toks WHERE len(t) >= 30
    """,
)
def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming quality gate: the map-only structural metrics
    # (operators/quality.py) run UNCHANGED on a document stream -- no
    # aggregation, no state, append mode, zero shuffle: every micro-batch
    # filters independently, the shape that keeps a 100 TB backfill and
    # its live tail on one code path.
    from kcl_akka_stream_spark.operators.quality import structural_metrics

    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(
        os.path.join(sf_dir, "documents.[p]arquet")
    )
    flagged = structural_metrics(stream).filter(F.col("n_words") >= 30).select(
        "doc_id", "n_words", "mean_word_len"
    )
    return _memory_sink(
        spark, flagged.writeStream.outputMode("append"), "stream_quality_filter"
    )


@query(
    "stream_kmv_merge",
    # Oracle = the direct GLOBAL KMV sketch over the raw table (same
    # arithmetic as agg_kmv_merged) -- sketch mergeability makes the
    # streamed per-batch states collapse to EXACTLY this value.
    """
    WITH h0 AS (
      SELECT DISTINCT substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS h8 FROM events),
    h AS (
      SELECT list_sum([(strpos('0123456789abcdef', substr(h8, i, 1)) - 1)
                       * power(16, 8 - i)
                       FOR i IN generate_series(1, 8)]) / 4294967296.0 AS hv
      FROM h0),
    r AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h),
    agg AS (SELECT count(*) AS n_exact_kept, max(hv) AS kth FROM r WHERE rn <= 64)
    SELECT CAST(n_exact_kept AS BIGINT) AS n_exact_kept,
           round(kth, 10) AS kth_min,
           round(CASE WHEN n_exact_kept >= 64 THEN 63.0 / kth
                      ELSE CAST(n_exact_kept AS DOUBLE) END, 4) AS est_distinct
    FROM agg
    """,
)
def stream_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming distinct count: each epoch folds to its own KMV state (k
    # hashes, keyed by the epoch) and the states merge into ONE global
    # estimate.  KMV closure makes the merge equal the direct batch sketch
    # bit-for-bit, which the oracle checks; state is k numbers per batch.
    from kcl_akka_stream_spark.operators.sketches import (
        kmv_merge_estimate,
        kmv_sketch,
    )

    ev = tbl(spark, sf_dir, "events").select("user_id")
    states = _fold_epochs(
        spark,
        ev,
        lambda b, epoch: kmv_sketch(
            b.withColumn("g", F.lit(epoch)), "g", "user_id", k=64
        ),
        "stream_kmv_merge",
    )
    return kmv_merge_estimate(states, k=64)


@query(
    "stream_cms_merge",
    # Oracle = the direct global CMS built from the raw table; counter
    # addition makes the streamed per-batch states sum to exactly this.
    """
    WITH d AS (SELECT unnest([0,1,2,3]) AS row),
    state AS (
      SELECT row, bucket, count(*) AS cnt
      FROM (SELECT row,
                   CAST(list_sum([(strpos('0123456789abcdef',
                        substr(md5(CAST(row AS VARCHAR) || ':' ||
                               CAST(user_id AS VARCHAR)), i, 1)) - 1)
                        * power(16, 8 - i)
                        FOR i IN generate_series(1, 8)]) AS BIGINT) % 64 AS bucket
            FROM events, d)
      GROUP BY row, bucket)
    SELECT row, bucket, CAST(cnt AS BIGINT) AS cnt FROM state
    """,
)
def stream_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming Count-Min rollup: the state store sums the epochs' <= depth
    # x width counters into the global sketch, equal to the direct batch
    # build by counter additivity -- the oracle checks every counter.
    from kcl_akka_stream_spark.operators.sketches import cms_state

    ev = tbl(spark, sf_dir, "events").select("user_id")
    state = _aggregate_epochs(
        spark,
        ev,
        lambda s: cms_state(s, "user_id", depth=4, width=64),
        "stream_cms_merge",
    )
    return state.select("row", "bucket", F.col("cnt").cast("long").alias("cnt"))


@query(
    "stream_static_enrich",
    """
    SELECT c.c_mktsegment, count(*) AS n,
           CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stream-static dimension enrichment: the event STREAM joins a static
    # customer dimension (broadcast each micro-batch -- the standard
    # streaming enrich; the dim is re-resolvable per batch so slowly-
    # changing dims pick up updates), then a complete-mode aggregate per
    # market segment.
    from kcl_akka_stream_spark.sources.batch import stream_events

    stream = stream_events(spark, sf_dir)
    dim = tbl(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream.join(F.broadcast(dim), stream.user_id == dim.c_custkey)
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(_cents(F.col("value"))).cast("double") / F.lit(100.0)).alias(
            "sum_value"
        ),
    )
    return _memory_sink(
        spark, agg.writeStream.outputMode("complete"), "stream_static_enrich"
    )


@query(
    "stream_hist_merge",
    """
    WITH b AS (
      SELECT event_type,
             least(CAST(floor(value / 10.0) AS BIGINT), 49) AS bin,
             count(*) AS cnt
      FROM events GROUP BY event_type, bin),
    c AS (
      SELECT event_type, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM b),
    m AS (
      SELECT event_type, bin, cnt, cum, n,
             row_number() OVER (PARTITION BY event_type ORDER BY bin) AS rk
      FROM c WHERE cum >= n * 0.5)
    SELECT event_type, CAST(n AS BIGINT) AS n_rows,
           round(bin * 10.0 + (n * 0.5 - (cum - cnt)) / cnt * 10.0, 6)
             AS est_median
    FROM m WHERE rk = 1
    """,
)
def stream_hist_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming median: an equi-width histogram (types x 50 bin counts)
    # whose counts the state store SUMS across epochs, so it equals the
    # direct one and the oracle is agg_hist_median's.  No sort, no
    # raw-value retention.
    width, n_bins = 10.0, 50
    ev = tbl(spark, sf_dir, "events").select("event_type", "value")
    counts = _aggregate_epochs(
        spark,
        ev,
        lambda s: s.groupBy(
            "event_type",
            F.least(
                F.floor(F.col("value") / width).cast("long"),
                F.lit(n_bins - 1),
            ).alias("bin"),
        ).agg(F.count(F.lit(1)).alias("cnt")),
        "stream_hist_merge",
    )
    return _hist_median_finalize(counts, width)


@query(
    "stream_left_outer_join",
    # Unmatched errors null-flush only once the join watermark passes
    # their last possible match time: err_ts < min(side maxima) - delay.
    # The oracle encodes exactly that policy, so a flush regression
    # (rows held forever, or flushed early) turns the gate red.
    """
    WITH errs AS (SELECT event_id AS err_id, user_id, ts AS err_ts
                  FROM events WHERE event_type = 'error'),
    clicks AS (SELECT user_id AS cu, ts AS clk_ts
               FROM events WHERE event_type = 'click'),
    wm AS (SELECT least((SELECT max(ts) FROM events WHERE event_type = 'error'),
                        (SELECT max(ts) FROM events WHERE event_type = 'click'))
                  - INTERVAL 61 MINUTE AS w),
    j AS (SELECT e.err_id, e.err_ts, c.clk_ts FROM errs e LEFT JOIN clicks c
          ON e.user_id = c.cu
         AND c.clk_ts BETWEEN e.err_ts - INTERVAL 10 MINUTE AND e.err_ts)
    SELECT err_id, CAST(count(clk_ts) AS BIGINT) AS n_clicks_before
    FROM j, wm GROUP BY err_id, wm.w
    HAVING count(clk_ts) > 0 OR min(err_ts) < wm.w
    """,
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.9 -- watermarked LEFT OUTER stream-stream join: errors with no
    # click in the preceding 10 minutes must still emit (null-padded) --
    # but only after the watermark proves no match can still arrive.
    # Matched rows emit eagerly like the inner join; unmatched rows are
    # held in state until the join watermark (min over both sides of
    # max event time - 61 min) passes their last possible match time,
    # then flush in Spark's no-data micro-batch.  Errors NEWER than the
    # final watermark stay in state forever on a drained stream -- the
    # oracle models precisely this boundary, which is the part of outer
    # stream-joins that surprises every production user.
    from kcl_akka_stream_spark.sources.batch import stream_events

    errs = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("err_user"),
            F.col("event_id").alias("err_id"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "61 minutes")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("clk_user"), F.col("ts").alias("clk_ts"))
        .withWatermark("clk_ts", "61 minutes")
    )
    joined = errs.join(
        clicks,
        (F.col("err_user") == F.col("clk_user"))
        & (F.col("clk_ts") >= F.col("err_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("clk_ts") <= F.col("err_ts")),
        "left_outer",
    )
    sink = _memory_sink(
        spark, joined.writeStream.outputMode("append"), "stream_left_outer_join"
    )
    return (
        sink.groupBy("err_id")
        .agg(F.count("clk_ts").alias("n_clicks_before"))
    )


@query(
    "stream_cdc_upsert",
    """
    WITH r AS (
      SELECT user_id, event_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM r WHERE rn = 1
    """,
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The CDC-apply / keyed-upsert pattern: the latest row per key is the
    # max of the UNIQUE (ts, event_id) struct (duplicate-ts max_by would be
    # fold-order-nondeterministic), and the state store applies each epoch
    # as the same argmax.  Argmax is associative and commutative, so the
    # final table is batch-split-independent, which the whole-table oracle
    # verifies.  State is one row per key.
    ev = tbl(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    latest = _aggregate_epochs(
        spark,
        ev,
        lambda s: s.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "event_type")).alias("s")
        ),
        "stream_cdc_upsert",
    )
    return latest.select(
        "user_id",
        F.col("s.event_id").alias("last_event_id"),
        F.col("s.event_type").alias("last_event_type"),
        F.date_format("s.ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


@query(
    "stream_python_datasource",
    """
    WITH shards AS (SELECT s FROM generate_series(0, 7) t(s))
    SELECT 'shardId-' || lpad(CAST(s AS VARCHAR), 12, '0') AS shard_id,
           CAST(250 AS BIGINT) AS n,
           CAST(1 AS BIGINT) AS min_seq,
           CAST(250 AS BIGINT) AS max_seq,
           CAST(250 * 251 / 2 AS BIGINT) AS sum_seq
    FROM shards
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S1/S5 streaming protocol end-to-end: readStream over the pure-Python
    # DataSource (sources/python_source.py) -- initialOffset/latestOffset/
    # partitions/read/commit with JSON-checkpointable offsets, paced at 100
    # seqs per trigger so the 250-seq fixture drains over THREE micro-batches
    # (the multi-batch path is what distinguishes this from a batch read).
    # Complete-mode per-shard totals prove no seq was dropped or doubled at
    # the batch boundaries.
    from kcl_akka_stream_spark.sources.python_source import register

    register(spark)
    stream = (
        spark.readStream.format("envelope_sim")
        .option("seqs_per_batch", "100")
        .load()
    )
    agg = stream.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("sequence_number").alias("min_seq"),
        F.max("sequence_number").alias("max_seq"),
        # streaming forbids distinct aggs; the sum of 1..N is the stronger
        # invariant anyway -- any dropped or doubled seq at a batch
        # boundary shifts it
        F.sum("sequence_number").alias("sum_seq"),
    )
    return _memory_sink(
        spark, agg.writeStream.outputMode("complete"), "stream_python_datasource"
    )


@query(
    "stream_session_dynamic_gap",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'click' THEN INTERVAL '15 minutes'
                  ELSE INTERVAL '45 minutes' END AS gap
      FROM events),
    o AS (
      SELECT user_id, ts, event_id, gap,
             max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS running_end
      FROM g),
    s AS (
      SELECT user_id, ts,
             sum(CASE WHEN running_end IS NULL OR ts >= running_end THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.9 -- session windows with a PER-EVENT inactivity gap (clicks close
    # after 15 min, everything else 45): `session_window(ts, gap_expr)`,
    # the form fixed-gap sessionization cannot express (high-frequency
    # event types get tight sessions, sparse types stay glued).  Oracle is
    # the gaps-and-islands rewrite generalized to a RUNNING MAX of
    # (ts + that row's gap) with Spark's exclusive-end merge rule
    # (a new session starts when ts >= the running end).
    from kcl_akka_stream_spark.sources.batch import stream_events

    stream = stream_events(spark, sf_dir)
    gap = (
        F.when(F.col("event_type") == "click", F.lit("15 minutes"))
        .otherwise(F.lit("45 minutes"))
    )
    agg = (
        stream.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n",
        )
    )
    return _memory_sink(
        spark, agg.writeStream.outputMode("complete"), "stream_session_dynamic_gap"
    )


@query(
    "stream_chained_window_agg",
    """
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
    h AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hs, event_type,
             count(*) AS n_h
      FROM events GROUP BY 1, 2),
    d AS (
      SELECT time_bucket(INTERVAL '1 day', hs) AS ds, event_type,
             sum(n_h) AS n, count(*) AS n_hours
      FROM h GROUP BY 1, 2)
    SELECT strftime(ds, '%Y-%m-%d') AS day, event_type, CAST(n AS BIGINT) AS n,
           CAST(n_hours AS BIGINT) AS n_hours
    FROM d, wm WHERE ds + INTERVAL '1 day' <= wm.w
    """,
)
def stream_chained_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.9 -- CHAINED stateful operators in ONE streaming query
    # (SPARK-40925): hourly tumbling agg feeding a daily rollup keyed on
    # the first agg's window column, both stateful, append mode (complete
    # mode is rejected by the global-watermark correctness check).  This
    # is the streaming form of a rollup hierarchy -- without chaining it
    # takes two queries and an intermediate sink.  Append emits each
    # daily window exactly once when the watermark passes its end, so the
    # UNCLOSED tail (any day within 1 h of max event time) is absent by
    # design -- the oracle mirrors that closure rule, making the
    # watermark-eviction boundary itself part of the checked contract.
    from kcl_akka_stream_spark.sources.batch import stream_events

    stream = stream_events(spark, sf_dir)
    hourly = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_h"))
    )
    daily = (
        hourly.groupBy(F.window(F.col("w1"), "1 day").alias("w2"), "event_type")
        .agg(F.sum("n_h").alias("n"), F.count(F.lit(1)).alias("n_hours"))
    )
    out = daily.select(
        F.date_format("w2.start", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        "n_hours",
    )
    return _memory_sink(
        spark, out.writeStream.outputMode("append"), "stream_chained_window_agg"
    )


@query(
    "stream_pyds_pipeline_manifest",
    """
    WITH shards AS (SELECT s FROM generate_series(0, 7) t(s)),
    seqs AS (SELECT i FROM generate_series(1, 250) t(i)),
    rows_ AS (
      SELECT 'shardId-' || lpad(CAST(s AS VARCHAR), 12, '0') AS shard_id,
             CAST(i AS BIGINT) AS seq, md5('pk-' || s || '-' || i) AS pk
      FROM shards, seqs)
    SELECT shard_id, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(seq) AS BIGINT) AS sum_seq
    FROM rows_ WHERE substring(pk, 1, 1) < '8'
    GROUP BY shard_id
    """,
)
def stream_pyds_pipeline_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The connector matrix as ONE pipeline: Python streaming SOURCE (paced
    # micro-batches) -> filter (deterministic md5-prefix gate, the
    # sample_stratified idiom) -> Python streaming SINK (per-batch atomic
    # manifests) -> manifest-trusting re-read -> per-shard fingerprints
    # checked against the generator's closed form.  Any row lost, doubled,
    # or corrupted ANYWHERE in the read-transform-commit-reread chain
    # moves a count or a seq-sum.
    from kcl_akka_stream_spark.sources.python_source import (
        register,
        stream_manifest_files,
    )

    register(spark)
    out = tempfile.mkdtemp(prefix="kcl_pyds_pipe_")
    ckpt = tempfile.mkdtemp(prefix="kcl_pyds_pipe_ckpt_")
    try:
        stream = (
            spark.readStream.format("envelope_sim")
            .option("seqs_per_batch", "100")
            .load()
        )
        kept = stream.filter(F.substring("partition_key", 1, 1) < "8").select(
            "shard_id", "sequence_number", "partition_key"
        )
        _drain(
            kept.writeStream.format("manifest_jsonl")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )
        back = spark.read.schema(
            "shard_id string, sequence_number long, partition_key string"
        ).json(stream_manifest_files(spark, out))
        agg = back.groupBy("shard_id").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("sequence_number").cast("long").alias("sum_seq"),
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def _stream_bloom_oracle() -> str:
    from kcl_akka_stream_spark.queries.pipeline import _bloom_dedup_oracle

    return _bloom_dedup_oracle()


@query("stream_bloom_dedup", _stream_bloom_oracle())
def stream_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming twin of pipeline_bloom_dedup, SAME oracle: a live ingest
    # deduplicated against a static historical corpus.  The streaming
    # shape replaces the batch operator's explode+groupBy (stateful on a
    # stream) with k chained STREAM-STATIC BROADCAST left joins against
    # the bounded bit-position relation -- map-side, zero state, append
    # mode, so every micro-batch resolves its rows independently and the
    # history (compressed to <= m bit rows however large it is) ships
    # once per executor exactly like the batch path.  Bloom-negative rows
    # skip nothing here (the verify join is also a broadcast at gate
    # scale) but carry the candidate flag the batch operator would have
    # used to prune the exact join.
    from kcl_akka_stream_spark.queries.pipeline import _BLOOM_K, _BLOOM_M

    def _pos(col, i: int):
        return (
            F.conv(
                F.substring(F.md5(F.concat(col, F.lit(f"|{i}"))), 1, 8), 16, 10
            ).cast("long")
            % _BLOOM_M
        )

    path = os.path.join(sf_dir, "documents.parquet")
    static_docs = spark.read.parquet(path)
    existing = (
        static_docs.filter(F.col("doc_id") % 3 != 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    bits = (
        existing.select(
            F.explode(
                F.array(*[_pos(F.col("digest"), i) for i in range(_BLOOM_K)])
            ).alias("bit")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    known = existing.select(
        F.col("digest").alias("__kd"), F.lit(1).alias("__is_known")
    )

    stream = (
        spark.readStream.schema(static_docs.schema)
        .parquet(os.path.join(sf_dir, "documents.[p]arquet"))
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", F.md5("text").alias("digest"))
    )
    joined = stream.select(
        "*", *[_pos(F.col("digest"), i).alias(f"__p{i}") for i in range(_BLOOM_K)]
    )
    for i in range(_BLOOM_K):
        joined = joined.join(
            F.broadcast(
                bits.select(
                    F.col("bit").alias(f"__b{i}"), F.col("hit").alias(f"__h{i}")
                )
            ),
            F.col(f"__p{i}") == F.col(f"__b{i}"),
            "left",
        )
    cand = F.when(
        sum(F.col(f"__h{i}").isNotNull().cast("int") for i in range(_BLOOM_K))
        == _BLOOM_K,
        F.lit(1),
    ).otherwise(F.lit(0))
    flagged = joined.withColumn("bloom_candidate", cand).join(
        F.broadcast(known), F.col("digest") == F.col("__kd"), "left"
    )
    out = flagged.select(
        "doc_id",
        "lang",
        "bloom_candidate",
        F.when(
            (F.col("bloom_candidate") == 1) & F.col("__is_known").isNotNull(),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_known"),
    )
    return _memory_sink(
        spark, out.writeStream.outputMode("append"), "stream_bloom_dedup"
    )


def _stream_kmv_set_ops_oracle() -> str:
    from kcl_akka_stream_spark.queries.pipeline import _kmv_set_ops_oracle

    return _kmv_set_ops_oracle()


@query("stream_kmv_set_ops", _stream_kmv_set_ops_oracle())
def stream_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming twin of agg_kmv_set_ops, SAME oracle: each epoch folds its
    # purchase-user and click-user slices into ONE KMV state keyed by event
    # type; per set the epoch states merge to the global k-mins, and the
    # set-operation estimator runs on the merged states.  KMV closure makes
    # merged == direct bit-for-bit.
    from kcl_akka_stream_spark.operators.sketches import (
        kmv_set_estimates,
        kmv_sketch,
    )

    ev = tbl(spark, sf_dir, "events").select("event_type", "user_id", "value")
    states = _fold_epochs(
        spark,
        ev,
        lambda b, _epoch: kmv_sketch(
            b.filter(
                F.col("event_type").isin("purchase", "click")
                & (F.col("value") >= 50)
            ),
            "event_type",
            "user_id",
            k=64,
        ),
        "stream_kmv_set_ops",
    )

    def merged(etype: str) -> DataFrame:
        ex = (
            states.filter(F.col("event_type") == etype)
            .select(F.explode("kmins").alias("h"))
            .distinct()
        )
        # global k-min via TakeOrderedAndProject (per-partition top-k
        # + k-sized merge) -- same scale-safe shape as the batch
        # estimator; input here is bounded (batches x k) anyway.
        return ex.orderBy("h").limit(64).select("h")

    return kmv_set_estimates(
        merged("purchase"), merged("click"), "h", k=64, prehashed=True
    )


def _rollup_incremental_oracle() -> str:
    from kcl_akka_stream_spark.queries.pipeline import ORACLES as _O

    return _O["pipeline_rollup_incremental"]


@query("stream_rollup_incremental", _rollup_incremental_oracle())
def stream_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming twin of pipeline_rollup_incremental, SAME oracle: the
    # count/sum/min/max state (commutative monoids) merges across epochs in
    # the state store, and derived columns (avg) compute after the drain.
    ev = tbl(spark, sf_dir, "events").select("event_type", "value")
    state = _aggregate_epochs(
        spark,
        ev,
        lambda s: _rollup_partial(
            s.select("event_type", _cents(F.col("value")).alias("v"))
        ),
        "stream_rollup_incremental",
    )
    return _rollup_finalize(state)


def _power_sums_oracle() -> str:
    from kcl_akka_stream_spark.queries.core import _POWER_SUMS_ORACLE

    return _POWER_SUMS_ORACLE


@query("stream_moments_merge", _power_sums_oracle())
def stream_moments_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming twin of agg_power_sums, SAME oracle: the state store adds
    # the epochs' exact integer power sums; the mean derives after the
    # drain.
    from kcl_akka_stream_spark.operators.aggregations import power_sums

    ev = tbl(spark, sf_dir, "events").select("event_type", "value")
    sums = _aggregate_epochs(
        spark,
        ev,
        lambda s: power_sums(s, "event_type", "value"),
        "stream_moments_merge",
    )
    return sums.select(
        "event_type", "n", "s1", "s2", "s3",
        F.expr("(s1 * 100000) div n").cast("long").alias("mean_micro"),
    )


def _scd2_oracle() -> str:
    from kcl_akka_stream_spark.queries.registry import ORACLES

    return ORACLES["pipeline_scd2_history"]


@query("stream_scd2_merge", _scd2_oracle())
def stream_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming SCD2 maintenance, SAME oracle as the batch build: the change
    # feed arrives as 4 TIME-RANGED micro-batches (range files with strictly
    # increasing mtimes, so FileStreamSource's (mtime, path) order is the
    # in-order CDC contract scd2_merge requires), and each batch folds into
    # the standing SCD2 table.  The one family whose merge is NOT commutative,
    # so it folds batch-over-batch instead of through _fold_epochs.
    from kcl_akka_stream_spark.operators.cdc import scd2_compact, scd2_merge

    ev = tbl(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    src = tempfile.mkdtemp(prefix="kcl_scd2_src_")
    state = {"scd2": None}
    try:
        ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(src)
        parts = sorted(f for f in os.listdir(src) if f.startswith("part-"))
        for i, f in enumerate(parts):
            os.utime(os.path.join(src, f), (1_700_000_000 + i, 1_700_000_000 + i))

        def fold(batch_df, epoch_id):
            batch = batch_df.localCheckpoint(eager=True)
            if batch.isEmpty():
                return
            if state["scd2"] is None:
                state["scd2"] = scd2_compact(batch).localCheckpoint(eager=True)
            else:
                state["scd2"] = scd2_merge(state["scd2"], batch).localCheckpoint(
                    eager=True
                )

        _drain(
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(src)
            .writeStream.foreachBatch(fold)
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
    return state["scd2"].select(
        "user_id",
        "state",
        "version",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "valid_from"
        ),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "valid_to"
        ),
        "is_current",
    )


@query(
    "stream_topk_per_window",
    """
    WITH c AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT window_start, event_type, n,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type) AS rnk
      FROM c)
    SELECT window_start, event_type, CAST(n AS BIGINT) AS n,
           CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-window heavy hitters on a stream: the tumbling event-time count
    # (watermarkable, combinable -- the streaming engine's work) lands in
    # the memory sink, and the top-3-per-window rank runs as batch
    # post-processing on the WINDOW-COUNT-sized sink relation (bounded by
    # windows x event types, never rows).  The split is deliberate:
    # ranking inside the stream would force a non-combinable global state
    # per window, while rank-after-drain costs one tiny window sort --
    # the dashboard "top talkers per hour" shape at any volume.
    from kcl_akka_stream_spark.sources.batch import stream_events

    stream = stream_events(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
        )
    )
    sink = _memory_sink(
        spark, agg.writeStream.outputMode("complete"), "stream_topk_per_window"
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        sink.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "stream_bitmap_merge",
    # Same ground-truth oracle as agg_bitmap_distinct: the OR-merge of
    # per-batch bitmap states must equal the direct exact distinct.
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id // 63) AS BIGINT) AS n_words,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def stream_bitmap_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming EXACT distinct rollup: (type, word, bits) bitmap words that
    # the state store OR-merges across epochs into the global exact count.
    # OR is idempotent, so an at-least-once replay of a whole batch changes
    # nothing.  State is types x dense-id-range/63 words -- it grows with the
    # id universe.
    from kcl_akka_stream_spark.operators.sketches import (
        bitmap_counts,
        bitmap_state,
    )

    ev = tbl(spark, sf_dir, "events").select("event_type", "user_id")
    words = _aggregate_epochs(
        spark,
        ev,
        lambda s: bitmap_state(s, "event_type", "user_id"),
        "stream_bitmap_merge",
    )
    return bitmap_counts(words, "event_type").select(
        "event_type", "n_words", "n_distinct"
    )


def _reservoir_oracle() -> str:
    from kcl_akka_stream_spark.queries.registry import ORACLES

    return ORACLES["sample_reservoir_merge"]


@query("stream_reservoir_merge", _reservoir_oracle())
def stream_reservoir_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming twin of sample_reservoir_merge, SAME oracle: each epoch
    # keeps its bottom-k-by-hash survivors (hash_bottom_k) and the merge
    # re-applies the same selection, so merged == direct is the hash match.
    # IDEMPOTENT: a replayed row's hash is already in (or above) the
    # bottom-k, so at-least-once delivery cannot change the sample.
    from kcl_akka_stream_spark.operators.sampling import hash_bottom_k

    ev = tbl(spark, sf_dir, "events").select("event_type", "event_id")
    states = _fold_epochs(
        spark,
        ev,
        lambda b, _epoch: hash_bottom_k(b, "event_type", "event_id", 8, seed="rsv"),
        "stream_reservoir_merge",
    )
    return _reservoir_finalize(states)


def _bootstrap_ci_oracle() -> str:
    from kcl_akka_stream_spark.queries.pipeline import _bootstrap_oracle

    return _bootstrap_oracle()


@query("stream_bootstrap_merge", _bootstrap_ci_oracle())
def stream_bootstrap_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming twin of agg_bootstrap_ci, SAME oracle: each epoch folds to
    # per-(type, replica) sums (sum(w*cents), sum(w)); the point estimate is
    # the replica whose every weight is 1, so it rides the same state under
    # the label b = -1.  States merge by int64 addition, and the replicate
    # means / rank / CI derive only after the merge.  md5 weights make every
    # replicate independent of batch boundaries.
    from kcl_akka_stream_spark.operators.sampling import (
        poisson_bootstrap_weights,
    )

    def partial(batch: DataFrame, _epoch: int) -> DataFrame:
        cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        reps = poisson_bootstrap_weights(
            batch, "event_id", b=32
        ).withColumn("cents", cents)
        rep = reps.groupBy("event_type", "b").agg(
            F.sum(F.col("w") * F.col("cents")).cast("long").alias("swc"),
            F.sum("w").cast("long").alias("sw"),
        )
        point = batch.groupBy("event_type").agg(
            F.lit(-1).alias("b"),
            F.sum(cents).cast("long").alias("swc"),
            F.count(F.lit(1)).cast("long").alias("sw"),
        )
        return rep.unionByName(point)

    ev = tbl(spark, sf_dir, "events").select("event_type", "event_id", "value")
    states = _fold_epochs(spark, ev, partial, "stream_bootstrap_merge")
    merged = states.groupBy("event_type", "b").agg(
        F.sum("swc").cast("long").alias("swc"),
        F.sum("sw").cast("long").alias("sw"),
    )
    rep_means = merged.filter(F.col("b") >= 0).select(
        "event_type",
        "b",
        F.expr("swc * 100 div greatest(sw, 1)").alias("mean_cc"),
    )
    pt = merged.filter(F.col("b") < 0).select(
        "event_type",
        F.col("sw").alias("n_events"),
        F.expr("swc * 100 div sw").cast("long").alias("mean_cc"),
    )
    return _bootstrap_finalize(rep_means, pt)


def _pearson_oracle() -> str:
    from kcl_akka_stream_spark.queries.registry import ORACLES

    return ORACLES["agg_pearson_corr"]


@query("stream_pearson_merge", _pearson_oracle())
def stream_pearson_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming twin of agg_pearson_corr, SAME oracle and the same
    # pearson_stats: the state store adds the epochs' six-integer
    # sufficient statistic (n, sx, sy, sxy, sx2, sy2) in int64, and r and
    # the slope project from the merged sums on every trigger.
    from kcl_akka_stream_spark.operators.aggregations import pearson_stats

    ev = tbl(spark, sf_dir, "events").select("event_type", "ts", "value")
    return _aggregate_epochs(
        spark,
        ev,
        lambda s: pearson_stats(
            s.select(
                "event_type",
                _cents(F.col("value")).alias("x"),
                F.hour("ts").cast("long").alias("y"),
            ),
            "event_type",
            "x",
            "y",
        ),
        "stream_pearson_merge",
    )


def _kl_drift_oracle() -> str:
    from kcl_akka_stream_spark.queries.registry import ORACLES

    return ORACLES["agg_histogram_kl_drift"]


@query("stream_kl_drift_merge", _kl_drift_oracle())
def stream_kl_drift_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming twin of agg_histogram_kl_drift, SAME oracle: the state is
    # the raw (type, half, bin) count histogram, which the state store adds
    # across epochs; the +1 Laplace smoothing, the full-outer bin alignment
    # and the frozen-ln KL fold are FINALIZE steps after the drain --
    # smoothing per batch would double-count the prior and break
    # merge == direct.
    ev = tbl(spark, sf_dir, "events").select("event_type", "event_id", "value")
    merged = _aggregate_epochs(
        spark,
        ev,
        lambda s: s.select(
            "event_type",
            (F.col("event_id") % 2).cast("int").alias("half"),
            F.expr("cast(floor(value * 100 + 0.5) as bigint) div 100").alias("bin"),
        )
        .groupBy("event_type", "half", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c")),
        "stream_kl_drift_merge",
    )
    ha = merged.filter(F.col("half") == 0).select(
        "event_type", "bin", F.col("c").alias("a")
    )
    hb = merged.filter(F.col("half") == 1).select(
        "event_type", "bin", F.col("c").alias("bc")
    )
    return _kl_drift_finalize(ha, hb)


def _ks_drift_oracle() -> str:
    from kcl_akka_stream_spark.queries.registry import ORACLES

    return ORACLES["agg_ks_drift"]


@query("stream_ks_merge", _ks_drift_oracle())
def stream_ks_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming twin of agg_ks_drift, SAME oracle, with its pivoted
    # (type, deci-bin) half counters as the state, added across epochs by
    # the state store; the cumulative CDFs and max-gap fold run only after
    # the drain (cumulative sums do not merge; counts do).
    ev = tbl(spark, sf_dir, "events").select("event_type", "event_id", "value")
    counts = _aggregate_epochs(spark, ev, _ks_counts, "stream_ks_merge")
    return _ks_finalize(counts)


def _entropy_oracle() -> str:
    from kcl_akka_stream_spark.queries.registry import ORACLES

    return ORACLES["agg_entropy_profile"]


@query("stream_entropy_merge", _entropy_oracle())
def stream_entropy_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming twin of agg_entropy_profile, SAME oracle: the state store
    # adds the epochs' (type, hour) counts; the frozen-ln entropy fold runs
    # after the drain (averaging per-batch entropies is not the union's
    # entropy).
    ev = tbl(spark, sf_dir, "events").select("event_type", "ts")
    counts = _aggregate_epochs(
        spark,
        ev,
        lambda s: s.groupBy(
            "event_type", F.hour("ts").cast("long").alias("hr")
        ).agg(F.count(F.lit(1)).cast("long").alias("c")),
        "stream_entropy_merge",
    )
    return _entropy_finalize(counts)


def _mi_oracle() -> str:
    from kcl_akka_stream_spark.queries.registry import ORACLES

    return ORACLES["agg_mutual_information"]


@query("stream_mi_merge", _mi_oracle())
def stream_mi_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming twin of agg_mutual_information, SAME oracle, with the
    # entropy twin's (type, hour) count state, added across epochs by the
    # state store; margins, the MI fold and both marginal entropies run
    # after the drain over the one pinned table.
    ev = tbl(spark, sf_dir, "events").select("event_type", "ts")
    cells = _aggregate_epochs(
        spark,
        ev,
        lambda s: s.groupBy(
            "event_type", F.hour("ts").cast("long").alias("hr")
        ).agg(F.count(F.lit(1)).cast("long").alias("c")),
        "stream_mi_merge",
    )
    return _mi_finalize(cells.withColumnRenamed("c", "o"))


def _ohlc_oracle() -> str:
    from kcl_akka_stream_spark.queries.registry import ORACLES

    return ORACLES["w_ohlc_bars"]


@query("stream_ohlc_merge", _ohlc_oracle())
def stream_ohlc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming twin of w_ohlc_bars, SAME oracle, and NON-ADDITIVE: the
    # per-(type, bar) state is a LATTICE element (earliest-keyed open, max,
    # min, latest-keyed close, count) that the state store merges
    # component-wise across epochs.  open/close carry their unique
    # (ts, event_id) key THROUGH the merge as a struct, so any batch split
    # reproduces the direct bar exactly.
    x = F.expr("cast(floor(value * 10 + 0.5) as bigint)")
    ev = tbl(spark, sf_dir, "events").select("event_type", "ts", "event_id", "value")
    merged = _aggregate_epochs(
        spark,
        ev,
        lambda s: s.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bar"),
            F.struct("ts", "event_id", x.alias("x")).alias("okey"),
            x.alias("x"),
        )
        .groupBy("event_type", "bar")
        .agg(
            F.min("okey").alias("o"),
            F.max("x").alias("h"),
            F.min("x").alias("l"),
            F.max("okey").alias("c"),
            F.count(F.lit(1)).cast("long").alias("n"),
        ),
        "stream_ohlc_merge",
    )
    return merged.select(
        "event_type",
        F.date_format("bar", "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
        "n",
        F.col("o.x").cast("long").alias("open_deci"),
        F.col("h").cast("long").alias("high_deci"),
        F.col("l").cast("long").alias("low_deci"),
        F.col("c.x").cast("long").alias("close_deci"),
    )


@query(
    "stream_topk_merge",
    """
    WITH v AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events),
    r AS (
      SELECT event_type, event_id, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents DESC, event_id) AS rk
      FROM v)
    SELECT event_type, CAST(rk AS BIGINT) AS rk,
           CAST(event_id AS BIGINT) AS event_id, cents
    FROM r WHERE rk <= 8
    """,
)
def stream_topk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bounded ORDER-STATISTIC state: each epoch keeps its per-type top-8
    # events by value; the merge is identity-DEDUP then re-top-k over the
    # union -- top_k(A ∪ B) = top_k(top_k(A) ∪ top_k(B)) over SET union, so
    # it is associative, commutative and IDEMPOTENT (the distinct() absorbs a
    # replayed batch; bare concat + re-top-k would rank it twice).  The
    # (cents DESC, event_id) tiebreak makes state and oracle bit-equal.
    wk = Window.partitionBy("event_type").orderBy(
        F.col("cents").desc(), "event_id"
    )
    ev = tbl(spark, sf_dir, "events").select("event_type", "event_id", "value")
    states = _fold_epochs(
        spark,
        ev,
        lambda b, _epoch: b.select(
            "event_type",
            "event_id",
            F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
        )
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 8)
        .drop("rk"),
        "stream_topk_merge",
    ).distinct()  # identity dedup: absorbs at-least-once batch replays
    return (
        states.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 8)
        .select(
            "event_type",
            F.col("rk").cast("long").alias("rk"),
            F.col("event_id").cast("long").alias("event_id"),
            "cents",
        )
    )


def _sessionize_oracle() -> str:
    from kcl_akka_stream_spark.queries.registry import ORACLES

    return ORACLES["w_sessionize"]


@query("stream_session_merge", _sessionize_oracle())
def stream_session_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SESSION-INTERVAL state: each epoch sessionizes ITS OWN events (gap
    # 1800 s) into (user, start_us, end_us) intervals; the merge is
    # gap-closing interval union -- a closure operator, so closure(closure(A)
    # ∪ closure(B)) == closure(A ∪ B) and batch boundaries cannot split or
    # double-count a session (if an earlier event lies within the gap of a
    # new interval's start, the covering interval's END does too).  SAME
    # oracle as w_sessionize.  State is (user x batch-local sessions)-sized,
    # so the closure runs as a distributed per-user running-max window.
    from kcl_akka_stream_spark.operators.windows import sessionize

    ev = tbl(spark, sf_dir, "events").select("user_id", "ts")
    states = _fold_epochs(
        spark,
        ev,
        lambda b, _epoch: sessionize(b, "user_id", "ts", 1800)
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.unix_micros("ts")).alias("s_us"),
            F.max(F.unix_micros("ts")).alias("e_us"),
        )
        .drop("session_id"),
        "stream_session_merge",
    )
    w = Window.partitionBy("user_id").orderBy("s_us", "e_us")
    prev_max_e = F.max("e_us").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = states.select(
        "user_id",
        F.when(
            prev_max_e.isNull()
            | (F.col("s_us") - prev_max_e > 1800 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    return merged.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions")
    )


def _minhash_lang_oracle(num_hashes: int = 8) -> str:
    # Per-lang minhash signature over ALL docs' shingles (the direct
    # batch sketch the streamed per-batch mins must collapse to).
    # Per-doc shingle dedup is irrelevant under min(), so the CTE skips
    # it; hash layout mirrors operators/dedup.py::minhash_signatures.
    mins = ",\n           ".join(
        f"min(substr({'h1' if s < 4 else 'h2'}, {(s % 4) * 8 + 1}, 8))"
        f" AS mh_{s}"
        for s in range(num_hashes)
    )
    return f"""
    WITH toks AS (
      SELECT lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents),
    sh AS (
      SELECT lang, unnest(
        CASE WHEN len(t) >= 3
             THEN [array_to_string(list_slice(t, i, i + 2), ' ')
                   FOR i IN generate_series(1, len(t) - 2)]
             ELSE [array_to_string(t, ' ')] END) AS shingle
      FROM toks),
    h AS (
      SELECT lang, md5(shingle) AS h1, md5(shingle || '#1') AS h2 FROM sh)
    SELECT lang,
           {mins}
    FROM h GROUP BY lang
    """


@query("stream_minhash_merge", _minhash_lang_oracle())
def stream_minhash_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min(sig(A), sig(B)) == sig(A ∪ B) by definition of the min-hash, so
    # per-epoch per-lang signatures merge into exactly the whole-corpus
    # signature (idempotent under replay).  State is langs x 8 hex chunks,
    # never the data.  Oracle = the direct batch signature.
    from kcl_akka_stream_spark.operators.dedup import minhash_signatures

    docs = tbl(spark, sf_dir, "documents").select("lang", "text")
    states = _fold_epochs(
        spark,
        docs,
        lambda b, _epoch: minhash_signatures(b, text_col="text", id_col="lang"),
        "stream_minhash_merge",
    )
    return states.groupBy("lang").agg(
        *[F.min(f"mh_{s}").alias(f"mh_{s}") for s in range(8)]
    )


def _bloom_merge_oracle(m_bits: int = 16384, k_hashes: int = 4,
                        n_probes: int = 200) -> str:
    # Ground truth recomputes the Bloom filter BIT-FOR-BIT from the
    # distinct (type, user) relation: OR is idempotent, so the direct
    # build over all rows must equal the 4-batch OR-merge -- the lattice
    # property under test.  Same md5 position hash as the Spark side.
    def pos(expr: str) -> str:
        return (
            f"('0x' || substr(md5({expr}), 1, 8))::BIGINT % {m_bits}"
        )

    return f"""
    WITH ev AS (SELECT DISTINCT event_type, user_id FROM events),
    pos AS (
      SELECT event_type,
             {pos("user_id::VARCHAR || '|' || i::VARCHAR")} AS p
      FROM ev, (SELECT unnest(generate_series(0, {k_hashes - 1})) AS i)),
    words AS (
      SELECT event_type, p // 63 AS wrd,
             bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
      FROM pos GROUP BY event_type, p // 63),
    filt AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(bit_count(bits)) AS BIGINT) AS n_bits_set
      FROM words GROUP BY event_type),
    probes AS (
      SELECT 'absent:' || j::VARCHAR AS pk, i
      FROM (SELECT unnest(generate_series(0, {n_probes - 1})) AS j),
           (SELECT unnest(generate_series(0, {k_hashes - 1})) AS i)),
    ppos AS (
      SELECT pk, {pos("pk || '|' || i::VARCHAR")} AS p FROM probes),
    hits AS (
      SELECT w.event_type, pp.pk,
             CASE WHEN count(*) FILTER (
                    w.bits & (1::BIGINT << CAST(pp.p % 63 AS INT)) <> 0
                  ) = {k_hashes} THEN 1 ELSE 0 END AS hit
      FROM ppos pp JOIN words w ON w.wrd = pp.p // 63
      GROUP BY w.event_type, pp.pk),
    fp AS (
      SELECT event_type, CAST(sum(hit) AS BIGINT) AS fp_probe_hits
      FROM hits GROUP BY event_type),
    truth AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_true_keys
      FROM ev GROUP BY event_type)
    SELECT f.event_type, f.n_words, f.n_bits_set,
           t.n_true_keys,
           COALESCE(p.fp_probe_hits, 0) AS fp_probe_hits,
           CASE WHEN f.n_bits_set < {m_bits} THEN
             CAST(round(-({m_bits}.0 / {k_hashes})
                  * ln(CAST({m_bits} - f.n_bits_set AS DOUBLE) / {m_bits})
                  * 1000000, 0) AS BIGINT)
           END AS est_keys_micro
    FROM filt f
    JOIN truth t ON t.event_type = f.event_type
    LEFT JOIN fp p ON p.event_type = f.event_type
    """


@query("stream_bloom_merge", _bloom_merge_oracle())
def stream_bloom_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A fixed-m Bloom filter is an OR-semilattice over its bit words, so
    # the state store's bit_or merges the epochs into exactly the
    # whole-stream filter and a replay is absorbed.  Unlike the bitmap twin the state is CONSTANT: <= m/63 words
    # per type regardless of the id universe.  FINALIZE: bit census, the
    # -m/k * ln(1 - X/m) cardinality inversion (micro-frozen; exact in binary
    # FP because m is a power of two), and a 200-probe ENGINEERED-ABSENT
    # panel whose hit count is the measured false-positive rate; the oracle
    # rebuilds the filter bit-for-bit from the distinct relation.
    m_bits, k_hashes, n_probes = 16384, 4, 200

    def positions(expr: str):
        return [
            F.expr(
                f"cast(conv(substr(md5(concat({expr}, '|{i}')), 1, 8),"
                f" 16, 10) as bigint) % {m_bits}"
            )
            for i in range(k_hashes)
        ]

    ev = tbl(spark, sf_dir, "events").select("event_type", "user_id")
    words = _aggregate_epochs(  # feeds the census AND the probe panel
        spark,
        ev,
        lambda s: s.select(
            "event_type",
            F.explode(F.array(*positions("cast(user_id as string)"))).alias("p"),
        )
        .select(
            "event_type",
            F.expr("p div 63").alias("wrd"),
            F.expr("shiftleft(1L, cast(p % 63 as int))").alias("msk"),
        )
        .groupBy("event_type", "wrd")
        .agg(F.bit_or("msk").alias("bits")),
        "stream_bloom_merge",
    )
    filt = words.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.bit_count("bits")).cast("long").alias("n_bits_set"),
    )
    probes = (
        spark.range(n_probes)
        .select(F.concat(F.lit("absent:"), F.col("id")).alias("pk"))
        .select(
            "pk", F.explode(F.array(*positions("pk"))).alias("p")
        )
    )
    hits = (
        probes.join(
            words, words["wrd"] == F.expr("p div 63"), "inner"
        )
        .groupBy("event_type", "pk")
        .agg(
            (
                F.sum(
                    F.expr(
                        "cast(bits & shiftleft(1L, cast(p % 63 as int))"
                        " <> 0 as int)"
                    )
                )
                == k_hashes
            )
            .cast("int")
            .alias("hit")
        )
    )
    fp = hits.groupBy("event_type").agg(
        F.sum("hit").cast("long").alias("fp_probe_hits")
    )
    truth = ev.distinct().groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_true_keys")
    )
    # saturation guard: if a type's filter ever fills every bit
    # (n_bits_set == m), ln(0) -> -inf and the engines DIVERGE in
    # failure mode (Spark non-ANSI casts +inf to Long.MAX, DuckDB CAST
    # raises) -- NULL the estimate on both sides with an identical CASE
    est = (
        f"case when n_bits_set < {m_bits} then"
        f" cast(round(-(cast({m_bits} as double) / {k_hashes})"
        f" * ln(cast({m_bits} - n_bits_set as double) / {m_bits})"
        " * 1000000, 0) as bigint) end"
    )
    return (
        filt.join(truth, "event_type")
        .join(fp, "event_type", "left")
        .select(
            "event_type",
            "n_words",
            "n_bits_set",
            "n_true_keys",
            F.coalesce("fp_probe_hits", F.lit(0))
            .cast("long")
            .alias("fp_probe_hits"),
            F.expr(est).alias("est_keys_micro"),
        )
    )


def _quantile_merge_oracle(k: int = 256, n_dec: int = 9) -> str:
    # The oracle REBUILDS the merged sketch bit-for-bit: same seeded md5
    # hash order, same bottom-k selection, same rank-pick decile rule,
    # same integer ppm arithmetic -- merged == direct is the hash match.
    return f"""
    WITH ev AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events),
    hr AS (
      SELECT event_type, event_id, cents,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5('qsk|' || CAST(event_id AS VARCHAR)), event_id
             ) AS hrk
      FROM ev),
    s AS (SELECT event_type, event_id, cents FROM hr WHERE hrk <= {k}),
    sr AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS k_s
      FROM s),
    dec AS (SELECT unnest(generate_series(1, {n_dec})) AS decile),
    est AS (
      SELECT sr.event_type, d.decile,
             CAST(min(CASE WHEN 10 * sr.rn >= d.decile * sr.k_s
                           THEN sr.cents END) AS BIGINT) AS est_cents,
             CAST(max(sr.k_s) AS BIGINT) AS k_s
      FROM sr, dec d GROUP BY 1, 2),
    sle AS (
      SELECT e.event_type, e.decile,
             CAST(count(*) FILTER (s.cents <= e.est_cents) AS BIGINT) AS s_le
      FROM est e JOIN s ON s.event_type = e.event_type
      GROUP BY 1, 2),
    exl AS (
      SELECT e.event_type, e.decile,
             CAST(count(*) FILTER (v.cents <= e.est_cents) AS BIGINT)
               AS cnt_le,
             CAST(count(*) AS BIGINT) AS n
      FROM est e JOIN ev v ON v.event_type = e.event_type
      GROUP BY 1, 2)
    SELECT e.event_type, CAST(e.decile AS INT) AS decile, e.est_cents,
           e.k_s, x.n,
           1000000 * s.s_le // e.k_s AS sample_rank_ppm,
           1000000 * x.cnt_le // x.n AS exact_rank_ppm,
           abs(1000000 * x.cnt_le // x.n - 1000000 * s.s_le // e.k_s)
             AS err_ppm,
           CASE WHEN abs(1000000 * x.cnt_le // x.n
                         - 1000000 * s.s_le // e.k_s)
                     * abs(1000000 * x.cnt_le // x.n
                           - 1000000 * s.s_le // e.k_s)
                     * 2 * e.k_s <= 5298317000000
                THEN 1 ELSE 0 END AS within_dkw
    FROM est e
    JOIN sle s ON s.event_type = e.event_type AND s.decile = e.decile
    JOIN exl x ON x.event_type = e.event_type AND x.decile = e.decile
    ORDER BY e.event_type, e.decile
    """


@query("stream_quantile_merge", _quantile_merge_oracle())
def stream_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A MERGEABLE QUANTILE SUMMARY (Agarwal et al., "Mergeable Summaries",
    # PODS 2012): GK is not fully mergeable and KLL's compactions are
    # randomized, so the deterministic choice is the paper's uniform-sample
    # summary under a fixed hash order -- per type the k=256 (id, cents) rows
    # with the lowest seeded md5(id).  Bottom-k of a union of bottom-ks ==
    # bottom-k of the union, so epoch states merge exactly and a replayed row
    # is absorbed; state is types x k rows, domain-independent (unlike
    # stream_hist_merge's bins).  FINALIZE: rank-pick decile estimates, then
    # the exact rank of each estimate (one broadcast pass over the raw
    # relation) gated by DKW at delta=0.01: err^2 * 2k <= ln(200), held as
    # the frozen integer micro-nat literal 5298317 so the gate is pure int64
    # on both engines.
    from kcl_akka_stream_spark.operators.sampling import hash_bottom_k

    k, n_dec = 256, 9
    ev = tbl(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    )
    states = _fold_epochs(
        spark,
        ev,
        lambda b, _epoch: hash_bottom_k(b, "event_type", "event_id", k, seed="qsk"),
        "stream_quantile_merge",
    )
    # merge = the same bottom-k selection over the unioned states
    # (min-union semilattice; replayed ids dedup inside the operator)
    merged = hash_bottom_k(states, "event_type", "event_id", k, seed="qsk")
    wr = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wt = Window.partitionBy("event_type")
    sr = merged.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("k_s"),
    )
    dec = spark.range(1, n_dec + 1).select(
        F.col("id").cast("int").alias("decile")
    )
    est = (
        sr.crossJoin(F.broadcast(dec))
        .groupBy("event_type", "decile")
        .agg(
            F.min(
                F.when(
                    10 * F.col("rn") >= F.col("decile") * F.col("k_s"),
                    F.col("cents"),
                )
            )
            .cast("long")
            .alias("est_cents"),
            F.max("k_s").cast("long").alias("k_s"),
        )
        .localCheckpoint(eager=True)  # 45 rows; feeds BOTH rank passes
    )
    s_le = (
        merged.join(F.broadcast(est), "event_type")
        .groupBy("event_type", "decile")
        .agg(
            F.sum(
                (F.col("cents") <= F.col("est_cents")).cast("long")
            ).alias("s_le")
        )
    )
    exact = (
        ev.join(F.broadcast(est), "event_type")
        .groupBy("event_type", "decile")
        .agg(
            F.sum(
                (F.col("cents") <= F.col("est_cents")).cast("long")
            ).alias("cnt_le"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    out = (
        est.join(s_le, ["event_type", "decile"])
        .join(exact, ["event_type", "decile"])
        .select(
            "event_type",
            "decile",
            "est_cents",
            "k_s",
            "n",
            F.expr("1000000 * s_le div k_s").alias("sample_rank_ppm"),
            F.expr("1000000 * cnt_le div n").alias("exact_rank_ppm"),
            F.expr(
                "abs(1000000 * cnt_le div n - 1000000 * s_le div k_s)"
            ).alias("err_ppm"),
            F.expr(
                "case when abs(1000000 * cnt_le div n"
                "              - 1000000 * s_le div k_s)"
                "          * abs(1000000 * cnt_le div n"
                "                - 1000000 * s_le div k_s)"
                "          * 2 * k_s <= 5298317000000"
                " then 1 else 0 end"
            ).alias("within_dkw"),
        )
        .orderBy("event_type", "decile")
    )
    return out


def _hll_merge_oracle() -> str:
    from kcl_akka_stream_spark.queries.registry import ORACLES

    return ORACLES["agg_hll_estimate"]


@query("stream_hll_merge", _hll_merge_oracle())
def stream_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SAME oracle as agg_hll_estimate: HyperLogLog registers form a
    # JOIN-SEMILATTICE under per-register MAX, so the state store's max
    # merges the epochs into exactly the whole-stream registers and a
    # replay is absorbed.  CONSTANT state: types x 64 registers.
    from kcl_akka_stream_spark.operators.sketches import hll_registers

    ev = tbl(spark, sf_dir, "events").select("event_type", "user_id")
    registers = _aggregate_epochs(
        spark,
        ev,
        lambda s: hll_registers(s, "event_type", "user_id"),
        "stream_hll_merge",
    )
    return _hll_finalize(ev, registers)


def _f2_merge_oracle() -> str:
    from kcl_akka_stream_spark.queries.registry import ORACLES

    return ORACLES["agg_f2_sketch"]


@query("stream_f2_merge", _f2_merge_oracle())
def stream_f2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SAME oracle as agg_f2_sketch: the AMS signed sums are ADDITIVE, so
    # the state store's column-wise sum merges the epochs into exactly the
    # whole-stream sketch -- a self-join-size monitor at types x b=64
    # int64s of state.  Not idempotent: exactly-once batch semantics, like
    # every sum family.
    from kcl_akka_stream_spark.operators.sketches import f2_sketch_state

    ev = tbl(spark, sf_dir, "events").select("event_type", "user_id")
    sums = _aggregate_epochs(
        spark,
        ev,
        lambda s: f2_sketch_state(s, "event_type", "user_id"),
        "stream_f2_merge",
    )
    return _f2_finalize(ev, sums)
