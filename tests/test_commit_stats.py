"""Commit-cadence (C3/C4) and ConsumerStats (§2.10) tests."""

from __future__ import annotations

import os
import tempfile

import pytest

from kcl_akka_stream_spark.config import ConsumerConfig, ShardCheckpointConfig
from kcl_akka_stream_spark.streaming.commit import (
    CommitTracker,
    committing_foreach_batch,
    read_commits,
)
from kcl_akka_stream_spark.streaming.stats import (
    ConsumerStats,
    NoopConsumerStats,
    RecordingStats,
    get_instance,
)


def test_count_trigger_fires_at_threshold():
    # ShardCheckpointTrackerTest.scala:26-33.
    t = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=1e9,
                                            checkpoint_after_processing_nr_of_records=100))
    assert not t.observe(40, now=0.0)
    assert t.observe(60, now=0.0)  # cumulative 100
    t.commit(0, 100, now=0.0)
    assert not t.observe(99, now=0.0)


def test_period_trigger_fires_after_elapsed():
    # ShardCheckpointTrackerTest.scala:35-41.
    t = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=60,
                                            checkpoint_after_processing_nr_of_records=10**9))
    t._last_commit_at = 0.0
    assert not t.observe(1, now=30.0)
    assert t.observe(1, now=61.0)


def test_at_least_once_commits_after_processing(spark):
    processed = []
    t = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=1e9,
                                            checkpoint_after_processing_nr_of_records=1))
    with tempfile.TemporaryDirectory() as d:
        cb = committing_foreach_batch(lambda df, e: processed.append(e), t, d)
        df = spark.range(5)
        cb(df, 0)
        cb(df, 1)
        commits = read_commits(d)
        assert processed == [0, 1]
        assert [c["epoch_id"] for c in commits] == [0, 1]
        # process ran no action over the batch: one count supplies n
        assert [c["n_records"] for c in commits] == [5, 5]
        # one action: n is the rows it read, not the rows it returned
        returned = []
        cb = committing_foreach_batch(
            lambda df, e: returned.extend(df.filter("id < 2").collect()), t, d
        )
        cb(df, 2)
        assert len(returned) == 2
        assert read_commits(d)[-1]["n_records"] == 5


def test_at_least_once_no_commit_on_failure(spark):
    # C4 failure semantics: the commit point is only recorded after the
    # user callback succeeds (checkpoint-after-processing, README.md:22-58).
    t = CommitTracker(ShardCheckpointConfig(checkpoint_after_processing_nr_of_records=1))

    def boom(df, e):
        raise RuntimeError("processing failed")

    with tempfile.TemporaryDirectory() as d:
        cb = committing_foreach_batch(boom, t, d)
        with pytest.raises(RuntimeError):
            cb(spark.range(3), 0)
        assert read_commits(d) == []


def test_no_guarantees_commits_before_processing(spark):
    # mark-before-process (README.md:61-95): commit recorded even though
    # processing then fails.
    t = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=1e9,
                                            checkpoint_after_processing_nr_of_records=1))

    def boom(df, e):
        raise RuntimeError("processing failed")

    with tempfile.TemporaryDirectory() as d:
        cb = committing_foreach_batch(boom, t, d, mode="no-guarantees")
        with pytest.raises(RuntimeError):
            cb(spark.range(3), 0)
        assert [c["epoch_id"] for c in read_commits(d)] == [0]


def test_no_guarantees_respects_cadence(spark):
    # "What's wrong" r2 #6: the reference applies the SAME C3 cadence in
    # both sink modes -- only the ack/process ordering differs.  Below the
    # count threshold, no-guarantees must NOT write a commit every batch.
    t = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=1e9,
                                            checkpoint_after_processing_nr_of_records=10))
    with tempfile.TemporaryDirectory() as d:
        cb = committing_foreach_batch(lambda df, e: None, t, d, mode="no-guarantees")
        cb(spark.range(3), 0)  # 3 < 10: below cadence
        assert read_commits(d) == []
        cb(spark.range(8), 1)  # cumulative 11 >= 10: fires
        assert [c["epoch_id"] for c in read_commits(d)] == [1]


def test_config_parsing_and_reader_options():
    conf = ConsumerConfig.from_dict(
        {
            "stream-name": "s",
            "application-name": "app",
            "initial-position": "at-timestamp",
            "at-timestamp": "2024-06-01T00:00:00",
            "max-records-per-fetch": 500,
            "shard-checkpoint-config": {
                "checkpoint-period": 2,
                "checkpoint-after-processing-nr-of-records": 200,
                "max-wait-for-completion-on-stream-shutdown": 1,
            },
        }
    )
    opts = conf.reader_options()
    assert opts["streamName"] == "s"
    assert opts["maxFetchRecordsPerShard"] == "500"
    assert opts["startingPosition"].startswith("2024-06-01")
    assert conf.checkpoint.checkpoint_after_processing_nr_of_records == 200


def test_config_rejects_bad_position():
    with pytest.raises(ValueError):
        ConsumerConfig(stream_name="s", application_name="a", initial_position="nonsense")
    with pytest.raises(ValueError):
        ConsumerConfig(stream_name="s", application_name="a", initial_position="at-timestamp")


def test_stats_reflection_loading_and_fallback():
    # ConsumerStats.scala:33-42: config-string reflection; any failure ->
    # noop, never a crash.
    inst = get_instance("kcl_akka_stream_spark.streaming.stats.RecordingStats")
    assert isinstance(inst, RecordingStats)
    assert isinstance(get_instance("no.such.module.Cls"), NoopConsumerStats)
    assert isinstance(get_instance("os.path.join"), NoopConsumerStats)  # not a ConsumerStats
    assert isinstance(get_instance(None), NoopConsumerStats)


def test_recording_stats():
    s = RecordingStats()
    s.track_batch("shard-1", 10)
    s.track_batch("shard-1", 5)
    s.checkpoint_acked("shard-1")
    assert s.records["shard-1"] == 15
    assert s.batches["shard-1"] == 2
    assert s.checkpoints["shard-1"] == 1


def test_stats_query_listener_bridges_progress(spark, tmp_path):
    import time
    import uuid

    from kcl_akka_stream_spark.streaming.stats import RecordingStats, StatsQueryListener

    stats = RecordingStats()
    listener = StatsQueryListener(stats)
    spark.streams.addListener(listener)
    try:
        src = str(tmp_path / "listener_src")
        spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        name = f"t_listener_{uuid.uuid4().hex[:8]}"
        q = (
            spark.readStream.schema("id long, v long")
            .parquet(src)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # listener events are delivered asynchronously
        deadline = time.time() + 30
        while time.time() < deadline and not (stats.started and stats.batches and stats.ended):
            time.sleep(0.2)
        assert stats.started, "onQueryStarted not bridged"
        assert sum(stats.records.values()) == 100, dict(stats.records)
        assert stats.ended, "onQueryTerminated not bridged"
    finally:
        spark.streams.removeListener(listener)


def test_commit_error_taxonomy():
    from kcl_akka_stream_spark.streaming.commit import (
        CommitAbort,
        CommitShutdownRace,
        CommitThrottled,
        CommitTracker,
        classify_commit_error,
        commit_with_taxonomy,
    )

    # type-first, mirroring the reference's catch clauses
    # (RecordProcessorImpl.scala:229-241)
    assert classify_commit_error(CommitShutdownRace("lease gone")) == "ignore"
    assert classify_commit_error(InterruptedError()) == "ignore"
    assert classify_commit_error(CommitThrottled("slow down")) == "retry"
    assert classify_commit_error(TimeoutError("timed out")) == "retry"
    assert classify_commit_error(ConnectionResetError("peer reset")) == "retry"
    # known connector signatures (full java class names in py4j messages)
    assert (
        classify_commit_error(
            RuntimeError("software.amazon.kinesis.exceptions.ShutdownException: raced")
        )
        == "ignore"
    )
    assert classify_commit_error(RuntimeError("Rate exceeded for shard")) == "retry"
    assert (
        classify_commit_error(RuntimeError("ProvisionedThroughputExceededException: x"))
        == "retry"
    )
    # misclassification guard: generic words inside unrelated exceptions
    # must NOT downgrade an abort
    assert classify_commit_error(ValueError("user timeout parsing")) == "abort"
    assert classify_commit_error(RuntimeError("writer stopped unexpectedly")) == "abort"
    assert classify_commit_error(ValueError("schema mismatch")) == "abort"

    t = CommitTracker()

    def ok(entry):
        pass

    def throttled(entry):
        raise RuntimeError("ProvisionedThroughputExceededException: slow down")

    def broken(entry):
        raise ValueError("disk corrupt")

    assert commit_with_taxonomy(t, 1, 10, ok) == "committed"
    assert commit_with_taxonomy(t, 2, 10, throttled) == "retry"
    with pytest.raises(CommitAbort):
        commit_with_taxonomy(t, 3, 10, broken)


def test_commit_retry_keeps_pending_point():
    # ShardCheckpointTrackerTest.scala:98-118: a failing commit attempt
    # rethrows/retries, but the commit POINT is kept -- the next attempt
    # (with no new progress) re-commits the same point.
    from kcl_akka_stream_spark.streaming.commit import CommitTracker, commit_with_taxonomy

    t = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=1e9,
                                            checkpoint_after_processing_nr_of_records=2))
    seen = []

    def throttled(entry):
        seen.append(entry["epoch_id"])
        raise RuntimeError("Rate exceeded")

    def ok(entry):
        seen.append(entry["epoch_id"])

    assert commit_with_taxonomy(t, 7, 2, throttled) == "retry"
    assert t.commits == []  # nothing recorded
    assert t.pending == {"epoch_id": 7, "n_records": 2}  # point kept
    # re-attempt with NO new progress: same point re-committed (T:113-117)
    assert commit_with_taxonomy(t, write=ok) == "committed"
    assert seen == [7, 7]
    assert [c["epoch_id"] for c in t.commits] == [7]
    assert t.pending is None
    # nothing pending -> "do nothing if no processed records" (T:45-55)
    assert commit_with_taxonomy(t, write=ok) == "nothing"


def test_commit_failure_clears_triggers_but_keeps_point():
    # ShardCheckpointTrackerTest.scala:83-96: the failing attempt still
    # clears the checkpoint triggers (the reference's `finally`), so
    # shouldCheckpoint flips back to false until new records accumulate.
    from kcl_akka_stream_spark.streaming.commit import CommitTracker, commit_with_taxonomy

    t = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=1e9,
                                            checkpoint_after_processing_nr_of_records=2))
    assert t.observe(2, now=0.0)  # trigger armed

    def throttled(entry):
        raise RuntimeError("Rate exceeded")

    assert commit_with_taxonomy(t, 0, 2, throttled) == "retry"
    assert not t.observe(1, now=0.0)  # triggers cleared by the failed attempt
    assert t.pending is not None  # but the point survives


def test_one_source_scan_per_epoch(spark):
    # The cadence's count rides process's own action (an Observation on
    # the batch), so the lineage runs once per epoch with no cache and no
    # second action.  Witness: an accumulator inside the lineage.
    t = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=1e9,
                                            checkpoint_after_processing_nr_of_records=1))
    acc = spark.sparkContext.accumulator(0)

    def bump(it):
        for i in it:
            acc.add(1)
            yield (i,)

    rdd = spark.sparkContext.parallelize(range(100), 4).mapPartitions(bump)
    # explicit schema: no driver-side sampling, so the accumulator counts
    # exactly the executor-side scans
    df = spark.createDataFrame(rdd, schema="id long")
    processed = []
    with tempfile.TemporaryDirectory() as d:
        cb = committing_foreach_batch(lambda b, e: processed.append(b.count()), t, d)
        cb(df, 0)
    assert processed == [100]
    assert acc.value == 100  # one scan, not 200


def test_count_waits_for_the_observation_of_process_action(spark, tmp_path):
    # Spark completes an Observation from a listener event after the action
    # returns; read too early, it looks as if process ran no action, and the
    # batch is counted by a second job (1 of 30 calls without the wait).
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    t = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=1e9,
                                            checkpoint_after_processing_nr_of_records=1))
    cb = committing_foreach_batch(lambda b, e: b.collect(), t, str(tmp_path))
    df = spark.range(100)
    jobs = []
    for epoch in range(30):
        j0 = dag.nextJobId()
        cb(df, epoch)
        jobs.append(dag.nextJobId() - j0)
    assert jobs == [1] * 30
    assert [c["n_records"] for c in t.commits] == [100] * 30


def _file_stream(spark, src, n_files):
    """A real file stream of ``n_files`` 10-row files, one file per trigger."""
    for i in range(n_files):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(src)
    return spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src)


def test_live_stream_survives_throttled_commit_writes(spark, tmp_path, monkeypatch):
    # SURVEY §5.2 scenario 5 on the live path: the checkpoint store
    # throttles, the reference retries (RecordProcessorImpl.scala:229-241)
    # and keeps consuming; a later commit lands the newer point.
    from kcl_akka_stream_spark.streaming import commit as C

    calls = []
    write = C._write_commit

    def throttled_twice(commit_dir, entry):
        calls.append(entry["epoch_id"])
        if len(calls) <= 2:
            raise C.CommitThrottled("slow down")
        write(commit_dir, entry)

    monkeypatch.setattr(C, "_write_commit", throttled_twice)
    t = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=1e9,
                                            checkpoint_after_processing_nr_of_records=1))
    processed = []
    commit_dir = str(tmp_path / "commits")
    cb = committing_foreach_batch(lambda b, e: processed.append(b.count()), t, commit_dir)
    q = _file_stream(spark, str(tmp_path / "src"), 4).writeStream.foreachBatch(cb).start()
    try:
        q.processAllAvailable()
        assert q.isActive
    finally:
        q.stop()
    assert processed == [10, 10, 10, 10]
    assert calls == [0, 1, 2, 3]
    assert [c["epoch_id"] for c in read_commits(commit_dir)] == [2, 3]
    assert t.commits[-1]["epoch_id"] == 3 and t.pending is None


def test_live_stream_aborts_on_unclassified_commit_error(spark, tmp_path, monkeypatch):
    # Anything outside the throttle/shutdown taxonomy is the reference's
    # kill switch: the query fails with CommitAbort, caused by the write's
    # own error.
    from pyspark.errors import StreamingQueryException

    from kcl_akka_stream_spark.streaming import commit as C

    def corrupt(commit_dir, entry):
        raise ValueError("disk corrupt")

    monkeypatch.setattr(C, "_write_commit", corrupt)
    t = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=1e9,
                                            checkpoint_after_processing_nr_of_records=1))
    cb = committing_foreach_batch(lambda b, e: None, t, str(tmp_path / "commits"))
    q = _file_stream(spark, str(tmp_path / "src"), 1).writeStream.foreachBatch(cb).start()
    try:
        with pytest.raises(StreamingQueryException) as err:
            q.processAllAvailable()
    finally:
        q.stop()
    msg = str(err.value)
    assert "ValueError: disk corrupt" in msg
    assert "direct cause" in msg
    assert "CommitAbort: disk corrupt" in msg
    assert t.commits == [] and t.pending == {"epoch_id": 0, "n_records": 10}


def _ack_stream(spark, src, n_files):
    """A tracker input stream of ``n_files`` files, one per trigger: 3
    shards, 10 new seqs per shard per file, seq 3 of every shard never
    acked.  Written with pandas, so the stream runs every Spark job."""
    import pandas as pd

    src.mkdir()
    for i in range(n_files):
        seqs = list(range(i * 10, i * 10 + 10))
        pd.DataFrame(
            {
                "shard_id": [s for s in range(3) for _ in seqs],
                "seq": seqs * 3,
                "processed": [q != 3 for q in seqs] * 3,
            }
        ).to_parquet(src / f"f{i}.parquet", index=False)
    return (
        spark.readStream.schema("shard_id long, seq long, processed boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )


def _drain_tracker(spark, tmp_path, n_files, callback):
    from kcl_akka_stream_spark.streaming.tracker import streaming_checkpoint_frontier

    q = (
        streaming_checkpoint_frontier(_ack_stream(spark, tmp_path / "src", n_files))
        .writeStream.foreachBatch(callback)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def test_tracker_commit_path_runs_one_job_per_trigger(spark, tmp_path):
    # source -> tracker -> commit: the cadence's count rides process's own
    # collect, so a trigger runs one Spark job (a cache and a separate
    # count made it two).
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    t = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=1e9,
                                            checkpoint_after_processing_nr_of_records=1))
    cb = committing_foreach_batch(lambda b, e: b.collect(), t, str(tmp_path / "commits"))
    jobs = []

    def counted(batch_df, epoch_id):
        j0 = dag.nextJobId()
        cb(batch_df, epoch_id)
        jobs.append(dag.nextJobId() - j0)

    _drain_tracker(spark, tmp_path, 3, counted)
    assert jobs == [1, 1, 1]
    # one tracker row per shard per trigger
    assert [c["n_records"] for c in t.commits] == [3, 3, 3]


def test_listener_reports_the_tracker_gauges(spark, tmp_path):
    # The tracker's in-flight and processed-but-uncheckpointed gauges
    # (RecordProcessorImpl.scala:244-250) reach ConsumerStats through the
    # tracker's observed metrics, summed over the trigger's shards.
    import time

    from kcl_akka_stream_spark.streaming.stats import StatsQueryListener

    stats = RecordingStats()
    listener = StatsQueryListener(stats)
    t = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=1e9,
                                            checkpoint_after_processing_nr_of_records=1))
    emitted = []
    cb = committing_foreach_batch(
        lambda b, e: emitted.append(b.collect()), t, str(tmp_path / "commits")
    )
    spark.streams.addListener(listener)
    try:
        q = _drain_tracker(spark, tmp_path, 3, cb)
        # listener events arrive asynchronously, termination last
        deadline = time.time() + 30
        while time.time() < deadline and not stats.ended:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert stats.ended, "onQueryTerminated not bridged"
    last = emitted[-1]
    qid = str(q.id)
    # per shard: seq 3 in flight, seqs 4..29 processed behind it
    assert stats.in_flight[qid] == sum(r.in_flight_count for r in last) == 3
    assert stats.uncheckpointed[qid] == sum(r.processed_uncheckpointed_count for r in last) == 78
