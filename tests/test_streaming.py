"""Streaming scenario tests -- Spark-native ports of the reference's
integration scenarios (IT/KinesisSourceTest.scala, SURVEY §5.2):

1. single consumer: received == sent, per key, in order (:52-68);
2. replay after restart-from-checkpoint: duplicates appear only as a
   contiguous replay, and dedupAndGroupByKey(received) == groupByKey(sent)
   (:70-99 -- the 'broken consumer' scenario, here induced by deleting the
   last epoch commit so Spark re-delivers the uncommitted batch).
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from kcl_akka_stream_spark.envelope import ENVELOPE_SCHEMA
from kcl_akka_stream_spark.operators.replay import remove_reprocessed
from kcl_akka_stream_spark.streaming.pipeline import (
    dedup_within_watermark,
    envelope_file_stream,
    session_windows,
    start_to_memory,
    with_event_time_windows,
)

KEYS = [f"key_{i:03d}" for i in range(5)]
MSGS_PER_KEY = 20
CHUNKS = 4


def _make_envelope_rows(chunk: int):
    """Chunk c carries messages [c*5, (c+1)*5) for every key, in seq order."""
    rows = []
    per_chunk = MSGS_PER_KEY // CHUNKS
    base = datetime.datetime(2024, 1, 1)
    for m in range(chunk * per_chunk, (chunk + 1) * per_chunk):
        for k_i, key in enumerate(KEYS):
            seq = m * len(KEYS) + k_i
            rows.append(
                (
                    f"msg_{m:03d}".encode(),
                    key,
                    None,
                    str(seq).zfill(6),
                    0,
                    base + datetime.timedelta(seconds=seq),
                    None,
                )
            )
    return rows


@pytest.fixture()
def stream_dir(spark):
    d = tempfile.mkdtemp(prefix="kcl_stream_src_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_chunk(spark, directory: str, chunk: int) -> None:
    df = spark.createDataFrame(_make_envelope_rows(chunk), ENVELOPE_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(directory)


def _sent_per_key():
    return {k: [f"msg_{m:03d}" for m in range(MSGS_PER_KEY)] for k in KEYS}


def test_single_consumer_receives_all_in_order(spark, stream_dir):
    # Scenario 1 (:52-68): everything sent arrives, per key, in order.
    for c in range(CHUNKS):
        _write_chunk(spark, stream_dir, c)
    name = f"t_single_{uuid.uuid4().hex[:8]}"
    q = start_to_memory(envelope_file_stream(spark, stream_dir), name)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    received = (
        spark.table(name)
        .select("partitionKey", F.decode("data", "UTF-8").alias("msg"), "sequenceNumber")
        .collect()
    )
    per_key: dict[str, list[tuple[str, str]]] = {}
    for r in received:
        per_key.setdefault(r.partitionKey, []).append((r.sequenceNumber, r.msg))
    got = {k: [m for _, m in sorted(v)] for k, v in per_key.items()}
    assert got == _sent_per_key()


def test_restart_replay_is_contiguous_and_dedups_to_sent(spark, stream_dir):
    # Scenario 2 (:70-99): kill the consumer after an uncommitted epoch; the
    # restarted consumer replays exactly that epoch.  The strict replay-dedup
    # acceptance operator must (a) accept the received sequence and (b)
    # recover the original per-key messages.
    ckpt = tempfile.mkdtemp(prefix="kcl_stream_ckpt_")
    captured: list[tuple[str, str, str]] = []  # (key, msg, seq) in arrival order

    def sink(batch_df, epoch_id):
        rows = batch_df.select(
            "partitionKey", F.decode("data", "UTF-8").alias("msg"), "sequenceNumber"
        ).collect()
        for r in sorted(rows, key=lambda r: r.sequenceNumber):
            captured.append((r.partitionKey, r.msg, r.sequenceNumber))

    def run_query():
        stream = envelope_file_stream(spark, stream_dir, max_files_per_trigger=1)
        return (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    try:
        for c in range(CHUNKS):
            _write_chunk(spark, stream_dir, c)
        q = run_query()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(60)
        n_first_run = len(captured)
        assert n_first_run == MSGS_PER_KEY * len(KEYS)

        # Simulate the crash-before-checkpoint: drop the newest epoch commit
        # (the lease-lost path -- RecordProcessorImpl.scala:129-137: stop
        # without checkpointing; successor replays from the last checkpoint).
        commits_dir = os.path.join(ckpt, "commits")
        commits = sorted(os.listdir(commits_dir))
        last = [c for c in commits if not c.startswith(".")][-1]
        os.remove(os.path.join(commits_dir, last))
        crc = os.path.join(commits_dir, f".{last}.crc")
        if os.path.exists(crc):  # hadoop ChecksumFs sidecar
            os.remove(crc)

        q2 = run_query()
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
            q2.awaitTermination(60)

        assert len(captured) > n_first_run, "restart must replay the uncommitted epoch"

        # Validate via the reference's acceptance oracle: replay must be a
        # contiguous re-delivery; stripped result == sent.
        received_df = spark.createDataFrame(
            [(k, m, i) for i, (k, m, _) in enumerate(captured)],
            "key string, msg string, arrival long",
        )
        deduped = remove_reprocessed(received_df, "key", "msg", "arrival")
        got: dict[str, list[str]] = {}
        for r in sorted(deduped.collect(), key=lambda r: (r.key, r.position)):
            got.setdefault(r.key, []).append(r.msg)
        assert got == _sent_per_key()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _ack_envelopes(chunk: int, shards: int = 4):
    """Chunk c of a tracker feed: per shard seqs [5c, 5c + 5), seq 5c + 2
    still pending, plus the ack of the previous chunk's pending seq."""
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for s in range(shards):
        acked = [(q, q != chunk * 5 + 2) for q in range(chunk * 5, chunk * 5 + 5)]
        if chunk:
            acked.append((chunk * 5 - 3, True))
        for q, done in acked:
            data = b"done" if done else b"pending"
            rows.append((data, str(s), None, str(q), 0, base + datetime.timedelta(seconds=q), None))
    return rows


def test_tracker_commit_kill_and_resume_replays_from_checkpoint(spark, tmp_path):
    # The D-Streams recovery model on the paper's path, envelope source ->
    # tracker -> commit: crash after a trigger's work but before Spark
    # commits it (its commit file deleted), resume from the checkpoint.
    # The resumed query recomputes that trigger from the restored tracker
    # state, so per shard the emissions are a contiguous replay, the
    # frontier never goes down, and the external commit log never goes
    # back past the replayed epoch.
    from kcl_akka_stream_spark.config import ShardCheckpointConfig
    from kcl_akka_stream_spark.streaming.commit import (
        CommitTracker,
        committing_foreach_batch,
        read_commits,
    )
    from kcl_akka_stream_spark.streaming.tracker import streaming_checkpoint_frontier

    src, ckpt, commit_dir = (str(tmp_path / d) for d in ("src", "ckpt", "commits"))
    emitted = []  # tracker rows in arrival order, across both runs
    trackers = []

    def write(chunk):
        spark.createDataFrame(_ack_envelopes(chunk), ENVELOPE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        acks = envelope_file_stream(spark, src, max_files_per_trigger=1).select(
            F.col("partitionKey").cast("long").alias("shard_id"),
            F.col("sequenceNumber").cast("long").alias("seq"),
            (F.col("data") != F.lit(b"pending")).alias("processed"),
        )
        tracker = CommitTracker(ShardCheckpointConfig(checkpoint_period_seconds=1e9,
                                                      checkpoint_after_processing_nr_of_records=1))
        trackers.append(tracker)
        cb = committing_foreach_batch(lambda b, e: emitted.extend(b.collect()), tracker, commit_dir)
        q = (
            streaming_checkpoint_frontier(acks)
            .writeStream.foreachBatch(cb)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    for c in range(3):
        write(c)
    run()
    commits_dir = os.path.join(ckpt, "commits")
    assert sorted(f for f in os.listdir(commits_dir) if not f.startswith(".")) == ["0", "1", "2"]
    os.remove(os.path.join(commits_dir, "2"))
    crc = os.path.join(commits_dir, ".2.crc")
    if os.path.exists(crc):  # hadoop ChecksumFs sidecar
        os.remove(crc)
    write(3)
    run()

    epochs = [c["epoch_id"] for t in trackers for c in t.commits]
    assert epochs == [0, 1, 2, 2, 3]  # epoch 2 replayed, never earlier
    assert [c["epoch_id"] for c in read_commits(commit_dir)] == [0, 1, 2, 3]
    per_shard = {}
    for r in emitted:
        per_shard.setdefault(r.shard_id, []).append((r.update_id, r.frontier_seq))
    assert sorted(per_shard) == [0, 1, 2, 3]
    for shard, seen in per_shard.items():
        frontiers = [f for _, f in seen]
        assert frontiers == sorted(frontiers), (shard, seen)
        assert seen == [(1, 1), (2, 6), (3, 11), (3, 11), (4, 16)], (shard, seen)
    received = spark.createDataFrame(
        [(r.shard_id, f"{r.update_id}:{r.frontier_seq}", i) for i, r in enumerate(emitted)],
        "shard long, msg string, arrival long",
    )
    kept = remove_reprocessed(received, "shard", "msg", "arrival").collect()
    got = {}
    for r in sorted(kept, key=lambda r: (r.shard, r.position)):
        got.setdefault(r.shard, []).append(r.msg)
    assert got == {str(s): ["1:1", "2:6", "3:11", "4:16"] for s in range(4)}


def test_windowed_aggregation(spark, stream_dir):
    for c in range(CHUNKS):
        _write_chunk(spark, stream_dir, c)
    name = f"t_win_{uuid.uuid4().hex[:8]}"
    agg = with_event_time_windows(
        envelope_file_stream(spark, stream_dir), window_duration="1 minute", watermark="1 minute"
    )
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name).collect()
    # 100 seqs at 1/sec -> windows of 60s; every key appears in each window.
    assert sum(r.n_records for r in out) == MSGS_PER_KEY * len(KEYS)
    assert {r.partitionKey for r in out} == set(KEYS)


def test_session_window_single_session(spark, stream_dir):
    _write_chunk(spark, stream_dir, 0)
    name = f"t_sess_{uuid.uuid4().hex[:8]}"
    agg = session_windows(envelope_file_stream(spark, stream_dir), gap="10 minutes", watermark="1 minute")
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name).collect()
    # All seqs inside one 10-minute gap -> exactly one session per key.
    assert len(out) == len(KEYS)


def test_stream_dedup_within_watermark(spark, stream_dir):
    # Write the same chunk twice -- a full replay; dedup must emit once.
    _write_chunk(spark, stream_dir, 0)
    _write_chunk(spark, stream_dir, 0)
    name = f"t_dedup_{uuid.uuid4().hex[:8]}"
    deduped = dedup_within_watermark(envelope_file_stream(spark, stream_dir))
    q = start_to_memory(deduped, name)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n = spark.table(name).count()
    assert n == len(_make_envelope_rows(0))


def test_stateful_tracker_gap_blocks_frontier(spark, tmp_path):
    # ShardCheckpointTrackerTest.scala:70-81 as a streaming stateful op:
    # acks for seqs 0,1,3 -> frontier stops at 1; seq 2 blocks.
    import uuid as _uuid

    from pyspark.sql import functions as F

    from kcl_akka_stream_spark.streaming.tracker import streaming_checkpoint_frontier

    rows = [(7, 0, True), (7, 1, True), (7, 2, False), (7, 3, True)]
    df = spark.createDataFrame(rows, "shard_id long, seq long, processed boolean")
    src = str(tmp_path / "ckpt_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    name = f"t_tracker_{_uuid.uuid4().hex[:8]}"
    q = (
        streaming_checkpoint_frontier(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name).orderBy(F.col("update_id").desc()).collect()
    last = out[0]
    assert last.frontier_seq == 1
    assert last.processed_uncheckpointed_count == 1  # seq 3 behind the gap
    assert last.in_flight_count == 1  # seq 2 never acked


def test_reshard_repartitioned_replay_dedups_to_sent(spark, stream_dir):
    # Scenario 4 equivalent (IT/KinesisSourceTest.scala:182-228, reshard
    # 4->8 / 4->2): the SURVEY §2.9 mapping is "repartitioned replay" --
    # the shard layout changes mid-stream (each chunk written with a
    # different partition layout, keys hash-routed), the consumer restarts
    # from its checkpoint across the layout change, and the replay-dedup
    # acceptance oracle must still recover exactly the sent messages.
    ckpt = tempfile.mkdtemp(prefix="kcl_reshard_ckpt_")
    captured: list[tuple[str, str, int]] = []

    def sink(batch_df, epoch_id):
        for r in batch_df.select(
            "partitionKey", F.decode("data", "UTF-8").alias("msg"), "sequenceNumber"
        ).collect():
            captured.append((r.partitionKey, r.msg, int(r.sequenceNumber)))

    def write(chunk, n_parts):
        df = spark.createDataFrame(_make_envelope_rows(chunk), ENVELOPE_SCHEMA)
        df.repartition(n_parts, "partitionKey").sortWithinPartitions(
            "sequenceNumber"
        ).write.mode("append").parquet(stream_dir)

    def run():
        stream = envelope_file_stream(spark, stream_dir)
        return (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    try:
        write(0, 4)
        write(1, 4)
        q = run()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(60)

        write(2, 8)  # reshard up
        write(3, 2)  # reshard down
        q = run()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(60)

        received = spark.createDataFrame(
            captured, "partitionKey string, msg string, seq long"
        )
        # acceptance oracle: throws on reordering / non-replay duplication
        out = remove_reprocessed(
            received, key_col="partitionKey", msg_col="msg", order_col="seq"
        )
        got = {
            r.partitionKey: r.msgs
            for r in out.groupBy("partitionKey")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("position").alias("p"), F.col("msg").alias("v"))
                            )
                        ),
                        lambda s: s.getField("v"),
                    ),
                    ",",
                ).alias("msgs")
            )
            .collect()
        }
        assert got == {k: ",".join(v) for k, v in _sent_per_key().items()}
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_sparse_commit_cadence_loses_nothing(spark, stream_dir):
    # Scenario 5 essence (IT/KinesisSourceTest.scala:230-258, DynamoDB
    # throttled to 1 commit/s): commit points lag far behind processed
    # batches, yet everything sent is processed exactly once per run.
    from kcl_akka_stream_spark.config import ShardCheckpointConfig
    from kcl_akka_stream_spark.streaming.commit import CommitTracker, committing_foreach_batch, read_commits

    commit_dir = tempfile.mkdtemp(prefix="kcl_throttle_commits_")
    captured: list[str] = []

    def process(batch_df, epoch_id):
        captured.extend(r.partitionKey for r in batch_df.select("partitionKey").collect())

    try:
        for c in range(CHUNKS):
            _write_chunk(spark, stream_dir, c)
        tracker = CommitTracker(
            ShardCheckpointConfig(
                checkpoint_period_seconds=3600,  # time trigger effectively off
                checkpoint_after_processing_nr_of_records=75,  # 3 of 4 batches uncommitted
            )
        )
        cb = committing_foreach_batch(process, tracker, commit_dir)
        q = (
            envelope_file_stream(spark, stream_dir, max_files_per_trigger=1)
            .writeStream.foreachBatch(cb)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        commits = read_commits(commit_dir)
        # 4 batches x 25 records; commits fire at >=75 records -> exactly 1
        assert len(commits) == 1
        assert len(captured) == MSGS_PER_KEY * len(KEYS)  # nothing lost
    finally:
        shutil.rmtree(commit_dir, ignore_errors=True)


def test_kinesis_adapter_raises_without_connector(spark):
    # S1/S2 seam: the reader builds with the mapped options and fails with
    # the engine's typed error when the connector jar is absent (this
    # container), telling callers to fall back to envelope_file_stream.
    import pytest as _pytest

    from kcl_akka_stream_spark.config import ConsumerConfig
    from kcl_akka_stream_spark.sources.kinesis import KinesisConnectorMissing, kinesis_stream

    cfg = ConsumerConfig(stream_name="s", application_name="app")
    with _pytest.raises(KinesisConnectorMissing):
        kinesis_stream(spark, cfg)


def test_two_consumers_disjoint_leases_union_to_sent(spark):
    # Scenario 3 equivalent (IT/KinesisSourceTest.scala:101-180, rebalance
    # 1->2 / 2->1): two consumers own disjoint shard subsets (here: each
    # reads its own lease directory, keys hash-split), their outputs are
    # disjoint (U4 set algebra, :261-271), and the union dedups to sent.
    from kcl_akka_stream_spark.operators.merges import except_all, intersect_all

    base = tempfile.mkdtemp(prefix="kcl_leases_")
    names = []
    try:
        for c in range(CHUNKS):
            df = spark.createDataFrame(_make_envelope_rows(c), ENVELOPE_SCHEMA)
            for lease in (0, 1):
                part = df.filter(F.abs(F.hash("partitionKey")) % 2 == lease)
                part.coalesce(1).write.mode("append").parquet(os.path.join(base, f"lease{lease}"))
        outs = []
        for lease in (0, 1):
            name = f"t_lease{lease}_{uuid.uuid4().hex[:8]}"
            names.append(name)
            q = start_to_memory(
                envelope_file_stream(spark, os.path.join(base, f"lease{lease}")), name
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            outs.append(
                spark.table(name).select(
                    "partitionKey", F.decode("data", "UTF-8").alias("msg"), "sequenceNumber"
                )
            )
        # disjoint work
        assert intersect_all(outs[0], outs[1]).count() == 0
        assert except_all(outs[0], outs[1]).count() == outs[0].count()
        # union == sent, per key, in order
        union = outs[0].unionByName(outs[1])
        per_key: dict[str, list[tuple[str, str]]] = {}
        for r in union.collect():
            per_key.setdefault(r.partitionKey, []).append((r.sequenceNumber, r.msg))
        got = {k: [m for _, m in sorted(v)] for k, v in per_key.items()}
        assert got == _sent_per_key()
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_batch_sessionize_matches_streaming_session_window(spark):
    # Cross-boundary invariant: the batch window-function sessionization
    # (operators/windows.py) and streaming session_window agree on session
    # counts per key for the same gap -- both compare at microsecond
    # precision.
    import uuid as _uuid

    from kcl_akka_stream_spark.operators.windows import sessionize
    from kcl_akka_stream_spark.sources.batch import load_table, stream_events

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    batch = (
        sessionize(ev, "user_id", "ts", 1800)
        .groupBy("user_id")
        .agg(F.max("session_id").alias("n"))
    )
    name = f"t_xsess_{_uuid.uuid4().hex[:8]}"
    agg = (
        stream_events(spark, sf)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got_batch = {r.user_id: r.n for r in batch.collect()}
    got_stream = {
        r.user_id: r.n
        for r in spark.table(name).groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got_batch == got_stream


def test_throttle_trigger_pacing(spark, stream_dir):
    # W4 -- the reference's `throttle` maps to admission control: with
    # maxFilesPerTrigger=1, the engine processes exactly one source file per
    # micro-batch (trigger-paced pull, SURVEY §2.7 W4 / §2.9 backpressure).
    n_batches = []

    def count_batches(batch_df, epoch_id):
        n_batches.append((epoch_id, batch_df.count()))

    for c in range(CHUNKS):
        _write_chunk(spark, stream_dir, c)
    q = (
        envelope_file_stream(spark, stream_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(count_batches)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(n_batches) == CHUNKS  # one batch per file: paced, not gulped
    per_chunk = MSGS_PER_KEY // CHUNKS * len(KEYS)
    assert all(n == per_chunk for _, n in n_batches)


def _advance_lists(frontier, seqs, procs, max_pending=None):
    """The tracker's ``_advance`` on one shard's plain lists: (frontier,
    kept seqs, kept procs, processed behind the gap, in flight, evicted)."""
    import numpy as np

    from kcl_akka_stream_spark.streaming.tracker import _advance

    f, _, behind, in_flight, evicted, seqs, procs = _advance(
        np.zeros(1, dtype=np.int64),
        np.array([frontier]),
        np.zeros(len(seqs), dtype=np.int64),
        np.array(seqs, dtype=np.int64),
        np.array(procs, dtype=bool),
        max_pending,
    )
    return int(f[0]), seqs.tolist(), procs.tolist(), int(behind[0]), int(in_flight[0]), int(evicted[0])


def _tracker_state(spark, ckpt):
    """The tracker's state store under ``ckpt`` decoded per shard:
    ``{shard: (bucket, frontier, kept seqs, evicted)}``."""
    import numpy as np

    out = {}
    rows = spark.read.format("statestore").load(ckpt).select("key.bucket", "value.groupState.*")
    for r in rows.collect():
        d = r.asDict()
        shards, frontiers, lens, seqs, evicted = (
            np.frombuffer(d[f], dtype="<i8")
            for f in ("shards", "frontiers", "lens", "seqs", "evicted")
        )
        windows = np.split(seqs, np.cumsum(lens)[:-1])
        for shard, frontier, window, n_evicted in zip(shards, frontiers, windows, evicted):
            out[int(shard)] = (d["bucket"], int(frontier), window.tolist(), n_evicted)
    return out


def test_tracker_state_compaction_unit():
    # popProcessedRecords semantics (RecordProcessorImpl.scala:73-78): after
    # each batch the retained state is the un-acked window (first unprocessed
    # record and everything above it), never the records-seen history.
    from kcl_akka_stream_spark.streaming.tracker import _NO_FRONTIER

    # batch 1: seqs 0-3 all processed -> everything evicted
    f, seqs, procs, behind, in_flight, _ = _advance_lists(_NO_FRONTIER, [0, 1, 2, 3], [True] * 4)
    assert (f, seqs, procs, behind, in_flight) == (3, [], [], 0, 0)

    # batch 2: gap at 4; 5,6 processed behind it -> window = [4,5,6]
    f, seqs, procs, behind, in_flight, _ = _advance_lists(f, seqs + [4, 5, 6], procs + [False, True, True])
    assert f == 3
    assert seqs == [4, 5, 6] and procs == [False, True, True]
    assert (behind, in_flight) == (2, 1)

    # batch 3: more processed above the gap -> window grows only by them
    f, seqs, procs, behind, in_flight, _ = _advance_lists(f, seqs + [7, 8], procs + [True, True])
    assert f == 3
    assert seqs == [4, 5, 6, 7, 8]  # bounded by the un-acked window (5), not 9 seen
    assert (behind, in_flight) == (4, 1)

    # the ack arrives for 4 (replayed row, now processed) -> window drains
    f, seqs, procs, behind, in_flight, _ = _advance_lists(f, seqs + [4], procs + [True])
    assert f == 8
    assert seqs == [] and procs == []
    assert (behind, in_flight) == (0, 0)


def test_tracker_state_bounded_across_microbatches(spark, tmp_path):
    # End-to-end: 3 micro-batches through applyInPandasWithState; the state
    # store must hold the un-acked window, not every record seen.  Verified
    # by reading the checkpoint's state store back (statestore reader).
    import uuid as _uuid

    from kcl_akka_stream_spark.streaming.tracker import streaming_checkpoint_frontier

    src = str(tmp_path / "compact_src")
    ckpt = str(tmp_path / "compact_ckpt")
    os.makedirs(src)
    schema = "shard_id long, seq long, processed boolean"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    name = f"t_compact_{_uuid.uuid4().hex[:8]}"
    write([(1, s, True) for s in range(4)])  # batch 1: clean prefix
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        streaming_checkpoint_frontier(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        write([(1, 4, False), (1, 5, True), (1, 6, True)])  # batch 2: gap at 4
        q.processAllAvailable()
        write([(1, s, True) for s in range(7, 10)])  # batch 3: more above the gap
        q.processAllAvailable()
    finally:
        q.stop()

    last = (
        spark.table(name)
        .orderBy(F.col("update_id").desc())
        .limit(1)
        .collect()[0]
    )
    assert last.frontier_seq == 3
    assert last.processed_uncheckpointed_count == 5  # 5,6,7,8,9 behind the gap
    assert last.in_flight_count == 1  # seq 4

    _, frontier, kept, _ = _tracker_state(spark, ckpt)[1]
    assert frontier == 3
    # un-acked window = {4,5,6,7,8,9}: 6 records kept, NOT the 10 seen
    assert kept == [4, 5, 6, 7, 8, 9]


def test_tracker_eviction_bound_unit():
    # _advance's max_pending bound: the poisoned-shard guard.  A never-acked
    # record pins its successors (the reference's documented leak,
    # README.md:104-108); with a bound, the oldest blocker is force-evicted,
    # the frontier advances over whatever it pinned, and the loss is counted.
    from kcl_akka_stream_spark.streaming.tracker import _NO_FRONTIER

    # poison at 2; 3..9 processed behind it -> window of 8
    f, seqs, procs, behind, in_flight, _ = _advance_lists(
        _NO_FRONTIER, list(range(10)), [True, True, False] + [True] * 7
    )
    assert f == 1 and len(seqs) == 8
    f, seqs, procs, behind, in_flight, evicted = _advance_lists(
        f, seqs, procs, max_pending=3
    )
    # evicting the single poison releases the whole pinned run
    assert (f, seqs, procs, evicted) == (9, [], [], 1)
    assert (behind, in_flight) == (0, 0)

    # under the bound -> untouched, zero evictions
    f2, seqs2, procs2, behind2, in_flight2, _ = _advance_lists(9, [10, 11], [False, True])
    f2, seqs2, procs2, behind2, in_flight2, ev2 = _advance_lists(
        f2, seqs2, procs2, max_pending=3
    )
    assert (f2, seqs2, ev2) == (9, [10, 11], 0)
    assert (behind2, in_flight2) == (1, 1)

    # two interleaved poisons over the bound -> both evicted
    f3, seqs3, procs3, *_ = _advance_lists(
        _NO_FRONTIER, list(range(6)), [False, True, True, False, True, True]
    )
    f3, seqs3, procs3, behind3, in_flight3, ev3 = _advance_lists(
        f3, seqs3, procs3, max_pending=2
    )
    assert (f3, seqs3, ev3) == (5, [], 2)


def test_tracker_poisoned_shard_bounded_state(spark, tmp_path):
    # End-to-end: a shard whose record 4 is NEVER acked.  Unbounded, its
    # state would grow with the stream; with max_pending the state store
    # stays bounded, the frontier advances past the poison, and the
    # cumulative evicted_count gauge reports exactly the forfeited records.
    import uuid as _uuid

    from kcl_akka_stream_spark.streaming.tracker import streaming_checkpoint_frontier

    src = str(tmp_path / "poison_src")
    ckpt = str(tmp_path / "poison_ckpt")
    os.makedirs(src)
    schema = "shard_id long, seq long, processed boolean"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    name = f"t_poison_{_uuid.uuid4().hex[:8]}"
    write([(1, s, s != 4) for s in range(6)])  # poison at 4
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        streaming_checkpoint_frontier(stream, max_pending=3)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        write([(1, s, True) for s in range(6, 12)])  # window would grow to 8
        q.processAllAvailable()
    finally:
        q.stop()

    last = (
        spark.table(name)
        .orderBy(F.col("update_id").desc())
        .limit(1)
        .collect()[0]
    )
    # batch 1: window [4,5] is under the bound -> poison retained;
    # batch 2: [4..11] = 8 > 3 -> 4 evicted, frontier sweeps to 11
    assert last.frontier_seq == 11
    assert last.evicted_count == 1
    assert last.in_flight_count == 0 and last.processed_uncheckpointed_count == 0

    _, _, kept, n_evicted = _tracker_state(spark, ckpt)[1]
    assert kept == []
    assert n_evicted == 1


def test_tracker_compiles_no_code_per_steady_trigger(spark, tmp_path):
    # Structured Streaming plans every micro-batch again, so generated code
    # that differs between triggers misses the codegen cache each time.
    # Array-typed tracker state did (the state encoder's MapObjects drew
    # fresh lambda-variable ids: 2 compilations per trigger); the binary
    # state must compile nothing once every path has run.  Files are
    # written with pandas, so nothing else in the window runs Spark code.
    # Runs on the session's state partitions and again on 4, where the
    # shards' groups fall in several tasks and some tasks get none.
    import pandas as pd

    from kcl_akka_stream_spark.streaming.tracker import streaming_checkpoint_frontier

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def put(src, i):
        # every trigger touches every shard: new records, some left un-acked
        seqs = list(range(i * 10, i * 10 + 10))
        pdf = pd.DataFrame(
            {
                "shard_id": [s % 3 for s in seqs],
                "seq": seqs,
                "processed": [s % 7 != 3 for s in seqs],
            }
        )
        pdf.to_parquet(src / f".f{i}", index=False)
        os.rename(src / f".f{i}", src / f"f{i}.parquet")

    def run(tag):
        src = tmp_path / f"codegen_src_{tag}"
        src.mkdir()
        put(src, 0)
        stream = (
            spark.readStream.schema("shard_id long, seq long, processed boolean")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = (
            streaming_checkpoint_frontier(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(f"t_codegen_{uuid.uuid4().hex[:8]}")
            .option("checkpointLocation", str(tmp_path / f"codegen_ckpt_{tag}"))
            .start()
        )
        try:
            q.processAllAvailable()
            counts = []
            for i in range(1, 6):
                put(src, i)
                q.processAllAvailable()
                counts.append(codegen.METRIC_COMPILATION_TIME().getCount())
        finally:
            q.stop()
        assert q.lastProgress["batchId"] == 5
        assert counts[-1] == counts[1], f"compilations after triggers 1-5: {counts}"

    run("default")
    previous = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        run("four")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", previous)


def _tracker_refuses_checkpoint(spark, tmp_path, state_schema, state_of):
    """Start a checkpoint with a hand-made per-shard kernel that stores
    ``state_of(seqs)`` under ``state_schema``, resume it with the tracker
    and return the error it stops with."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.utils import StreamingQueryException

    from kcl_akka_stream_spark.streaming.tracker import (
        OUTPUT_SCHEMA,
        streaming_checkpoint_frontier,
    )

    src = str(tmp_path / "old_src")
    ckpt = str(tmp_path / "old_ckpt")
    schema = "shard_id long, seq long, processed boolean"
    spark.createDataFrame([(1, 0, True), (1, 2, True)], schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)

    def _old_track(key, pdfs, state):
        state.update(state_of([int(s) for pdf in pdfs for s in pdf["seq"]]))
        yield pd.DataFrame([(int(key[0]), 0, 0, 0, 1, 0)], columns=OUTPUT_SCHEMA.names)

    old = stream.groupBy("shard_id").applyInPandasWithState(
        _old_track,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        old.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    spark.createDataFrame([(1, 1, True)], schema).write.mode("append").parquet(src)
    q = (
        streaming_checkpoint_frontier(stream)
        .writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        with pytest.raises(StreamingQueryException) as err:
            q.processAllAvailable()
    finally:
        q.stop()
    return str(err.value)


def test_tracker_rejects_array_layout_checkpoint(spark, tmp_path):
    # Checkpoints written before the state went binary held the kept window
    # as array<long>/array<boolean>; resuming one must fail on Spark's
    # state-schema check (documented: start a fresh checkpointLocation),
    # never decode array bytes as packed int64.
    err = _tracker_refuses_checkpoint(
        spark,
        tmp_path,
        "frontier long, seqs array<long>, procs array<boolean>, n_updates int",
        lambda seqs: (0, seqs, [True] * len(seqs), 1),
    )
    assert "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE" in err


def test_tracker_rejects_per_shard_layout_checkpoint(spark, tmp_path):
    # Checkpoints written before the state was keyed by bucket held one
    # binary window per shard key; resuming one must fail on Spark's
    # state-schema check, never read a shard's window as a bucket's.
    import numpy as np

    err = _tracker_refuses_checkpoint(
        spark,
        tmp_path,
        "frontier long, seqs binary, procs binary, n_updates int",
        lambda seqs: (
            0,
            np.array(seqs, dtype="<i8").tobytes(),
            np.ones(len(seqs), dtype=np.bool_).tobytes(),
            1,
        ),
    )
    assert "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE" in err


@pytest.mark.parametrize("max_pending", [None, 3])
def test_tracker_resumes_state_written_in_the_binary_layout(spark, tmp_path, max_pending):
    # A hand-made kernel writes a bucket's state exactly as the binary
    # layout defines it (per shard: shards, frontiers, updates, window
    # lens packed little-endian int64; the windows' seqs int64 and procs
    # bool concatenated in shard order; per shard evicted int64); the real
    # tracker, bounded or not, must resume that checkpoint, carry on from
    # it, and keep the state of a shard of the same bucket that this
    # trigger does not touch.  Guards the field order and the encoding,
    # which checkpoints depend on.
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from kcl_akka_stream_spark.streaming.tracker import (
        OUTPUT_SCHEMA,
        SHARD_BUCKETS,
        STATE_SCHEMA,
        streaming_checkpoint_frontier,
    )

    idle = 1 + SHARD_BUCKETS  # same bucket as shard 1
    src = str(tmp_path / "layout_src")
    ckpt = str(tmp_path / "layout_ckpt")
    schema = "shard_id long, seq long, processed boolean"
    spark.createDataFrame([(1, 0, True)], schema).write.parquet(src)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)

    def packed(*values, dtype="<i8"):
        return np.array(values, dtype=dtype).tobytes()

    def seed_state(key, pdfs, state):
        for _ in pdfs:
            pass
        # shard 1: frontier 10; window 12 (un-acked), 13 (acked), 15
        # (un-acked), 20 (acked); 7 updates so far; 4 records evicted.
        # shard 33: frontier 5; window 7 (un-acked); 2 updates; 0 evicted
        state.update(
            (
                packed(1, idle),
                packed(10, 5),
                packed(7, 2),
                packed(4, 1),
                packed(12, 13, 15, 20, 7),
                packed(False, True, False, True, False, dtype=np.bool_),
                packed(4, 0),
            )
        )
        yield pd.DataFrame([(1, 10, 2, 2, 7, 4)], columns=OUTPUT_SCHEMA.names)

    def run(df, rows):
        q = (
            df.writeStream.outputMode("update")
            .foreachBatch(lambda b, _: rows.extend(b.collect()))
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    seeded = (
        stream.withColumn("bucket", F.pmod(F.col("shard_id"), F.lit(SHARD_BUCKETS)))
        .groupBy("bucket")
        .applyInPandasWithState(
            seed_state,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    run(seeded, [])

    spark.createDataFrame([(1, 16, True)], schema).write.mode("append").parquet(src)
    rows = []
    run(streaming_checkpoint_frontier(stream, max_pending=max_pending), rows)
    (last,) = rows
    state = _tracker_state(spark, ckpt)
    assert last.shard_id == 1 and last.update_id == 8
    assert state[idle] == (1, 5, [7], 0)
    if max_pending is not None:
        # window 12..20 is 5 > 3: evicting 12 releases 13; 15 blocks again
        assert (last.frontier_seq, last.processed_uncheckpointed_count) == (13, 2)
        assert (last.in_flight_count, last.evicted_count) == (1, 5)
        assert state[1] == (1, 13, [15, 16, 20], 5)
    else:
        # 12 still blocks: the stored frontier holds, 16 joins the window,
        # and the stored evicted count carries over unchanged
        assert (last.frontier_seq, last.processed_uncheckpointed_count) == (10, 3)
        assert (last.in_flight_count, last.evicted_count) == (2, 4)
        assert state[1] == (1, 10, [12, 13, 15, 16, 20], 4)


def test_tracker_state_keys_are_buckets_not_shards(spark, tmp_path):
    # 100 shards in one trigger land in SHARD_BUCKETS state rows (so at
    # most that many kernel calls per trigger), each holding only shards
    # of its own bucket, and every shard's frontier is still its own.
    from kcl_akka_stream_spark.streaming.tracker import SHARD_BUCKETS

    src = str(tmp_path / "buckets_src")
    ckpt = str(tmp_path / "buckets_ckpt")
    # shard s acks seqs 0..2 except seq s % 3
    spark.createDataFrame(
        [(s, q, q != s % 3) for s in range(100) for q in range(3)],
        "shard_id long, seq long, processed boolean",
    ).write.parquet(src)
    latest = _tracker_run(spark, src, ckpt)
    assert {s: (r.frontier_seq, r.in_flight_count) for s, r in latest.items()} == {
        s: ([None, 0, 1][s % 3], 1) for s in range(100)
    }
    rows = spark.read.format("statestore").load(ckpt).count()
    assert rows == SHARD_BUCKETS
    state = _tracker_state(spark, ckpt)
    assert sorted(state) == list(range(100))
    assert all(bucket == s % SHARD_BUCKETS for s, (bucket, *_) in state.items())


_ZIP_REREAD_PROBE = r"""
import importlib, sys, zipfile, zipimport
from kcl_akka_stream_spark.worker_daemon import install

install()
archive = sys.argv[1]
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("m.py", "X = 1\n")
sys.path.insert(0, archive)
import m

reads = []
read_directory = zipimport._read_directory


def counting_read(path):
    if path == archive:
        reads.append(path)
    return read_directory(path)


zipimport._read_directory = counting_read
importlib.invalidate_caches()
importlib.invalidate_caches()
assert reads == [], reads

with zipfile.ZipFile(archive, "w") as z:
    z.writestr("m.py", "X = 1\n")
    z.writestr("n.py", "Y = 2\n")
importlib.invalidate_caches()
assert reads == [archive], reads
import n

assert (m.X, n.Y) == (1, 2)
print("ok")
"""


def test_worker_daemon_rereads_zip_directory_only_when_changed(tmp_path):
    # The worker daemon's zipimport patch (CPython < 3.13), run in a
    # subprocess so this interpreter's zipimport stays untouched: an
    # unchanged archive keeps its directory across invalidate_caches(), a
    # rewritten one is re-read and its new module imports.
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if sys.version_info >= (3, 13):
        pytest.skip("CPython 3.13+ re-reads zip directories lazily; no patch")
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_REREAD_PROBE, str(tmp_path / "mods.zip")],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_session_forks_workers_from_the_worker_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "kcl_akka_stream_spark.worker_daemon"


def test_session_driver_memory_default_fits_the_host(monkeypatch):
    from kcl_akka_stream_spark.session import _driver_memory

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert _driver_memory() == f"{min(48 * 1024, phys_mb // 2)}m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert _driver_memory() == "2g"


def _tracker_run(spark, src, ckpt):
    """Drain the files under ``src`` through the tracker on ``ckpt``;
    return the newest row per shard."""
    from kcl_akka_stream_spark.streaming.tracker import streaming_checkpoint_frontier

    stream = (
        spark.readStream.schema("shard_id long, seq long, processed boolean")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    rows = []
    q = (
        streaming_checkpoint_frontier(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda b, _: rows.extend(b.collect()))
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    latest = {}
    for r in rows:
        if r.shard_id not in latest or r.update_id > latest[r.shard_id].update_id:
            latest[r.shard_id] = r
    return latest


def _state_partition_dirs(ckpt):
    return sorted(d for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit())


def _offset_log_conf(ckpt, batch):
    with open(os.path.join(ckpt, "offsets", str(batch))) as f:
        return json.loads(f.read().splitlines()[1])["conf"]


def test_tracker_state_partitions_apart_from_batch_parallelism(spark, tmp_path):
    # A fresh tracker query runs STATE_PARTITIONS state partitions and pins
    # that count in its offset log, while batch exchanges on the same
    # session still start at one partition per core.
    from kcl_akka_stream_spark.plans.hygiene import physical_plan
    from kcl_akka_stream_spark.session import STATE_PARTITIONS, _cpus

    src = str(tmp_path / "parts_src")
    ckpt = str(tmp_path / "parts_ckpt")
    spark.createDataFrame(
        [(s, q, True) for s in range(8) for q in range(3)],
        "shard_id long, seq long, processed boolean",
    ).write.parquet(src)
    latest = _tracker_run(spark, src, ckpt)
    assert {s: r.frontier_seq for s, r in latest.items()} == {s: 2 for s in range(8)}
    assert _state_partition_dirs(ckpt) == [str(p) for p in range(STATE_PARTITIONS)]
    assert _offset_log_conf(ckpt, 0)["spark.sql.shuffle.partitions"] == str(STATE_PARTITIONS)

    batch = spark.range(100).withColumn("k", F.col("id") % 7).groupBy("k").count()
    assert re.findall(r"hashpartitioning\(k#\d+L, (\d+)\)", physical_plan(batch)) == [
        str(_cpus())
    ]


def test_tracker_checkpoint_keeps_its_state_partition_count_on_resume(spark, tmp_path):
    # A checkpoint first started with 4 state partitions resumes on the
    # default session with 4: Spark restores the count from the offset log,
    # and every shard's frontier and update_id carry on from their state.
    schema = "shard_id long, seq long, processed boolean"
    src = str(tmp_path / "resume_src")
    ckpt = str(tmp_path / "resume_ckpt")
    # seqs 0..4 per shard, seq 3 of shard 5 not yet acked
    spark.createDataFrame(
        [(s, q, not (s == 5 and q == 3)) for s in range(8) for q in range(5)], schema
    ).coalesce(1).write.parquet(src)
    previous = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        first = _tracker_run(spark, src, ckpt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", previous)
    assert {s: r.frontier_seq for s, r in first.items()} == {
        s: 2 if s == 5 else 4 for s in range(8)
    }
    assert {r.update_id for r in first.values()} == {1}

    # seqs 5..9 per shard, plus shard 5's late ack of seq 3
    spark.createDataFrame(
        [(s, q, True) for s in range(8) for q in range(5, 10)] + [(5, 3, True)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    resumed = _tracker_run(spark, src, ckpt)
    assert {s: r.frontier_seq for s, r in resumed.items()} == {s: 9 for s in range(8)}
    assert {r.update_id for r in resumed.values()} == {2}
    assert {r.in_flight_count for r in resumed.values()} == {0}
    assert _state_partition_dirs(ckpt) == ["0", "1", "2", "3"]
    assert _offset_log_conf(ckpt, 1)["spark.sql.shuffle.partitions"] == "4"


def test_watermark_drops_too_late_rows(spark, tmp_path):
    # The late-data POLICY test: a row arriving AFTER its window was
    # finalized must be dropped, not double-counted -- the contract that
    # bounds state and makes append-mode results final at 100 TB.  File
    # order is pinned via explicit mtimes + maxFilesPerTrigger=1.  Spark
    # applies a newly-computed watermark with a ONE-BATCH lag (the
    # watermark used while processing batch N is the one committed at
    # the end of batch N-1), so the late row is delivered two batches
    # after the on-time data: batch 0 carries hour-10 traffic plus a
    # 12:05 row, batch 1 is an innocuous 12:06 row that COMMITS the
    # 12:05 watermark, and batch 2 delivers the too-late 10:20 row.
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    utc = dt.timezone.utc

    def ts(h, m):
        return dt.datetime(2024, 1, 1, h, m, tzinfo=utc)

    src = tmp_path / "late_src"
    src.mkdir()
    batches = [
        [(1, ts(10, 5)), (2, ts(10, 10)), (3, ts(10, 15)), (4, ts(12, 5))],
        [(5, ts(12, 6))],
        [(6, ts(10, 20)), (7, ts(12, 10))],  # 6 is too late: hour 10 closed
    ]
    now = 1_700_000_000
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "event_id long, ts timestamp")
        df.coalesce(1).write.parquet(str(src / f"b{i}"))
        for f in (src / f"b{i}").iterdir():
            os.utime(f, (now + i * 60, now + i * 60))

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.hour("w.start").alias("h"), "n")
    )
    name = "late_drop_audit"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        dropped = sum(
            p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
        )
    finally:
        q.stop()
    rows = {r.h: r.n for r in spark.table(name).collect()}
    # hour 10 finalized with count 3; the late 10:20 row must not appear
    # anywhere, and the engine must account for exactly one dropped row.
    assert rows == {10: 3}, rows
    assert dropped == 1, dropped


def test_rocksdb_state_store_matches_default_provider(spark, sf_dir):
    # The 100 TB state posture: the default HDFS-backed store keeps every
    # key on the JVM heap (executor-memory-bounded state); RocksDB spills
    # to local disk and is the provider a large stateful deployment runs.
    # Same watermarked window agg on both providers must produce identical
    # results, and the RocksDB run must REALLY be RocksDB (its custom
    # metrics appear in the progress).
    from kcl_akka_stream_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="kcl_rocks_")
    try:
        ev.write.mode("overwrite").parquet(src)

        def run(provider: str | None):
            key = "spark.sql.streaming.stateStore.providerClass"
            if provider:
                spark.conf.set(key, provider)
            else:
                spark.conf.unset(key)
            name = f"state_{uuid.uuid4().hex[:8]}"
            stream = spark.readStream.schema(ev.schema).parquet(src)
            agg = (
                stream.withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.date_format("w.start", "yyyy-MM-dd HH").alias("h"), "event_type", "n")
            )
            q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
            try:
                q.processAllAvailable()
                prog = q.lastProgress
            finally:
                q.stop()
            rows = {(r.h, r.event_type): r.n for r in spark.table(name).collect()}
            return rows, prog

        try:
            default_rows, _ = run(None)
            rocks_rows, prog = run(
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
            )
        finally:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        assert rocks_rows == default_rows and len(rocks_rows) > 0
        metrics = prog["stateOperators"][0]["customMetrics"]
        assert any(k.startswith("rocksdb") for k in metrics)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_streaming_observe_metrics_ride_microbatches(spark, sf_dir):
    # Streaming twin of the batch observe() test: per-batch audit counters
    # (rows seen, error rows) ride the SAME micro-batches as the query --
    # the ConsumerStats pattern without a second scan of the stream.
    from kcl_akka_stream_spark.sources.batch import stream_events

    stream = stream_events(spark, sf_dir)
    obs = stream.observe(
        "audit",
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_err"),
    )
    agg = obs.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    name = f"obs_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        audits = [
            p["observedMetrics"]["audit"]
            for p in q.recentProgress
            if p.get("observedMetrics", {}).get("audit") is not None
        ]
    finally:
        q.stop()
    total = sum(a["rows_seen"] for a in audits)
    errs = sum(a["n_err"] for a in audits)
    direct = spark.table(name).agg(F.sum("n").alias("s")).collect()[0].s
    err_direct = {r.event_type: r.n for r in spark.table(name).collect()}.get("error", 0)
    assert total == direct and errs == err_direct and total > 0


def _driver_fetches_in_stream_callbacks():
    """Every ``.collect()`` / ``.toPandas()`` call reachable from a
    foreachBatch callback, a ``_fold_epochs`` partial or an
    ``_aggregate_epochs`` aggregate in streaming_q, as (root, function,
    line).  Reachability follows names through
    nested defs, callback-building assignments, local imports and
    module globals into any function of this package (AST, not regex)."""
    import ast
    import importlib
    import inspect
    import textwrap

    from kcl_akka_stream_spark.queries import streaming_q

    found, seen = [], set()

    def scope_of(fn_node, glb):
        defs = {
            n.name: n
            for n in ast.walk(fn_node)
            if isinstance(n, ast.FunctionDef) and n is not fn_node
        }
        imports = {}
        for n in ast.walk(fn_node):
            if isinstance(n, ast.ImportFrom) and n.module:
                mod = importlib.import_module(n.module)
                for a in n.names:
                    imports[a.asname or a.name] = getattr(mod, a.name, None)
        return defs, imports, glb

    def visit_fn(obj, root):
        if obj in seen:
            return
        seen.add(obj)
        node = ast.parse(textwrap.dedent(inspect.getsource(obj))).body[0]
        visit(node, scope_of(node, obj.__globals__), root, obj.__qualname__)

    def visit(node, scope, root, where):
        defs, imports, glb = scope
        for n in ast.walk(node):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("collect", "toPandas")
            ):
                found.append((root, where, n.lineno))
            if not (isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)):
                continue
            if n.id in defs and (id(defs[n.id]), where) not in seen:
                seen.add((id(defs[n.id]), where))
                visit(defs[n.id], scope, root, f"{where}.{n.id}")
                continue
            obj = imports.get(n.id, glb.get(n.id))
            if inspect.isfunction(obj) and obj.__module__.startswith(
                "kcl_akka_stream_spark"
            ):
                visit_fn(obj, root)

    harness_arg = {"_fold_epochs": "partial", "_aggregate_epochs": "aggregate"}
    n_roots = 0
    for name, fn in vars(streaming_q).items():
        if not inspect.isfunction(fn) or fn.__module__ != streaming_q.__name__:
            continue
        node = ast.parse(textwrap.dedent(inspect.getsource(fn))).body[0]
        scope = scope_of(node, fn.__globals__)
        assigns = {
            t.id: a.value
            for a in ast.walk(node)
            if isinstance(a, ast.Assign)
            for t in a.targets
            if isinstance(t, ast.Name)
        }
        for call in ast.walk(node):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            if isinstance(f, ast.Attribute) and f.attr == "foreachBatch":
                cb = call.args[0]
            elif isinstance(f, ast.Name) and f.id in harness_arg:
                kw = {k.arg: k.value for k in call.keywords}
                arg = harness_arg[f.id]
                cb = call.args[2] if len(call.args) > 2 else kw[arg]
            else:
                continue
            n_roots += 1
            if isinstance(cb, ast.Name) and cb.id in assigns:
                cb = assigns[cb.id]
            visit(ast.Expression(cb), scope, name, name)
    return n_roots, found


def test_stream_callbacks_never_fetch_rows_to_the_driver():
    # Mergeable state lives executor-side: nothing a micro-batch callback,
    # an epoch partial or a streaming aggregate can reach may pull rows
    # onto the driver.
    n_roots, found = _driver_fetches_in_stream_callbacks()
    # 15 aggregates + 8 partials + the two harnesses' callbacks + scd2 +
    # commit sink
    assert n_roots >= 26
    assert found == []


def _failing_on_second_epoch(batch_df, epoch_id):
    if epoch_id == 1:
        raise RuntimeError("injected failure on epoch 1")
    return batch_df.groupBy().count()


def _failing_aggregate(stream):
    boom = F.raise_error(F.lit("injected failure on v=199"))
    return stream.groupBy().agg(
        F.sum(F.when(F.col("v") == 199, boom).otherwise(F.col("v")))
    )


@pytest.mark.parametrize(
    "harness, callback",
    [
        ("_fold_epochs", _failing_on_second_epoch),
        ("_aggregate_epochs", _failing_aggregate),
    ],
    ids=["_fold_epochs", "_aggregate_epochs"],
)
def test_epoch_harness_stops_query_and_removes_fixture_on_failure(
    spark, monkeypatch, harness, callback
):
    from kcl_akka_stream_spark.queries import streaming_q as sq

    staged = []
    write = sq._write_epoch_fixture

    def spy(df, src, n=sq.N_EPOCHS):
        staged.append(src)
        write(df, src, n)

    monkeypatch.setattr(sq, "_write_epoch_fixture", spy)
    df = spark.range(200).withColumnRenamed("id", "v")
    with pytest.raises(Exception, match="injected failure"):
        getattr(sq, harness)(spark, df, callback, "test-failure")
    assert spark.streams.active == []
    assert len(staged) == 1 and not os.path.exists(staged[0])


def test_aggregate_epochs_pins_only_the_last_trigger_table(spark, monkeypatch):
    # Each trigger pins its complete-mode table and releases the one
    # before, so four triggers leave exactly one pinned table, holding the
    # whole stream's aggregate.
    from kcl_akka_stream_spark.queries import streaming_q as sq

    files = []
    write = sq._write_epoch_fixture

    def four_epochs(df, src, n=sq.N_EPOCHS):
        write(df, src, 4)
        files.extend(f for f in os.listdir(src) if f.endswith(".parquet"))

    monkeypatch.setattr(sq, "_write_epoch_fixture", four_epochs)
    jsc = spark.sparkContext._jsc

    def pinned():
        return set(jsc.getPersistentRDDs().keys())

    before = pinned()
    out = sq._aggregate_epochs(
        spark,
        spark.range(400).withColumnRenamed("id", "v"),
        lambda s: s.groupBy((F.col("v") % 3).alias("k")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        ),
        "test-pin",
    )
    assert len(files) == 4
    assert len(pinned() - before) == 1
    vs = range(400)
    assert sorted(tuple(r) for r in out.collect()) == [
        (k, sum(1 for v in vs if v % 3 == k), sum(v for v in vs if v % 3 == k))
        for k in range(3)
    ]


def test_drain_stops_query_on_failure(spark, tmp_path):
    from kcl_akka_stream_spark.queries.streaming_q import _drain

    src = str(tmp_path / "src")
    spark.range(200).repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with pytest.raises(Exception, match="injected failure on epoch 1"):
        _drain(stream.writeStream.foreachBatch(_failing_on_second_epoch))
    assert spark.streams.active == []


def test_memory_sink_query_leaves_catalog_unchanged(spark, sf_dir):
    # A memory-sink twin used to leave its uniquely named temp view (and
    # the sink's rows on the driver) in the catalog after every run.  The
    # view is dropped before the query returns; the result still counts.
    from kcl_akka_stream_spark.queries import QUERIES

    before = sorted(t.name for t in spark.catalog.listTables())
    out = QUERIES["stream_tumbling_agg"](spark, sf_dir)
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.agg(F.sum("n")).first()[0] == n_events
