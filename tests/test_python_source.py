"""Python Data Source connector seam (sources/python_source.py): the
shard->partition mapping and the paced micro-batch offset protocol."""

import hashlib
import time
import uuid
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from kcl_akka_stream_spark.sources.python_source import register


def _python_rows(n_shards: int, per_shard: int) -> list[tuple]:
    """envelope_sim's records written out row by row in plain Python:
    the reference the source's Arrow read path must reproduce."""
    return sorted(
        (
            f"shardId-{s:012d}",
            q,
            hashlib.md5(f"pk-{s}-{q}".encode()).hexdigest(),
            f"msg-{s}-{q}",
            datetime(2026, 1, 1) + timedelta(seconds=q),
        )
        for s in range(n_shards)
        for q in range(1, per_shard + 1)
    )


def test_batch_one_partition_per_shard(spark):
    register(spark)
    df = (
        spark.read.format("envelope_sim")
        .option("n_shards", "4")
        .option("records_per_shard", "10")
        .load()
    )
    # S5 parity: reader parallelism == shard count, rows per shard intact
    assert df.rdd.getNumPartitions() == 4
    counts = {r.shard_id: r.n for r in df.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {f"shardId-{s:012d}": 10 for s in range(4)}


def test_stream_drains_in_paced_microbatches(spark):
    register(spark)
    name = f"pyds_test_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("envelope_sim")
        .option("n_shards", "2")
        .option("records_per_shard", "250")
        .option("seqs_per_batch", "100")
        .load()
    )
    agg = stream.groupBy("shard_id").agg(F.sum("sequence_number").alias("sum_seq"))
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        sizes = [int(p["numInputRows"]) for p in q.recentProgress if int(p["numInputRows"]) > 0]
    finally:
        q.stop()
    # 250 seqs at 100/trigger over 2 shards -> 200, 200, 100: the stream
    # REALLY drains across three micro-batches (not one batch-read in
    # disguise), and the boundary seqs are neither dropped nor doubled.
    assert sizes == [200, 200, 100]
    rows = {r.shard_id: r.sum_seq for r in spark.table(name).collect()}
    assert rows == {f"shardId-{s:012d}": 250 * 251 // 2 for s in range(2)}


def test_stream_restart_resumes_from_checkpoint_exactly_once(spark, tmp_path):
    # Protocol evidence across a REAL restart: run 1 (Trigger.AvailableNow)
    # snapshots the paced frontier once -- exactly the first `step` seqs per
    # shard commit, then the query stops.  Run 2 reuses the checkpoint; the
    # fresh reader's frontier re-advances from 0 and Spark forms batches
    # only for (committed, latest] -- the remainder arrives exactly once:
    # no seq is skipped at the restart boundary and none is doubled.
    register(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def start(**trigger):
        stream = (
            spark.readStream.format("envelope_sim")
            .option("n_shards", "2")
            .option("records_per_shard", "250")
            .option("seqs_per_batch", "100")
            .load()
        )
        w = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
        )
        return (w.trigger(**trigger) if trigger else w).start()

    q1 = start(availableNow=True)
    assert q1.awaitTermination(120)
    assert spark.read.parquet(out).count() == 200  # first 100 seqs x 2 shards

    q2 = start()
    try:
        # processAllAvailable() can return at the first tick (the restarted
        # frontier needs one tick per `step` to climb back past the
        # checkpointed offset before new batches form) -- poll until the
        # remainder lands
        deadline = time.time() + 120
        while time.time() < deadline:
            q2.processAllAvailable()
            if spark.read.parquet(out).count() >= 500:
                break
            time.sleep(1)
    finally:
        q2.stop()
    df = spark.read.parquet(out)
    assert df.count() == 500
    assert df.select("shard_id", "sequence_number").distinct().count() == 500
    total = df.agg(F.sum("sequence_number").alias("s")).collect()[0].s
    assert total == 2 * (250 * 251 // 2)


def test_manifest_writer_ignores_uncommitted_stray_files(spark, tmp_path):
    # The committer property itself: a stray staged file (a failed or
    # zombie task attempt that never reached commit) sits in the SAME
    # directory, but the manifest-trusting reader cannot see it.
    from kcl_akka_stream_spark.sources.python_source import manifest_files

    register(spark)
    out = str(tmp_path / "sink")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    df.repartition(2).write.format("manifest_jsonl").option("path", out).mode(
        "append"
    ).save()
    # zombie attempt drops a stray stage AFTER the job committed
    stray = f"{out}/staged-deadbeef.jsonl"
    with open(stray, "w") as f:
        f.write('{"id": 99, "v": "zombie"}\n')
    back = spark.read.schema("id long, v string").json(manifest_files(spark, out))
    assert sorted((r.id, r.v) for r in back.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_batch_reader_pushes_filters_to_partition_planning(spark):
    # Scan-level pruning through pushFilters: shard equality must drop
    # whole partitions (plan-level, not row-level) and sequence bounds
    # must narrow the generate range -- with results identical to
    # Spark-side filtering.
    register(spark)

    def load():
        return (
            spark.read.format("envelope_sim")
            .option("n_shards", "4")
            .option("records_per_shard", "100")
            .load()
        )

    q = load().filter(
        (F.col("shard_id") == "shardId-000000000002")
        & (F.col("sequence_number") > 90)
    )
    assert q.rdd.getNumPartitions() == 1  # 3 shards pruned at planning
    rows = q.collect()
    assert sorted(r.sequence_number for r in rows) == list(range(91, 101))
    assert {r.shard_id for r in rows} == {"shardId-000000000002"}

    # boundary forms: >= and <= are off-by-one traps
    q2 = load().filter(
        (F.col("sequence_number") >= 95) & (F.col("sequence_number") <= 97)
    )
    assert sorted(r.sequence_number for r in q2.collect()) == sorted([95, 96, 97] * 4)

    # unsatisfiable range -> zero partitions, zero tasks
    q3 = load().filter(F.col("shard_id") == "shardId-000000000099")
    assert q3.count() == 0


def test_stream_writer_commits_per_batch_manifests(spark, tmp_path):
    # All four halves of the Python Data Source API are now exercised;
    # this is the streaming WRITE half: each micro-batch publishes its own
    # atomic manifest-<batchId>.json, and the union of committed manifests
    # reconstructs the stream exactly once.
    from kcl_akka_stream_spark.sources.python_source import stream_manifest_files

    register(spark)
    out = str(tmp_path / "stream_sink")
    stream = (
        spark.readStream.format("envelope_sim")
        .option("n_shards", "2")
        .option("records_per_shard", "250")
        .option("seqs_per_batch", "100")
        .load()
    )
    q = (
        stream.writeStream.format("manifest_jsonl")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    files = stream_manifest_files(spark, out)
    assert len(files) >= 3  # one manifest per paced micro-batch
    back = spark.read.schema(
        "shard_id string, sequence_number long, partition_key string, data string, arrival_ts string"
    ).json(files)
    assert back.count() == 500
    assert back.select("shard_id", "sequence_number").distinct().count() == 500


def test_arrow_batch_read_matches_row_read(spark):
    # The Arrow read path (read() yielding pyarrow.RecordBatch) must be
    # bit-identical to the records written out row by row -- including the
    # timestamp column, where naive-datetime vs timestamp("us") conversions
    # can silently shift by the session timezone.
    register(spark)
    df = (
        spark.read.format("envelope_sim")
        .option("n_shards", "3")
        .option("records_per_shard", "200")
        .load()
    )
    rows = sorted(map(tuple, df.collect()))
    assert rows == _python_rows(3, 200) and len(rows) == 600


def test_stream_restart_after_full_drain_emits_no_duplicates(spark, tmp_path):
    # ADVICE r6 (medium): Spark plans micro-batches on offset INEQUALITY,
    # so a restarted reader whose pacing frontier re-climbed from 0 got its
    # regressed latestOffset recorded as an end offset, and the climb back
    # re-emitted the (regressed, checkpointed] range -- 300 duplicate rows
    # on this exact scenario before the monotone-frontier fix.  The traced
    # Spark 4.1 restart protocol calls partitions(committed, committed)
    # before any latestOffset, so the reader folds every planner-supplied
    # offset into its frontier (partitions + commit) and latestOffset can
    # never regress below the checkpoint.
    register(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def start():
        stream = (
            spark.readStream.format("envelope_sim")
            .option("n_shards", "2")
            .option("records_per_shard", "250")
            .option("seqs_per_batch", "100")
            .load()
        )
        return (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        q1.processAllAvailable()
        if spark.read.parquet(out).count() >= 500:
            break
        time.sleep(0.3)
    q1.stop()
    assert spark.read.parquet(out).count() == 500  # fully drained + committed

    # restart the drained stream and give the fresh reader's frontier ample
    # triggers to climb; with the fix it starts AT the checkpoint, so no
    # batch forms and nothing is re-emitted
    q2 = start()
    t0 = time.time()
    while time.time() - t0 < 10:
        q2.processAllAvailable()
        time.sleep(0.5)
    q2.stop()
    df = spark.read.parquet(out)
    assert df.count() == 500
    assert df.select("shard_id", "sequence_number").distinct().count() == 500


def test_batch_contradictory_shard_equalities_yield_empty(spark):
    # ADVICE r6 (low): consumed filters get no Spark-side residual
    # evaluation, and Catalyst does not fold `shard_id='A' AND
    # shard_id='B'` to false -- keeping only the last EqualTo answered the
    # contradiction with shard B's rows.  The reader now intersects all
    # equality values: conflict -> zero partitions, zero rows.
    register(spark)
    df = (
        spark.read.format("envelope_sim")
        .option("n_shards", "4")
        .option("records_per_shard", "10")
        .load()
    )
    q = df.filter(
        (F.col("shard_id") == "shardId-000000000001")
        & (F.col("shard_id") == "shardId-000000000002")
    )
    assert q.count() == 0
    # and a self-consistent repeated equality still prunes to one shard
    q2 = df.filter(
        (F.col("shard_id") == "shardId-000000000001")
        & (F.col("shard_id") == "shardId-000000000001")
    )
    assert q2.count() == 10


def test_stream_arrow_mode_matches_row_mode(spark):
    # The streaming Arrow read path must reproduce the records written out
    # row by row, with the same batch pacing.
    register(spark)
    name = f"pyds_arrow_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("envelope_sim")
        .option("n_shards", "2")
        .option("records_per_shard", "250")
        .option("seqs_per_batch", "100")
        .load()
    )
    q = stream.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        sizes = [
            int(p["numInputRows"])
            for p in q.recentProgress
            if int(p["numInputRows"]) > 0
        ]
    finally:
        q.stop()
    assert sizes == [200, 200, 100]
    got = sorted(
        (r.shard_id, r.sequence_number, r.partition_key, r.data, r.arrival_ts)
        for r in spark.table(name).collect()
    )
    assert got == _python_rows(2, 250)
