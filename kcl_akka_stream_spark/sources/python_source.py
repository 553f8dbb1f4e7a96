"""Python Data Source (Spark 4 ``pyspark.sql.datasource``): a deterministic
sharded-envelope source standing in for the live Kinesis reader.

The reference library IS a source connector -- its record type
(src/main/scala/com/contxt/kinesis/KinesisRecord.scala:12-19: data,
partitionKey, sequenceNumber, approximateArrivalTimestamp, shard identity
via the per-shard sub-source, KinesisSource.scala) is what this source
emits, and its per-shard sub-stream model (one ordered sequence per shard,
S5) is what the partitioning reproduces: **one InputPartition per shard**,
so reader parallelism equals shard count exactly like the real connector's
shard->task mapping, and rows within a shard arrive in sequence order.
The live-jar path (sources/kinesis.py) stays env-gated; this module is the
same seam implemented with the pure-Python connector API, so the streaming
source PROTOCOL (initialOffset / latestOffset / partitions / read / commit,
JSON-checkpointable offsets) is exercised for real without AWS.

Generation is a pure function of (shard, seq) -- partition keys are md5
digests both engines compute identically -- so a DuckDB ``generate_series``
oracle reproduces every row bit-for-bit: the one connector family the gate
could not previously hash-check end-to-end.

Scale posture: rows are generated executor-side inside ``read`` (the driver
ships only (shard, seq-range) descriptors); a real deployment would swap the
generator body for KCL fetches while keeping the partition/offset protocol
unchanged.  Throughput of THIS simulator is Python-bound -- it exists for
protocol correctness, not for data-plane benchmarks.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

BASE_TS = datetime(2026, 1, 1, 0, 0, 0)

SCHEMA = (
    "shard_id string, sequence_number bigint, partition_key string, "
    "data string, arrival_ts timestamp"
)


def _shard_id(s: int) -> str:
    return f"shardId-{s:012d}"


class _ShardRange(InputPartition):
    def __init__(self, shard: int, start: int, end: int):
        self.shard = shard
        self.start = start  # exclusive
        self.end = end  # inclusive


def _opts(options) -> tuple[int, int, int]:
    n_shards = int(options.get("n_shards", "8"))
    per_shard = int(options.get("records_per_shard", "250"))
    step = int(options.get("seqs_per_batch", "100"))
    return n_shards, per_shard, step


class _BatchReader(DataSourceReader):
    def __init__(self, options):
        self._n_shards, self._per_shard, _ = _opts(options)
        self._shard_eq: set[str] | None = None  # intersection of EqualTo values
        self._seq_lo = 0  # exclusive
        self._seq_hi = self._per_shard  # inclusive

    def pushFilters(self, filters):
        # Scan-level pruning through the Python connector API: a shard_id
        # equality drops whole partitions (the real connector's listShards
        # filter), and sequence_number bounds narrow each partition's
        # generate range (getShardIterator AT_SEQUENCE_NUMBER).  Both are
        # EXACT on this source, so the handled filters are consumed --
        # Spark plans no residual evaluation for them.  Everything else is
        # yielded back for Spark-side evaluation.
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            attr = getattr(f, "attribute", None)
            v = getattr(f, "value", None)
            if isinstance(f, EqualTo) and attr == ("shard_id",) and isinstance(v, str):
                # INTERSECT repeated equalities: Catalyst does not fold
                # `shard_id = 'A' AND shard_id = 'B'` to false, and a
                # consumed filter gets no Spark-side residual evaluation --
                # keeping only the last value would answer a contradictory
                # conjunction with shard B's rows instead of the empty set.
                if self._shard_eq is None:
                    self._shard_eq = {v}
                else:
                    self._shard_eq &= {v}
            elif attr == ("sequence_number",) and isinstance(v, int):
                if isinstance(f, GreaterThan):
                    self._seq_lo = max(self._seq_lo, v)
                elif isinstance(f, GreaterThanOrEqual):
                    self._seq_lo = max(self._seq_lo, v - 1)
                elif isinstance(f, LessThan):
                    self._seq_hi = min(self._seq_hi, v - 1)
                elif isinstance(f, LessThanOrEqual):
                    self._seq_hi = min(self._seq_hi, v)
                else:
                    yield f
            else:
                yield f

    def partitions(self):
        shards = range(self._n_shards)
        if self._shard_eq is not None:
            shards = [
                s for s in shards if _shard_id(s) in self._shard_eq
            ]  # no match / contradictory equalities -> zero partitions
        lo, hi = self._seq_lo, self._seq_hi
        if hi <= lo:
            shards = []
        return [_ShardRange(s, lo, hi) for s in shards]

    def read(self, partition: _ShardRange):
        if partition is None:  # Spark runs one empty task when partitions()==[]
            return
        yield from _arrow_batches(partition)


#: Generator-side RecordBatch size.  Swept r10 (SCALE_PROBE.md at
#: `f2504d4`) at the r9-tuned maxRecordsPerBatch=100k on the 2M-row
#: RocksDB streaming pipeline: 1,024 collapses to ~25k rows/s (per-batch
#: build overhead: one python-list -> pa.array pass per column per chunk);
#: everything from 4,096 to 250,000 is ONE flat plateau (~96-105k rows/s,
#: repeated head-to-head runs swing 64-102k on host noise with no stable
#: winner).  16,384 sits mid-plateau with margin against the 1k cliff,
#: while keeping per-batch worker memory (5 cols x 16k values) small.
#: The remaining ~1.15x gap to the all-JVM ceiling is NOT chunk-bound.
ARROW_CHUNK_DEFAULT = 16_384


def _arrow_batches(partition: _ShardRange):
    """The one read path of both readers: ``read`` yields
    ``pyarrow.RecordBatch`` objects, so rows cross the Python/JVM boundary
    as columnar Arrow buffers (no per-row pickling), the same transport
    that makes pandas UDFs ~10-100x faster than row-at-a-time Python.
    Columns are built vectorized; md5 is the only per-value Python call
    left."""
    import pyarrow as pa

    seqs = list(range(partition.start + 1, partition.end + 1))
    for i in range(0, len(seqs), ARROW_CHUNK_DEFAULT):
        part = seqs[i : i + ARROW_CHUNK_DEFAULT]
        yield pa.record_batch(
            [
                pa.array([_shard_id(partition.shard)] * len(part), pa.string()),
                pa.array(part, pa.int64()),
                pa.array(
                    [
                        hashlib.md5(f"pk-{partition.shard}-{q}".encode()).hexdigest()
                        for q in part
                    ],
                    pa.string(),
                ),
                pa.array([f"msg-{partition.shard}-{q}" for q in part], pa.string()),
                pa.array(
                    [BASE_TS + timedelta(seconds=q) for q in part],
                    pa.timestamp("us"),
                ),
            ],
            names=[
                "shard_id",
                "sequence_number",
                "partition_key",
                "data",
                "arrival_ts",
            ],
        )


class _StreamReader(DataSourceStreamReader):
    """Micro-batch protocol over the same generator: the offset is the
    per-source sequence frontier ``{"seq": n}`` (every shard advances in
    lockstep, mirroring how the reference checkpoints a sequence number per
    shard, ShardCheckpointTracker).  Each trigger advances by
    ``seqs_per_batch``, so a full drain takes ceil(per_shard/step)
    micro-batches -- a multi-batch, checkpointable, bounded stream."""

    def __init__(self, options):
        self._n_shards, self._per_shard, self._step = _opts(options)
        self._current = 0

    def initialOffset(self):
        return {"seq": 0}

    def latestOffset(self):
        # Pacing lives HERE, not in partitions(): the offset Spark records
        # in the checkpoint is exactly what latestOffset returned, so
        # clamping the range later would silently skip the tail between the
        # clamp and the recorded end.  The driver-side reader instance
        # advances its own frontier by `step` per trigger (the same pattern
        # as maxRecordsPerFetch pacing in the real connector).
        #
        # Restart safety: the frontier must be MONOTONE w.r.t. the
        # checkpoint.  Spark plans micro-batches on offset INEQUALITY, so a
        # fresh reader whose frontier re-climbed from 0 would get its
        # regressed latestOffset recorded as an end offset, and the next
        # climb past it would re-emit the (regressed, checkpointed] range
        # into append sinks (observed: 300 duplicate rows after restarting
        # a drained 500-row stream).  The traced restart protocol (Spark
        # 4.1) is: partitions(committed, committed) FIRST, then
        # latestOffset -- so partitions()/commit() below fold every offset
        # Spark hands us into the frontier before pacing ever resumes, and
        # this method can never return less than an offset already
        # checkpointed.
        self._current = min(self._current + self._step, self._per_shard)
        return {"seq": self._current}

    def partitions(self, start, end):
        lo, hi = int(start["seq"]), int(end["seq"])
        # Learn the checkpoint frontier: on restart this is called with the
        # committed offsets before any latestOffset (see above).
        self._current = max(self._current, lo, hi)
        return [_ShardRange(s, lo, hi) for s in range(self._n_shards)]

    def read(self, partition: _ShardRange):
        # Same RecordBatch path as the batch reader.  The streaming probe in
        # SCALE_PROBE.md at `f2504d4` measured ~1.7x end-to-end pipeline
        # throughput over per-row tuples (45k vs 27k rows/s incl. windowed
        # agg; the source-only gain is larger but the stateful stages cap
        # the pipeline).
        yield from _arrow_batches(partition)

    def commit(self, end):
        # Belt-and-braces for the monotone-frontier invariant (a commit
        # replayed on restart also carries the committed offset).
        self._current = max(self._current, int(end["seq"]))


class EnvelopeSimDataSource(DataSource):
    """``spark.read.format("envelope_sim")`` / ``spark.readStream.format(...)``.

    Options: ``n_shards`` (default 8), ``records_per_shard`` (default 250),
    ``seqs_per_batch`` (streaming pace, default 100).
    """

    @classmethod
    def name(cls) -> str:
        return "envelope_sim"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema):
        return _BatchReader(self.options)

    def streamReader(self, schema):
        return _StreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(EnvelopeSimDataSource)
    spark.dataSource.register(ManifestJsonlDataSource)
    # required for pushFilters (runtime-settable; also set in session.py for
    # sessions built by the engine's own factory)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


# ---------------------------------------------------------------------------
# Writer half of the connector seam: manifest-commit JSONL sink
# ---------------------------------------------------------------------------
import json as _json
import os as _os
import uuid as _uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class _StagedFile(WriterCommitMessage):
    path: str
    n_rows: int


class _ManifestJsonlWriter(DataSourceWriter):
    """The file-commit protocol every exactly-once batch sink uses
    (Hadoop-committer pattern, and the transactional discipline of the
    reference's ordered producer sink, S7): tasks stage
    ``staged-<uuid>.jsonl`` files and report them in commit messages; the
    driver's ``commit`` publishes an atomic ``manifest.json`` (tmp +
    rename) listing exactly the committed files; ``abort`` deletes the
    stray stages.  Readers that trust only the manifest can NEVER see a
    failed/duplicate task attempt's output -- torn-job output is
    invisible, not merely unlikely.

    Local-FS caveat: executors must share the filesystem with the driver
    (true on local[*] and any shared-storage cluster); a cloud deployment
    points ``path`` at object storage and keeps the protocol unchanged.

    Overwrite semantics: save modes only replace the MANIFEST (the unit of
    visibility); superseded staged files linger invisibly until a
    compaction sweep -- manifest readers never see them either way.
    """

    def __init__(self, options, overwrite: bool):
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("manifest_jsonl writer requires option 'path'")
        self._overwrite = overwrite

    def write(self, iterator):
        _os.makedirs(self._dir, exist_ok=True)
        path = _os.path.join(self._dir, f"staged-{_uuid.uuid4().hex}.jsonl")
        n = 0
        with open(path, "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict(), default=str, sort_keys=True))
                f.write("\n")
                n += 1
        return _StagedFile(path=path, n_rows=n)

    def commit(self, messages):
        files = sorted(
            _os.path.basename(m.path) for m in messages if m is not None
        )
        rows = sum(m.n_rows for m in messages if m is not None)
        manifest = {"files": files, "n_rows": rows}
        tmp = _os.path.join(self._dir, f".manifest-{_uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            _json.dump(manifest, f)
        _os.replace(tmp, _os.path.join(self._dir, "manifest.json"))

    def abort(self, messages):
        for m in messages:
            if m is not None:
                try:
                    _os.remove(m.path)
                except OSError:
                    pass


class ManifestJsonlDataSource(DataSource):
    """``df.write.format("manifest_jsonl").option("path", dir).save()``."""

    @classmethod
    def name(cls) -> str:
        return "manifest_jsonl"

    def writer(self, schema, overwrite: bool):
        return _ManifestJsonlWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return _ManifestJsonlStreamWriter(self.options, overwrite)


class _ManifestJsonlStreamWriter(DataSourceStreamWriter):
    """Streaming half of the manifest committer: each micro-batch publishes
    its own atomic ``manifest-<batchId>.json``.  A batch REPLAYED after a
    failure (same batchId) overwrites its own manifest with the fresh
    attempt's files, so manifest-trusting readers see each batch's output
    exactly once -- the idempotent-sink contract Structured Streaming
    requires for end-to-end exactly-once."""

    def __init__(self, options, overwrite: bool):
        self._inner = _ManifestJsonlWriter(options, overwrite)
        self._dir = self._inner._dir

    def write(self, iterator):
        return self._inner.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        files = sorted(
            _os.path.basename(m.path) for m in messages if m is not None
        )
        rows = sum(m.n_rows for m in messages if m is not None)
        tmp = _os.path.join(self._dir, f".manifest-{_uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            _json.dump({"files": files, "n_rows": rows, "batch_id": batchId}, f)
        _os.replace(tmp, _os.path.join(self._dir, f"manifest-{batchId}.json"))

    def abort(self, messages, batchId: int) -> None:
        self._inner.abort(messages)


def stream_manifest_files(spark, path: str) -> list:
    """Union of every committed micro-batch's manifest."""
    import glob as _glob

    out = []
    for mf in sorted(_glob.glob(_os.path.join(path, "manifest-*.json"))):
        with open(mf) as f:
            out.extend(
                _os.path.join(path, name) for name in _json.load(f)["files"]
            )
    return out


def manifest_files(spark, path: str) -> list:
    """The trusting-reader half: ONLY manifest-listed files exist."""
    with open(_os.path.join(path, "manifest.json")) as f:
        manifest = _json.load(f)
    return [_os.path.join(path, name) for name in manifest["files"]]
