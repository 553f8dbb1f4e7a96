"""Count-or-time commit trigger + at-least-once/no-guarantees sink modes.

Reference semantics (SURVEY §2.3 C3/C4): checkpoint when processed-count
>= N or elapsed >= period, whichever first (RecordProcessorImpl.scala:43-48;
defaults 60 s / 10 000 records, reference.conf:5-9).  On top of Spark's own
epoch commit (a failed batch re-runs), this module carries the reference's
cadence AND its C4 attempt discipline: the commit point is marked before the
external write, the write runs before any tracker mutation, triggers clear
after every attempt, and the point survives failed attempts for re-commit
(ShardCheckpointTrackerTest.scala:83-118).

Sink ordering modes (README.md:22-95):
- at-least-once: process the batch, then record the commit (checkpoint
  after processing) -- a crash before commit replays the batch.  The
  cadence counts the rows ``process``'s own action read, through an
  ``Observation`` on the batch, so a trigger runs one job, not a count and
  then ``process``;
- no-guarantees: record first, then process (mark-before-process) -- a
  crash loses the in-flight batch.  The count must come before
  ``process``, so this mode caches the batch and counts it first.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from kcl_akka_stream_spark.config import ShardCheckpointConfig


@dataclass
class CommitTracker:
    """C3 trigger state (records-since-commit + elapsed-since-commit) plus
    the C4 pending commit point -- the analogue of the reference's
    ``lastProcessedButNotCheckpointed`` (RecordProcessorImpl.scala:27,77):
    marked as progress is made, retained across failed commit attempts, and
    only cleared when a commit attempt succeeds."""

    config: ShardCheckpointConfig = field(default_factory=ShardCheckpointConfig)
    _records_since_commit: int = 0
    _last_commit_at: float = field(default_factory=time.monotonic)
    commits: list[dict] = field(default_factory=list)
    pending: dict | None = None

    def observe(self, n_records: int, *, now: float | None = None) -> bool:
        """Register a processed batch; True if a commit point is due
        (count threshold or period elapsed -- RecordProcessorImpl.scala:43-48)."""
        self._records_since_commit += n_records
        now = time.monotonic() if now is None else now
        by_count = self._records_since_commit >= self.config.checkpoint_after_processing_nr_of_records
        by_time = (now - self._last_commit_at) >= self.config.checkpoint_period_seconds
        return by_count or by_time

    def mark(self, epoch_id: int, n_records: int) -> dict:
        """Advance the pending commit point (popProcessedRecords advancing
        ``lastProcessedButNotCheckpointed``).  No trigger mutation."""
        self.pending = {"epoch_id": epoch_id, "n_records": n_records}
        return self.pending

    def clear_triggers(self, *, now: float | None = None) -> None:
        """clearCheckpointTriggers (RecordProcessorImpl.scala:80-83) -- runs
        after EVERY commit attempt, success or failure (the reference's
        ``finally`` block)."""
        self._records_since_commit = 0
        self._last_commit_at = time.monotonic() if now is None else now

    def commit(self, epoch_id: int, n_records: int, *, now: float | None = None) -> dict:
        """Record a SUCCESSFUL commit: append to the log, clear the pending
        point, reset the triggers.  Call only after the external write has
        succeeded -- a failed attempt must leave ``pending`` intact
        (ShardCheckpointTrackerTest.scala:98-118)."""
        entry = {"epoch_id": epoch_id, "n_records": n_records, "at": time.time()}
        self.commits.append(entry)
        self.pending = None
        self.clear_triggers(now=now)
        return entry


def _write_commit(commit_dir: str, entry: dict) -> None:
    """The external commit write: one JSON file per commit point."""
    path = os.path.join(commit_dir, f"commit-{entry['epoch_id']:010d}.json")
    with open(path, "w") as f:
        json.dump(entry, f)


def committing_foreach_batch(
    process: Callable[[DataFrame, int], None],
    tracker: CommitTracker,
    commit_dir: str,
    *,
    mode: str = "at-least-once",
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch callback with commit-cadence tracking.

    ``commit_dir`` receives one JSON file per commit point -- the analogue
    of the reference's DynamoDB checkpoint row (the per-batch WAL/commit
    log is Spark's own, in checkpointLocation).  Every due commit goes
    through ``commit_with_taxonomy``: a throttled write keeps the point
    pending and the stream goes on, a shutdown race is ignored, anything
    else fails the batch with ``CommitAbort``.

    At-least-once, ``process`` receives the batch observed with one count,
    and ``n`` -- the records the cadence counts, as the reference counts
    the records the user marked processed (RecordProcessorImpl.scala:73-77)
    -- is the number of rows ``process``'s FIRST action over the batch
    read: all of them for a write or a ``collect``, fewer for a ``take``
    or ``first``.  If ``process`` ran no action over the batch, one
    ``count()`` supplies ``n``.  The batch is not cached: as in Spark's own
    ``foreachBatch`` contract, a ``process`` that reads its batch more than
    once recomputes its lineage (stateful operators and streaming
    ``observe`` metrics included) unless it caches inside ``process``.
    """
    if mode not in ("at-least-once", "no-guarantees"):
        raise ValueError("mode must be 'at-least-once' or 'no-guarantees'")
    os.makedirs(commit_dir, exist_ok=True)

    def write(entry: dict) -> None:
        # resolved per call, so a test can substitute a failing store
        _write_commit(commit_dir, entry)

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        if mode == "no-guarantees":
            # mark-before-process (README.md:61-95) under the SAME C3
            # cadence: n is needed before process runs, and the cache keeps
            # a stateful upstream from running twice.
            batch_df.persist()
            try:
                n = batch_df.count()
                if tracker.observe(n):
                    commit_with_taxonomy(tracker, epoch_id, n, write=write)
                process(batch_df, epoch_id)
            finally:
                batch_df.unpersist()
            return
        # the count rides process's own action: one job per trigger
        seen = Observation()
        observed = batch_df.observe(seen, F.count(F.lit(1)).alias("n"))
        process(observed, epoch_id)
        # Spark completes an Observation from a listener event after the
        # action returns, so drain the listener bus, then ask the JVM object
        # (PySpark's ``get`` blocks forever if process ran no action; an
        # action whose plan dropped the batch leaves no "n").  Counting the
        # observed batch completes it, so the session does not keep it.
        batch_df.sparkSession.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jo = seen._jo
        n = jo.getAsJava().get("n") if jo.future().isCompleted() else None
        if n is None:
            n = observed.count()
        if tracker.observe(n):
            commit_with_taxonomy(tracker, epoch_id, n, write=write)

    return run


def read_commits(commit_dir: str) -> list[dict]:
    out = []
    if not os.path.isdir(commit_dir):
        return out
    for name in sorted(os.listdir(commit_dir)):
        if name.startswith("commit-") and name.endswith(".json"):
            with open(os.path.join(commit_dir, name)) as f:
                out.append(json.load(f))
    return out


class CommitAbort(RuntimeError):
    """Unrecoverable commit failure -- the stream must abort (the
    reference's kill-switch path)."""


class CommitShutdownRace(Exception):
    """The commit raced a shutdown that already owns the lease -- the
    engine-native analogue of the KCL's ShutdownException."""


class CommitThrottled(Exception):
    """The checkpoint store throttled the commit -- the engine-native
    analogue of ThrottlingException/KinesisClientLibDependencyException."""


# Known connector exception signatures.  Py4J flattens JVM exceptions into
# message strings, so these FULL java class names (plus the one documented
# AWS throttle message) are the only substring matches allowed -- generic
# words like "timeout" or "stopped" must never reclassify an arbitrary
# failure (a ValueError("user timeout parsing") is an abort, not a retry).
_CONNECTOR_IGNORE_SIGNATURES = (
    "software.amazon.kinesis.exceptions.ShutdownException",
)
_CONNECTOR_RETRY_SIGNATURES = (
    "software.amazon.kinesis.exceptions.ThrottlingException",
    "KinesisClientLibDependencyException",
    "ProvisionedThroughputExceededException",
    "Rate exceeded",  # documented AWS throttling message text
)


def classify_commit_error(exc: BaseException) -> str:
    """The reference's checkpoint error taxonomy
    (RecordProcessorImpl.scala:229-241), discriminated by exception TYPE
    first -- exactly as the reference's catch clauses do -- with substring
    matching reserved for known connector signatures riding inside
    Py4J-flattened messages:

    - ``ignore``: shutdown races -- ShutdownException there;
      CommitShutdownRace / InterruptedError / StreamingQueryException (the
      query is already stopping) here;
    - ``retry``: transient dependency pressure -- Throttling/
      KinesisClientLibDependencyException there; CommitThrottled /
      TimeoutError / ConnectionError here (stats hook: checkpoint_delayed);
    - ``abort``: anything else fails the stream (kill switch there,
      CommitAbort here).
    """
    if isinstance(exc, CommitShutdownRace) or isinstance(exc, InterruptedError):
        return "ignore"
    if isinstance(exc, (CommitThrottled, TimeoutError, ConnectionError)):
        return "retry"
    try:
        from pyspark.errors import StreamingQueryException

        if isinstance(exc, StreamingQueryException):
            return "ignore"
    except ImportError:  # pragma: no cover
        pass
    msg = str(exc)
    if any(s in msg for s in _CONNECTOR_IGNORE_SIGNATURES):
        return "ignore"
    if any(s in msg for s in _CONNECTOR_RETRY_SIGNATURES):
        return "retry"
    return "abort"


def commit_with_taxonomy(
    tracker: CommitTracker,
    epoch_id: int | None = None,
    n: int | None = None,
    write=None,
    stats=None,
):
    """checkpointLastProcessedRecord + checkpointAndHandleErrors
    (RecordProcessorImpl.scala:50-61, 212-241): attempt the pending commit
    point under the reference's error policy.

    Passing ``epoch_id``/``n`` first advances the pending point (new
    progress since the last attempt); passing neither re-attempts the point
    kept by a previous failure.  ``write`` runs BEFORE any tracker
    mutation, so on failure:

    - the triggers are cleared regardless (the reference's ``finally``,
      proven at ShardCheckpointTrackerTest.scala:83-96), and
    - the pending point is KEPT for the next attempt (retry-keep,
      ShardCheckpointTrackerTest.scala:98-118); only a SUCCESSFUL write
      records the commit and clears it.
    """
    if epoch_id is not None:
        tracker.mark(epoch_id, n)
    pending = tracker.pending
    if pending is None:
        return "nothing"  # "do nothing if no processed records" (T:45-55)
    try:
        write({**pending, "at": time.time()})
    except Exception as exc:  # noqa: BLE001 -- taxonomy decides
        tracker.clear_triggers()
        kind = classify_commit_error(exc)
        if kind == "ignore":
            return "ignored"
        if kind == "retry":
            if stats is not None:
                stats.checkpoint_delayed(str(pending["epoch_id"]), exc)
            return "retry"
        if stats is not None:
            stats.checkpoint_failed(str(pending["epoch_id"]), exc)
        raise CommitAbort(str(exc)) from exc
    tracker.commit(pending["epoch_id"], pending["n_records"])
    if stats is not None:
        stats.checkpoint_acked(str(pending["epoch_id"]))
    return "committed"
