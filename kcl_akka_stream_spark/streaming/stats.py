"""ConsumerStats parity: the reference's pluggable metrics trait
(ConsumerStats.scala:11-28) as a StreamingQueryListener, including the
reflection-from-config loading pattern with noop fallback
(ConsumerStats.scala:33-42,45-61).
"""

from __future__ import annotations

import importlib
import logging
import threading
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

from kcl_akka_stream_spark.streaming.tracker import TRACKER_METRICS

log = logging.getLogger(__name__)


class ConsumerStats:
    """The 11-callback surface of the reference trait, re-keyed to Spark's
    micro-batch lifecycle.  Subclass and override what you need; every
    callback defaults to a no-op (NoopConsumerStats, ConsumerStats.scala:45-61).
    """

    # checkpoint lifecycle (C4 outcomes, RecordProcessorImpl.scala:229-241)
    def checkpoint_acked(self, shard_id: str) -> None: ...
    def checkpoint_at_shard_end(self, shard_id: str) -> None: ...
    def checkpoint_delayed(self, shard_id: str, exc: Exception) -> None: ...
    def checkpoint_failed(self, shard_id: str, exc: Exception) -> None: ...

    # record/batch flow (trackRecord / trackBatchEnqueue around-advice)
    def track_record(self, shard_id: str, n_bytes: int) -> None: ...
    def track_batch(self, shard_id: str, n_records: int) -> None: ...

    # gauges (RecordProcessorImpl.scala:244-250)
    def report_in_flight(self, shard_id: str, n: int) -> None: ...
    def report_uncheckpointed(self, shard_id: str, n: int) -> None: ...

    # lifecycle
    def shard_started(self, shard_id: str) -> None: ...
    def shard_ended(self, shard_id: str) -> None: ...
    def shutdown(self) -> None: ...


class NoopConsumerStats(ConsumerStats):
    pass


def get_instance(class_path: str | None) -> ConsumerStats:
    """Reflection loader with noop fallback (ConsumerStats.scala:33-42):
    any error -- bad path, import failure, bad constructor -- degrades to
    NoopConsumerStats with a logged warning, never a crash."""
    if not class_path:
        return NoopConsumerStats()
    try:
        module_name, _, cls_name = class_path.rpartition(".")
        cls = getattr(importlib.import_module(module_name), cls_name)
        instance = cls()
        if not isinstance(instance, ConsumerStats):
            raise TypeError(f"{class_path} is not a ConsumerStats")
        return instance
    except Exception:
        log.warning("Failed to load ConsumerStats %r; using noop", class_path, exc_info=True)
        return NoopConsumerStats()


@dataclass
class RecordingStats(ConsumerStats):
    """In-memory recording implementation (the reference tests' Inspectable
    stats probe, IT/Inspectable.scala:70-106)."""

    checkpoints: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    batches: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    records: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def checkpoint_acked(self, shard_id: str) -> None:
        with self._lock:
            self.checkpoints[shard_id] += 1

    def track_batch(self, shard_id: str, n_records: int) -> None:
        with self._lock:
            self.batches[shard_id] += 1
            self.records[shard_id] += n_records

    started: list[str] = field(default_factory=list)
    ended: list[str] = field(default_factory=list)
    # latest value of each gauge
    in_flight: dict[str, int] = field(default_factory=dict)
    uncheckpointed: dict[str, int] = field(default_factory=dict)

    def report_in_flight(self, shard_id: str, n: int) -> None:
        with self._lock:
            self.in_flight[shard_id] = n

    def report_uncheckpointed(self, shard_id: str, n: int) -> None:
        with self._lock:
            self.uncheckpointed[shard_id] = n

    def shard_started(self, shard_id: str) -> None:
        with self._lock:
            self.started.append(shard_id)

    def shard_ended(self, shard_id: str) -> None:
        with self._lock:
            self.ended.append(shard_id)


class StatsQueryListener(StreamingQueryListener):
    """Bridges StreamingQueryProgress events into ConsumerStats callbacks --
    the Spark-native home for the reference's metrics hooks (SURVEY §2.10).
    A query that runs the checkpoint tracker reports its gauges through the
    tracker's observed metrics (``tracker.TRACKER_METRICS``), summed over
    the shards the trigger touched."""

    def __init__(self, stats: ConsumerStats):
        self._stats = stats

    def onQueryStarted(self, event) -> None:
        self._stats.shard_started(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self._stats.track_batch(str(p.id), int(p.numInputRows))
        gauges = p.observedMetrics.get(TRACKER_METRICS)
        # sums are null when the trigger emitted no tracker rows
        if gauges is not None and gauges.in_flight is not None:
            self._stats.report_in_flight(str(p.id), int(gauges.in_flight))
            self._stats.report_uncheckpointed(str(p.id), int(gauges.uncheckpointed))

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing dependent
        pass

    def onQueryTerminated(self, event) -> None:
        self._stats.shard_ended(str(event.id))
        self._stats.shutdown()
