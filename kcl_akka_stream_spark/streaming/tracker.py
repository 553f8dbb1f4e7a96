"""Streaming checkpoint tracker: the reference's one real stateful operator
(`ShardCheckpointTracker`, RecordProcessorImpl.scala:22-91) as an
``applyInPandasWithState`` transform.

Semantics reproduced per shard:

- records arrive in any order with a ``processed`` flag (the ack);
- the checkpoint frontier only advances over the maximal *contiguous*
  processed prefix in sequence order -- an unprocessed record behind a gap
  blocks it (RecordProcessorImpl.scala:73-78, proven at
  ShardCheckpointTrackerTest.scala:70-81);
- gauges: processed-but-not-checkpointed count and in-flight count
  (RecordProcessorImpl.scala:30-37).

State is COMPACTED each micro-batch by ONE vectorized scan, ``_advance``,
mirroring the reference's ``popProcessedRecords``
(RecordProcessorImpl.scala:73-78): acks OR together per seq, the head is
the first unprocessed seq, the frontier advances to the seq just before
it, and the state keeps only (frontier_seq, head and everything after it)
-- the un-acked window plus processed records blocked behind a gap.  A
never-acked record still pins its successors, the reference's DOCUMENTED
failure mode (README.md:104-108: a lost ack blocks the checkpoint forever
and state grows with the stream).  This engine improves on that leak with
an optional ``max_pending`` bound (``streaming_checkpoint_frontier``): when
a shard's kept window exceeds the bound, blocking records are force-evicted
oldest first (the frontier advances past each and over what it pinned)
until the window fits.  The same scan computes that in closed form -- the
head moves to the first unprocessed index ``i`` with ``n - i <=
max_pending`` -- and the cumulative ``evicted_count`` gauge reports every
record whose at-least-once guarantee was given up: a
bounded-state/bounded-loss trade the operator surfaces LOUDLY instead of
leaking.

Shards are independent, but the state is keyed by BUCKET, ``shard_id mod
SHARD_BUCKETS``, not by shard: ``applyInPandasWithState`` pays ~2 ms of
Python per group per trigger (state and data conversion around the call,
measured with 1,500 shards at local[4]), ten times the scan itself, so one
call scans all of a bucket's shards at once and a trigger makes at most
``SHARD_BUCKETS`` calls however many shards it carries.  How many state
partitions hold the buckets: see ``session.STATE_PARTITIONS``.

A bucket's state is flat ``binary`` fields: per shard, ascending
``shards``, ``frontiers``, ``updates`` and window ``lens``, packed
little-endian int64; the kept windows concatenated in shard order as
``seqs`` (int64) and ``procs`` (bool); and per shard the cumulative
``evicted`` counts (int64, all 0 while ``max_pending`` is None).  The one
layout serves the bounded and the unbounded tracker, so a checkpoint may
switch ``max_pending`` on or off across restarts.  The fields are decoded
with ``np.frombuffer`` and re-encoded with ``tobytes`` at the kernel's
edges.  Array fields (``array<long>``/``array<boolean>``) cost a fresh
code generation every trigger: Spark rebuilds the state encoder per
micro-batch, its ``MapObjects`` draw new global lambda-variable ids, so
the generated projection source never matched the codegen cache and every
trigger compiled (and JIT-warmed) two new classes.  Flat binary fields
generate the same source each trigger.  Checkpoints written with an
earlier layout (per-shard keys, array fields, or the 6-field state an
unbounded tracker kept before ``evicted`` was always stored) fail to resume
with ``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE``; start them over on a
fresh ``checkpointLocation``.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

#: State key = ``shard_id mod SHARD_BUCKETS``.  A checkpoint keeps the
#: bucket of every shard it has seen, so this must not change under an
#: existing checkpoint (the kernel raises if a stored shard is not in its
#: bucket).  It caps the calls per trigger (~2 ms each) and the state
#: partitions that can hold work; 32 is the bench host's core count.
SHARD_BUCKETS = 32

_PER_SHARD = ("shards", "frontiers", "updates", "lens")

STATE_SCHEMA = StructType(
    [StructField(name, BinaryType()) for name in _PER_SHARD + ("seqs", "procs", "evicted")]
)

# frontier sentinel for "no frontier yet" (seqs in the fixtures are
# non-negative so this never collides)
_NO_FRONTIER = -(1 << 62)

OUTPUT_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("frontier_seq", LongType()),
        StructField("processed_uncheckpointed_count", LongType()),
        StructField("in_flight_count", LongType()),
        StructField("update_id", IntegerType()),
        # cumulative force-evicted (at-least-once-forfeited) records
        StructField("evicted_count", LongType()),
    ]
)

#: Name of the tracker's streaming ``observe``: per trigger, the sums of
#: the emitted rows' ``in_flight_count`` and
#: ``processed_uncheckpointed_count`` (StreamingQueryProgress.observedMetrics).
TRACKER_METRICS = "checkpoint_tracker"


def _advance(
    shards: np.ndarray,
    frontier: np.ndarray,
    shard: np.ndarray,
    seqs: np.ndarray,
    procs: np.ndarray,
    max_pending: int | None,
) -> Tuple[np.ndarray, ...]:
    """popProcessedRecords (RecordProcessorImpl.scala:73-78) as one scan
    over the records (int64 ``shard`` and ``seqs``, bool ``procs``, any
    order) of the ascending ``shards``, whose frontiers ``frontier`` holds:
    per shard, advance the frontier over the leading contiguous processed
    run in seq order and EVICT everything before the head, the first
    unprocessed record.  Returns per-shard arrays (frontier, kept_len,
    processed_behind_gap, in_flight, evicted_now) and the kept records
    (kept_seqs, kept_procs) in (shard, seq) order; kept = the head and
    everything after it -- the un-acked window, exactly what the
    reference's Queue retains after the pop.

    A second row for an already-tracked seq is the ack: the reference's ack
    completes the tracked record's future in place
    (KinesisRecord.markProcessed), so processed flags OR together per seq
    rather than tracking a duplicate.

    ``max_pending`` (None = unbounded) bounds the kept window.  Evicting
    the head one at a time and re-advancing over the processed run it
    pinned ends at a closed form: the head moves to the first unprocessed
    index ``i`` with ``n - i <= max_pending`` (or to ``n``), and every
    unprocessed record it passes is force-evicted and counted."""
    order = np.lexsort((seqs, shard))
    shard, seqs, procs = shard[order], seqs[order], procs[order]
    first = np.ones(len(seqs), dtype=np.bool_)
    first[1:] = (shard[1:] != shard[:-1]) | (seqs[1:] != seqs[:-1])
    uniq, u_shard = seqs[first], shard[first]
    acked = np.zeros(len(uniq), dtype=np.bool_)
    acked[(np.cumsum(first) - 1)[procs]] = True
    starts = np.searchsorted(u_shard, shards)
    ends = np.searchsorted(u_shard, shards, side="right")
    n = ends - starts
    seg = np.searchsorted(shards, u_shard)
    idx = np.arange(len(uniq)) - starts[seg]
    pending = ~acked
    # unprocessed records below n - max_pending are evicted; the head is
    # the first unprocessed record at or above it (or the shard's end)
    floor = (n - max_pending)[seg] if max_pending is not None else 0
    evicted_now = np.bincount(seg[pending & (idx < floor)], minlength=len(shards))
    heads = np.append(np.flatnonzero(pending & (idx >= floor)), len(uniq))
    head = np.minimum(heads[np.searchsorted(heads, starts)], ends) - starts
    in_flight = np.bincount(seg[pending], minlength=len(shards)) - evicted_now
    frontier = frontier.copy()
    moved = head > 0
    frontier[moved] = np.maximum(frontier[moved], uniq[(starts + head - 1)[moved]])
    keep = idx >= head[seg]
    return frontier, n - head, n - head - in_flight, in_flight, evicted_now, uniq[keep], acked[keep]


def _make_track(max_pending: int | None):
    """Tracker kernel factory: ``max_pending=None`` is the faithful
    reference semantics (a never-acked record pins its successors
    forever); an integer bound adds the force-eviction guard."""

    def _track(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            got = state.get
            shards, frontiers, updates, lens, seqs = (
                np.frombuffer(b, dtype="<i8") for b in got[:5]
            )
            procs = np.frombuffer(got[5], dtype=np.bool_)
            evicted = np.frombuffer(got[6], dtype="<i8")
            if (shards % SHARD_BUCKETS != key[0]).any():
                raise ValueError(
                    f"tracker state for bucket {key[0]} holds shards of another "
                    "bucket: the checkpoint was written with a different "
                    "SHARD_BUCKETS; start a fresh checkpoint location."
                )
        else:
            shards = frontiers = updates = lens = seqs = evicted = np.zeros(0, "<i8")
            procs = np.zeros(0, np.bool_)
        pdfs = list(pdfs)
        # astype raises on a null shard or seq; a null ack counts as unprocessed
        new_shard = np.concatenate([p["shard_id"].astype(np.int64).to_numpy() for p in pdfs])
        active = np.unique(new_shard)
        stored = np.isin(shards, active)
        row_shard = np.repeat(shards, lens)
        carried = np.isin(row_shard, active)
        frontier = np.full(len(active), _NO_FRONTIER, dtype=np.int64)
        done = np.zeros(len(active), dtype=np.int64)
        lost = np.zeros(len(active), dtype=np.int64)
        at = np.searchsorted(active, shards[stored])
        frontier[at], done[at], lost[at] = frontiers[stored], updates[stored], evicted[stored]
        frontier, kept_len, behind, in_flight, evicted_now, kept_seqs, kept_procs = _advance(
            active,
            frontier,
            np.concatenate([row_shard[carried], new_shard]),
            np.concatenate([seqs[carried]] + [p["seq"].astype(np.int64).to_numpy() for p in pdfs]),
            np.concatenate(
                [procs[carried]]
                + [p["processed"].to_numpy(dtype=np.bool_, na_value=False) for p in pdfs]
            ),
            max_pending,
        )
        done += 1
        lost += evicted_now
        # idle shards keep their state; active ones take the scan's
        idle = ~stored
        by_shard = np.argsort(np.concatenate([shards[idle], active]), kind="stable")
        by_row = np.argsort(
            np.concatenate([row_shard[~carried], np.repeat(active, kept_len)]), kind="stable"
        )
        shards, frontiers, updates, lens, evicted = (
            np.concatenate([a[idle], b])[by_shard].astype("<i8")
            for a, b in (
                (shards, active),
                (frontiers, frontier),
                (updates, done),
                (lens, kept_len),
                (evicted, lost),
            )
        )
        seqs = np.concatenate([seqs[~carried], kept_seqs])[by_row].astype("<i8")
        procs = np.concatenate([procs[~carried], kept_procs])[by_row]
        fields = (shards, frontiers, updates, lens, seqs, procs, evicted)
        state.update(tuple(f.tobytes() for f in fields))
        yield pd.DataFrame(
            {
                "shard_id": active,
                "frontier_seq": pd.Series(frontier, dtype="Int64").mask(frontier == _NO_FRONTIER),
                "processed_uncheckpointed_count": behind,
                "in_flight_count": in_flight,
                "update_id": done.astype(np.int32),
                "evicted_count": lost,
            }
        )

    return _track


def streaming_checkpoint_frontier(
    df: DataFrame, max_pending: int | None = None
) -> DataFrame:
    """Apply the tracker to a streaming DataFrame of
    ``(shard_id long, seq long, processed boolean)``.  Emits one row per
    shard per micro-batch with the running frontier and gauges; update_id
    counts emissions so a consumer can keep the latest.

    ``max_pending`` bounds per-shard state for poisoned shards: when the
    kept window exceeds it, the oldest blocking record is force-evicted
    (frontier advances past it, forfeiting its at-least-once redelivery)
    and the cumulative ``evicted_count`` column reports the loss; it reads
    0 while no bound was ever set.  The state layout is the same either
    way, so a restart of the same checkpoint location may switch the
    bound on or off.

    The gauges also ride the trigger's own action as the streaming
    ``observe`` named ``TRACKER_METRICS`` (``in_flight`` and
    ``uncheckpointed``, summed over the trigger's rows), which
    ``stats.StatsQueryListener`` hands to ``ConsumerStats``."""
    bucketed = df.withColumn("bucket", F.pmod(F.col("shard_id"), F.lit(SHARD_BUCKETS)))
    tracked = bucketed.groupBy("bucket").applyInPandasWithState(
        _make_track(max_pending),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return tracked.observe(
        TRACKER_METRICS,
        F.sum("in_flight_count").alias("in_flight"),
        F.sum("processed_uncheckpointed_count").alias("uncheckpointed"),
    )

