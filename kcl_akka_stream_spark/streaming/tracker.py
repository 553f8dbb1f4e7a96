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

State is COMPACTED each micro-batch, mirroring the reference's
``popProcessedRecords`` (RecordProcessorImpl.scala:73-78): after the
frontier advances, every record with ``seq <= frontier`` is evicted and the
state keeps only (frontier_seq, records above the frontier) -- the un-acked
window plus processed records blocked behind a gap.  A never-acked record
still pins its successors, the reference's DOCUMENTED failure mode
(README.md:104-108: a lost ack blocks the checkpoint forever and state
grows with the stream).  This engine improves on that leak with an
optional ``max_pending`` bound (``streaming_checkpoint_frontier``): when a
shard's kept window exceeds the bound, the oldest blocking record is
force-evicted (the frontier advances past it) and the cumulative
``evicted_count`` gauge reports every record whose at-least-once guarantee
was given up -- a bounded-state/bounded-loss trade the operator surfaces
LOUDLY instead of leaking.  Shards are independent groups so state
shuffles once by shard key and lives in the state store across
micro-batches.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("frontier", LongType()),
        StructField("seqs", ArrayType(LongType())),
        StructField("procs", ArrayType(BooleanType())),
        StructField("n_updates", IntegerType()),
    ]
)

#: State schema when the eviction bound is active: adds the cumulative
#: evicted counter.  Kept SEPARATE from the default schema so existing
#: checkpoints written by the no-eviction tracker keep resuming against
#: the unchanged 4-field state layout.
EVICTING_STATE_SCHEMA = StructType(
    STATE_SCHEMA.fields + [StructField("n_evicted", LongType())]
)

# state-store sentinel for "no frontier yet" (state columns are typed, not
# optional; seqs in the fixtures are non-negative so this never collides)
_NO_FRONTIER = -(1 << 62)

OUTPUT_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("frontier_seq", LongType()),
        StructField("processed_uncheckpointed_count", LongType()),
        StructField("in_flight_count", LongType()),
        StructField("update_id", IntegerType()),
    ]
)

#: Output schema when the eviction bound is active: adds the cumulative
#: count of force-evicted (at-least-once-forfeited) records per shard.
EVICTING_OUTPUT_SCHEMA = StructType(
    OUTPUT_SCHEMA.fields + [StructField("evicted_count", LongType())]
)


def _frontier(seqs: list, procs: list) -> Tuple[Any, int, int]:
    """(frontier_seq|None, processed_uncheckpointed, in_flight) from the
    accumulated per-shard record set -- the popProcessedRecords scan."""
    order = sorted(range(len(seqs)), key=lambda i: seqs[i])
    frontier = None
    blocked = False
    processed_behind = 0
    in_flight = 0
    for i in order:
        if procs[i]:
            if blocked:
                processed_behind += 1
            else:
                frontier = seqs[i]
        else:
            blocked = True
            in_flight += 1
    return frontier, processed_behind, in_flight


def _advance(
    frontier: int, seqs: list, procs: list
) -> Tuple[int, list, list, int, int]:
    """popProcessedRecords (RecordProcessorImpl.scala:73-78): advance the
    frontier over the leading contiguous processed run (in seq order, above
    the stored frontier) and EVICT everything at or below it.  Returns
    (frontier, kept_seqs, kept_procs, processed_behind_gap, in_flight);
    kept = the first unprocessed record and everything after it -- the
    un-acked window, exactly what the reference's Queue retains after the
    pop.

    A second row for an already-tracked seq is the ack: the reference's ack
    completes the tracked record's future in place
    (KinesisRecord.markProcessed), so processed flags OR together per seq
    rather than tracking a duplicate."""
    acked: dict = {}
    for s, p in zip(seqs, procs):
        acked[s] = acked.get(s, False) or p
    blocked = False
    processed_behind = 0
    in_flight = 0
    kept_seqs: list = []
    kept_procs: list = []
    for s in sorted(acked):
        p = acked[s]
        if not blocked and p:
            frontier = max(frontier, s)
            continue
        if p:
            processed_behind += 1
        else:
            blocked = True
            in_flight += 1
        kept_seqs.append(s)
        kept_procs.append(p)
    return frontier, kept_seqs, kept_procs, processed_behind, in_flight


def _evict_over_bound(
    frontier: int, seqs: list, procs: list, max_pending: int
) -> Tuple[int, list, list, int, int, int]:
    """Bound the kept window: while it exceeds ``max_pending``, force-evict
    the oldest record (after ``_advance`` the head is always the blocking
    unprocessed one), advance the frontier past it, and re-run the
    contiguous-prefix advance over whatever it was pinning.  Returns
    (frontier, seqs, procs, processed_behind, in_flight, evicted_now)."""
    evicted = 0
    processed_behind = sum(1 for p in procs if p)
    in_flight = len(procs) - processed_behind
    while len(seqs) > max_pending:
        frontier = max(frontier, seqs[0])
        evicted += 1
        frontier, seqs, procs, processed_behind, in_flight = _advance(
            frontier, seqs[1:], procs[1:]
        )
    return frontier, seqs, procs, processed_behind, in_flight, evicted


def _make_track(max_pending: int | None):
    """Tracker kernel factory: ``max_pending=None`` is the faithful
    reference semantics (a never-acked record pins its successors
    forever); an integer bound adds the force-eviction guard."""

    def _track(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        evicting = max_pending is not None
        if state.exists:
            got = state.get
            if len(got) != (5 if evicting else 4):
                raise ValueError(
                    "cannot toggle max_pending on an existing checkpoint: the "
                    f"stored tracker state has {len(got)} fields but this query "
                    f"expects {5 if evicting else 4} (the bounded tracker keeps "
                    "a separate evicted_count field).  Resume with the same "
                    "max_pending setting, or start a fresh checkpoint location."
                )
            if evicting:
                frontier, seqs_t, procs_t, n_updates, n_evicted = got
            else:
                frontier, seqs_t, procs_t, n_updates = got
                n_evicted = 0
            seqs, procs = list(seqs_t), list(procs_t)
        else:
            frontier, seqs, procs, n_updates, n_evicted = _NO_FRONTIER, [], [], 0, 0
        for pdf in pdfs:
            seqs.extend(int(s) for s in pdf["seq"])
            procs.extend(bool(p) for p in pdf["processed"])
        frontier, seqs, procs, processed_behind, in_flight = _advance(frontier, seqs, procs)
        if evicting:
            frontier, seqs, procs, processed_behind, in_flight, evicted_now = (
                _evict_over_bound(frontier, seqs, procs, max_pending)
            )
            n_evicted += evicted_now
        n_updates += 1
        if evicting:
            state.update((frontier, seqs, procs, n_updates, n_evicted))
        else:
            state.update((frontier, seqs, procs, n_updates))
        row = {
            "shard_id": int(key[0]),
            "frontier_seq": None if frontier == _NO_FRONTIER else frontier,
            "processed_uncheckpointed_count": processed_behind,
            "in_flight_count": in_flight,
            "update_id": n_updates,
        }
        if evicting:
            row["evicted_count"] = n_evicted
        yield pd.DataFrame([row])

    return _track


#: Default kernel (reference semantics, no eviction) -- kept as a module
#: attribute so checkpointed queries resume against a stable function.
_track = _make_track(None)


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
    and the cumulative ``evicted_count`` column reports the loss.

    ``max_pending`` CANNOT be toggled across a restart of the same
    checkpoint location: the bounded tracker persists a 5-field state
    (extra evicted_count) where the default persists 4, and Spark state
    schemas are fixed at first run.  The kernel detects the mismatch and
    raises an actionable error instead of an opaque unpack failure."""
    return df.groupBy("shard_id").applyInPandasWithState(
        _track if max_pending is None else _make_track(max_pending),
        outputStructType=(
            OUTPUT_SCHEMA if max_pending is None else EVICTING_OUTPUT_SCHEMA
        ),
        stateStructType=(
            STATE_SCHEMA if max_pending is None else EVICTING_STATE_SCHEMA
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

