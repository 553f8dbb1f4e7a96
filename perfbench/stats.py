"""Pure measurement arithmetic, kept free of Spark so it can be tested on
synthetic inputs: the percentile rule, checkpoint-latency join, interval
unions (driver gap, span self time)."""

from __future__ import annotations

from typing import Iterable

import numpy as np

#: Percentiles tried, highest first, by the tail rule.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values: Iterable[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    v = np.asarray(list(values), dtype=float)
    if v.size == 0:
        raise ValueError("percentile of no samples")
    return float(np.percentile(v, p))


def tail_percentile(values: Iterable[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile of TAIL_LADDER with at least ``min_beyond``
    samples above it, as (p, value); None when even p75 lacks them."""
    v = sorted(values)
    if not v:
        return None
    for p in TAIL_LADDER:
        value = percentile(v, p)
        if sum(1 for x in v if x > value) >= min_beyond:
            return p, value
    return None


def summarize(values: Iterable[float]) -> dict:
    """Median, sample count and the tail percentile the sample supports."""
    v = list(values)
    out: dict = {"n": len(v), "p50": percentile(v, 50) if v else None}
    tail = tail_percentile(v)
    if tail is not None:
        out["tail_p"], out["tail"] = tail
    return out


def interval_union(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of [start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def driver_gap(start: float, end: float, stage_intervals) -> float:
    """Wall time of [start, end] during which no stage was running."""
    return (end - start) - interval_union(_clip(stage_intervals, start, end))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: duration minus the part of its interval covered by its
    direct children.  Spans are dicts with id, parent, start, end."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - interval_union(_clip(children.get(s["id"], []), s["start"], s["end"]))
        for s in spans
    }


def checkpoint_latencies(files: list[dict], commits: list[dict]) -> tuple[np.ndarray, int]:
    """Join the generator log with the consumer's commit log.

    ``files``: generator entries with ``created`` (epoch s) and ``ranges``
    {shard: [first_seq, last_seq]} of the new records it created.
    ``commits``: committed frontiers in commit order, each with ``at``
    (epoch s) and ``frontier`` {shard: seq}.

    A record's latency is the first commit time whose frontier for its
    shard reaches its seq, minus its creation time.  Returns (latencies in
    seconds, number of records no commit covers)."""
    per_shard: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    shards = {str(s) for c in commits for s in c["frontier"]}
    for s in shards:
        at = np.array([c["at"] for c in commits if str(s) in c["frontier"]], dtype=float)
        fr = np.array([c["frontier"][str(s)] for c in commits if str(s) in c["frontier"]], dtype=float)
        per_shard[s] = (at, np.maximum.accumulate(fr))
    out = []
    uncovered = 0
    for f in files:
        for s, (first, last) in f["ranges"].items():
            seqs = np.arange(first, last + 1)
            if str(s) not in per_shard:
                uncovered += len(seqs)
                continue
            at, fr = per_shard[str(s)]
            idx = np.searchsorted(fr, seqs, side="left")
            ok = idx < len(fr)
            uncovered += int((~ok).sum())
            out.append(at[idx[ok]] - f["created"])
    lat = np.concatenate(out) if out else np.zeros(0)
    return lat, uncovered


def frontier_regressions(commits: list[dict]) -> int:
    """Number of (commit, shard) pairs whose frontier is below an earlier
    committed frontier of the same shard."""
    best: dict = {}
    bad = 0
    for c in commits:
        for s, f in c["frontier"].items():
            if f < best.get(s, f):
                bad += 1
            best[s] = max(best.get(s, f), f)
    return bad
