"""The benchmark's own tests: measurement arithmetic and input generation on
synthetic data, no Spark.  Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fixtures import RecordSource, make_tables  # noqa: E402
from oracle import norm_rows  # noqa: E402
from stats import (  # noqa: E402
    checkpoint_latencies,
    driver_gap,
    frontier_regressions,
    interval_union,
    self_times,
    summarize,
    tail_percentile,
)


# -- percentile rule: the highest percentile with >= 10 samples beyond it --
@pytest.mark.parametrize(
    "n, expected_p",
    [(19, None), (37, None), (38, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected_p):
    got = tail_percentile(range(n))
    if expected_p is None:
        assert got is None
    else:
        p, value = got
        assert p == expected_p
        assert sum(1 for v in range(n) if v > value) >= 10


def test_summarize_reports_count_median_and_tail():
    s = summarize([float(v) for v in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5
    assert s["tail_p"] == 90.0 and s["tail"] == pytest.approx(90.1)


# -- latency join between the generator log and the commit log --
def test_latency_is_first_covering_commit_minus_creation():
    files = [
        {"created": 10.0, "ranges": {"0": [0, 2], "1": [0, 0]}},
        {"created": 11.0, "ranges": {"0": [3, 4]}},
    ]
    commits = [
        {"at": 10.5, "frontier": {"0": 1}},
        {"at": 11.5, "frontier": {"0": 3, "1": 0}},
        {"at": 12.5, "frontier": {"0": 4, "1": 0}},
    ]
    lat, uncovered = checkpoint_latencies(files, commits)
    assert uncovered == 0
    # shard 0 seqs 0,1 -> 10.5; seq 2 -> 11.5; shard 1 seq 0 -> 11.5;
    # second file: seq 3 -> 11.5, seq 4 -> 12.5
    assert sorted(lat.tolist()) == pytest.approx(sorted([0.5, 0.5, 1.5, 1.5, 0.5, 1.5]))


def test_gap_blocks_coverage_until_acked_and_uncovered_records_count():
    files = [{"created": 0.0, "ranges": {"0": [0, 3]}, "rows": 4}]
    # seq 1 is behind a gap until the second commit; seq 3 is never covered
    commits = [{"at": 1.0, "frontier": {"0": 0}}, {"at": 2.0, "frontier": {"0": 2}}]
    lat, uncovered = checkpoint_latencies(files, commits)
    assert uncovered == 1
    assert sorted(lat.tolist()) == [1.0, 2.0, 2.0]


def test_latency_join_ignores_a_regressed_frontier():
    files = [{"created": 0.0, "ranges": {"0": [5, 5]}}]
    commits = [{"at": 1.0, "frontier": {"0": 5}}, {"at": 2.0, "frontier": {"0": 3}}]
    lat, uncovered = checkpoint_latencies(files, commits)
    assert lat.tolist() == [1.0] and uncovered == 0
    assert frontier_regressions(commits) == 1
    assert frontier_regressions(commits[:1]) == 0


# -- driver gap: wall time minus the union of stage-running intervals --
def test_interval_union_merges_overlaps():
    assert interval_union([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert interval_union([]) == 0


def test_driver_gap_clips_stages_to_the_window():
    stages = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]
    # window [0, 10]: stages cover [1, 4] and [9, 10] -> 4 s busy, 6 s gap
    assert driver_gap(0.0, 10.0, stages) == pytest.approx(6.0)
    assert driver_gap(0.0, 1.0, stages) == pytest.approx(1.0)


# -- span self time: duration minus what direct children cover --
def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "parent": 1, "start": 1.0, "end": 2.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 11.0},  # overruns parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


# -- inputs --
def test_record_source_seqs_contiguous_and_every_pending_acked():
    src = RecordSource(seed=7, shards=3, pending_share=0.05, ack_delay=2)
    seen: dict[int, list[int]] = {0: [], 1: [], 2: []}
    state: dict[tuple[int, int], bool] = {}
    for _ in range(20):
        shard, seq, pending, ranges = src.batch(100)
        for s, (first, last) in ranges.items():
            seen[s].extend(range(first, last + 1))
        for s, q, p in zip(shard.tolist(), seq.tolist(), pending.tolist()):
            state[(s, q)] = state.get((s, q), False) or not p
    shard, seq, pending = src.flush_acks()
    assert not pending.any()
    for s, q in zip(shard.tolist(), seq.tolist()):
        state[(s, q)] = True
    for s, seqs in seen.items():
        assert seqs == list(range(len(seqs)))
    assert all(state.values()) and len(state) == 2000
    assert src.next_seq.sum() == 2000


def test_inputs_are_deterministic_in_the_seed():
    a, b, c = make_tables(3), make_tables(3), make_tables(4)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    # another seed reorders the rows but keeps them
    for name in ("lineitem", "embeddings"):
        cols = [(col, "ascending") for col in a[name].column_names if col != "embedding"]
        assert a[name].sort_by(cols).equals(c[name].sort_by(cols)), name
    s1 = RecordSource(5, 4, 0.01, 3).batch(500)
    s2 = RecordSource(5, 4, 0.01, 3).batch(500)
    assert all(np.array_equal(x, y) for x, y in zip(s1[:3], s2[:3]))


def test_oracle_normalization_is_order_insensitive():
    rows_a, cols_a = norm_rows(["b", "A"], [(1.0, "x"), (0.30000000000000004, "y")])
    rows_b, cols_b = norm_rows(["a", "B"], [("y", 0.3), ("x", 1)])
    assert cols_a == cols_b == ["a", "b"]
    assert rows_a == [("x", "1"), ("y", "0.3")]
    assert rows_b == [("x", "1"), ("y", "0.3")]
