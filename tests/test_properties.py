"""Property-based tests (hypothesis) for the two operators with
reference-specific semantics: the replay-dedup acceptance oracle and the
checkpoint frontier.  The reference pins these with example matrices
(IT/MessageUtilTest.scala:15-95, T/ShardCheckpointTrackerTest.scala); the
properties generalize those matrices."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from kcl_akka_stream_spark.operators.replay import (
    UnexpectedMessageSequence,
    remove_reprocessed_list,
)
from kcl_akka_stream_spark.streaming.tracker import _NO_FRONTIER, _advance


# --- replay acceptance ------------------------------------------------------
# A valid at-least-once delivery is the original sequence with zero or more
# injected contiguous replays: at any point, delivery may restart from an
# earlier position p (p >= the previous restart position) and re-deliver
# originals in order.  Build such sequences generatively and assert
# remove_reprocessed recovers the original exactly.


@st.composite
def replayed_sequence(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    original = [f"m{i}" for i in range(n)]
    received: list[str] = []
    pos = 0
    restart_floor = 0  # restart positions are monotonically non-decreasing
    n_replays = draw(st.integers(min_value=0, max_value=3))
    replay_at = sorted(draw(st.lists(st.integers(0, n - 1), min_size=n_replays, max_size=n_replays)))
    while pos < n:
        received.append(original[pos])
        pos += 1
        if replay_at and pos > replay_at[0]:
            replay_at.pop(0)
            restart = draw(st.integers(min_value=restart_floor, max_value=pos - 1))
            restart_floor = restart
            pos = restart
    return original, received


@given(replayed_sequence())
@settings(max_examples=200, deadline=None)
def test_accepts_any_contiguous_replay(case):
    original, received = case
    assert remove_reprocessed_list("k", received) == original


@given(st.lists(st.sampled_from(["m0", "m1", "m2", "m3"]), min_size=2, max_size=10))
@settings(max_examples=300, deadline=None)
def test_never_reorders_or_invents(received):
    """Whatever the input, the output is either a duplicate-free subsequence
    whose first occurrences appear in input order, or a rejection."""
    try:
        out = remove_reprocessed_list("k", received)
    except UnexpectedMessageSequence:
        return
    assert len(set(out)) == len(out)
    first_seen = list(dict.fromkeys(received))
    assert out == first_seen  # accepted => output is the first-occurrence order


# --- checkpoint frontier ----------------------------------------------------


def brute_frontier(seqs, procs):
    """Reference semantics, brute force: frontier = last seq of the maximal
    contiguous processed prefix in seq order."""
    ordered = sorted(zip(seqs, procs))
    frontier = None
    for s, p in ordered:
        if not p:
            break
        frontier = s
    blocked_i = next((i for i, (_, p) in enumerate(ordered) if not p), len(ordered))
    processed_behind = sum(1 for s, p in ordered[blocked_i:] if p)
    in_flight = sum(1 for p in procs if not p)
    return frontier, processed_behind, in_flight


def brute_tracker(frontier, seqs, procs, max_pending):
    """The tracker's documented update, brute force: OR the acks per seq,
    pop the maximal contiguous processed prefix in seq order, and while
    more than ``max_pending`` records are kept (None = no bound),
    force-evict the oldest kept record -- always an unprocessed one --
    and pop again.  Returns (frontier, kept_seqs, kept_procs,
    processed_behind, in_flight, evicted)."""
    acked = {}
    for s, p in zip(seqs, procs):
        acked[s] = acked.get(s, False) or p
    kept = sorted(acked.items())
    evicted = 0
    while True:
        while kept and kept[0][1]:
            frontier = max(frontier, kept.pop(0)[0])
        if max_pending is None or len(kept) <= max_pending:
            break
        frontier = max(frontier, kept.pop(0)[0])
        evicted += 1
    behind = sum(1 for _, p in kept if p)
    return (
        frontier,
        [s for s, _ in kept],
        [p for _, p in kept],
        behind,
        len(kept) - behind,
        evicted,
    )


def advance(frontier, seqs, procs, max_pending=None):
    """``_advance`` on one shard's plain lists: (frontier, kept seqs, kept
    procs, processed behind the gap, in flight, evicted)."""
    f, _, behind, in_flight, evicted, kept_seqs, kept_procs = _advance(
        np.zeros(1, dtype=np.int64),
        np.array([frontier], dtype=np.int64),
        np.zeros(len(seqs), dtype=np.int64),
        np.array(seqs, dtype=np.int64),
        np.array(procs, dtype=np.bool_),
        max_pending,
    )
    return (
        int(f[0]),
        kept_seqs.tolist(),
        kept_procs.tolist(),
        int(behind[0]),
        int(in_flight[0]),
        int(evicted[0]),
    )


@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.booleans()), min_size=0, max_size=30, unique_by=lambda t: t[0]
    )
)
@settings(max_examples=300, deadline=None)
def test_frontier_matches_brute_force(pairs):
    seqs = [s for s, _ in pairs]
    procs = [p for _, p in pairs]
    f, _, _, behind, in_flight, _ = advance(_NO_FRONTIER, seqs, procs)
    got = (None if f == _NO_FRONTIER else f, behind, in_flight)
    assert got == brute_frontier(seqs, procs)


@given(
    st.sampled_from([_NO_FRONTIER, -1, 3]),
    # few distinct seqs, so most lists carry duplicates (ack rows)
    st.lists(st.tuples(st.integers(0, 12), st.booleans()), max_size=30),
    st.sampled_from([None, 0, 1, 2, 3, 4, 5]),
)
@settings(max_examples=500, deadline=None)
def test_advance_matches_brute_force_model(frontier, pairs, max_pending):
    seqs = [s for s, _ in pairs]
    procs = [p for _, p in pairs]
    assert advance(frontier, seqs, procs, max_pending) == brute_tracker(
        frontier, seqs, procs, max_pending
    )


@given(
    # (shard, seq, processed) rows in any order; shard 3 never has a row
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 12), st.booleans()), max_size=40),
    st.sampled_from([None, 0, 1, 2, 4]),
)
@settings(max_examples=500, deadline=None)
def test_advance_scans_shards_independently(rows, max_pending):
    # One scan over several shards, as the tracker runs a bucket, gives
    # every shard what the brute-force model gives it alone.
    shards = np.arange(4, dtype=np.int64)
    frontier = np.array([_NO_FRONTIER, -1, 3, 7], dtype=np.int64)
    shard = np.array([r[0] for r in rows], dtype=np.int64)
    seqs = np.array([r[1] for r in rows], dtype=np.int64)
    procs = np.array([r[2] for r in rows], dtype=np.bool_)
    f, kept_len, behind, in_flight, evicted, kept_seqs, kept_procs = _advance(
        shards, frontier, shard, seqs, procs, max_pending
    )
    windows = np.split(np.arange(len(kept_seqs)), np.cumsum(kept_len)[:-1])
    for i in shards:
        mine = shard == i
        want = brute_tracker(int(frontier[i]), seqs[mine].tolist(), procs[mine].tolist(), max_pending)
        got = (
            int(f[i]),
            kept_seqs[windows[i]].tolist(),
            kept_procs[windows[i]].tolist(),
            int(behind[i]),
            int(in_flight[i]),
            int(evicted[i]),
        )
        assert got == want


# --- salting equivalence ----------------------------------------------------
# Salting must be result-identical to the unsalted form for ANY data,
# including hot keys, empty frames, and nulls in value columns.


@given(
    st.lists(
        st.tuples(st.sampled_from(["hot", "k1", "k2", "k3"]), st.integers(-1000, 1000)),
        min_size=0,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=8),
)
@settings(max_examples=20, deadline=None)
def test_salted_aggregate_equivalence(spark, rows, n_salts):
    from kcl_akka_stream_spark.operators.skew import salted_aggregate

    if not rows:
        return
    df = spark.createDataFrame(rows, "k string, v long")
    got = {
        r.k: (r.n, r.total)
        for r in salted_aggregate(df, ["k"], sums={"v": "total"}, count_alias="n", n_salts=n_salts).collect()
    }
    want = {}
    for k, v in rows:
        n, t = want.get(k, (0, 0))
        want[k] = (n + 1, t + v)
    assert got == want


# --- compacted tracker vs full-history scan ---------------------------------
# Under per-shard in-order delivery (the Kinesis contract the reference
# relies on), iterating the COMPACTING _advance over any batch split must
# emit exactly what the brute-force scan of the full history computes --
# and the retained state must equal the un-acked window.


@st.composite
def ordered_batches(draw):
    n = draw(st.integers(min_value=0, max_value=25))
    procs = draw(st.lists(st.booleans(), min_size=n, max_size=n))
    # split [0..n) into contiguous batches (in-order delivery)
    cuts = sorted(draw(st.lists(st.integers(0, n), max_size=4)))
    bounds = [0] + [c for c in cuts if 0 < c < n] + [n]
    batches = [
        list(range(a, b)) for a, b in zip(bounds, bounds[1:]) if a < b
    ]
    return procs, batches


@given(ordered_batches())
@settings(max_examples=300, deadline=None)
def test_advance_iterated_matches_full_history(case):
    procs, batches = case
    frontier, seqs_kept, procs_kept = _NO_FRONTIER, [], []
    out = None
    for batch in batches:
        frontier, seqs_kept, procs_kept, behind, in_flight, _ = advance(
            frontier,
            seqs_kept + batch,
            procs_kept + [procs[s] for s in batch],
        )
        out = (None if frontier == _NO_FRONTIER else frontier, behind, in_flight)
        # retained state IS the un-acked window: first unprocessed delivered
        # seq and everything delivered after it
        delivered = list(range(batch[-1] + 1))
        first_unproc = next((s for s in delivered if not procs[s]), None)
        window = [] if first_unproc is None else [s for s in delivered if s >= first_unproc]
        assert seqs_kept == window
    if out is not None:
        all_seqs = [s for b in batches for s in b]
        assert out == brute_frontier(all_seqs, [procs[s] for s in all_seqs])


# --- zip-chain gram construction -------------------------------------------
# The round-3 rewrite builds n-grams / shingles / segments / rolling-hash
# windows as zip_with chains over shifted slices (performance: arrays are
# lambda arguments, evaluated once per row).  These properties pin the
# chains to their obvious Python definitions over arbitrary token lists.

RH_BASE, RH_MOD = 257, 2147483647

_token = st.text(alphabet="ab0", min_size=1, max_size=3)
_texts = st.lists(_token, min_size=0, max_size=12).map(" ".join)


def _py_tokens(text):
    import re

    return re.findall("[a-z0-9]+", text.lower())


@given(_texts)
@settings(max_examples=20, deadline=None)
def test_shingles_match_python_reference(spark, text):
    from pyspark.sql import functions as F

    from kcl_akka_stream_spark.operators.dedup import shingles

    toks = _py_tokens(text)
    if len(toks) >= 3:
        want = sorted({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
    else:
        want = [" ".join(toks)]
    df = spark.createDataFrame([(text,)], "text string")
    got = sorted(df.select(shingles(F.col("text")).alias("s")).collect()[0].s)
    assert got == want


@given(_texts)
@settings(max_examples=20, deadline=None)
def test_segments_match_python_reference(spark, text):
    from kcl_akka_stream_spark.operators.corpus import dedup_segments

    toks = _py_tokens(text)
    want = [" ".join(toks[i : i + 3]) for i in range(0, len(toks), 3)]
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    if not toks:
        # no segments -> doc vanishes from the positional explode
        assert dedup_segments(df).count() == 0
        return
    row = dedup_segments(df, seg_tokens=3, max_doc_freq=5).collect()[0]
    assert row.clean_text == " ".join(want)
    assert row.n_seg_total == len(want)


@given(_texts)
@settings(max_examples=20, deadline=None)
def test_rolling_windows_match_python_reference(spark, text):
    import hashlib

    from kcl_akka_stream_spark.operators.text import rolling_fingerprint

    toks = _py_tokens(text)

    def code(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16)

    def fold(cs):
        acc = 0
        for c in cs:
            acc = (acc * RH_BASE + c) % RH_MOD
        return acc

    codes = [code(t) for t in toks]
    whole = fold(codes)
    if len(codes) >= 4:
        wins = [fold(codes[i : i + 4]) for i in range(len(codes) - 3)]
    else:
        wins = [whole]
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    row = rolling_fingerprint(df).collect()[0]
    assert row.rolling_hash == whole
    assert row.winnow_min == min(wins)


@given(
    st.lists(
        st.lists(
            st.floats(-1.0, 1.0, allow_nan=False, width=32), min_size=4, max_size=4
        ),
        min_size=2,
        max_size=12,
    )
)
@settings(max_examples=15, deadline=None)
def test_arrow_pair_scorer_matches_jvm_fold(spark, vecs):
    # The capped near-dup path claims its numpy dimension-loop accumulation
    # reproduces the JVM sequential float64 fold BIT-FOR-BIT.  Property-
    # check it: same corpus, same blocking, threshold low enough to keep
    # every pair -- the Arrow path (auto/capped) and the expression path
    # (fixed dims, uncapped) must emit IDENTICAL rounded cosines, not
    # merely close ones.
    import math

    from kcl_akka_stream_spark.operators.similarity import embedding_near_dup_pairs

    # exclude zero-norm vectors (cos undefined -> NaN on both paths anyway,
    # but NaN != NaN makes the dict comparison vacuously fail)
    if any(math.sqrt(sum(x * x for x in v)) == 0 for v in vecs):
        return
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    arrow = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_near_dup_pairs(
            df, threshold=-2.0, lsh_dims=2, max_block_size=1000
        ).collect()
    }
    jvm = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_near_dup_pairs(df, threshold=-2.0, lsh_dims=2).collect()
    }
    assert arrow == jvm


# --- weighted sampling ------------------------------------------------------
# Efraimidis-Spirakis min-key claim: ranking by the MINIMUM of w
# independent uniform keys samples with probability proportional to w.
# With k=1 the selection probability is EXACTLY w_i / sum(w): the global
# minimum over sum(w) iid keys belongs to row i's group of w_i keys with
# probability w_i / sum(w).  The keys here are the operator's own md5
# construction, so the property checks the shipped arithmetic, not a
# lookalike.


def _sel_key(seed: str, id_: int, w: int) -> str:
    import hashlib

    return min(
        hashlib.md5(f"{seed}|{id_}|{j}".encode()).hexdigest()
        for j in range(1, w + 1)
    )


@given(st.lists(st.integers(min_value=1, max_value=8), min_size=2, max_size=5))
@settings(max_examples=20, deadline=None)
def test_weighted_min_key_selection_tracks_weights(weights):
    import math
    from collections import Counter

    ids = list(range(len(weights)))
    total = sum(weights)
    n_seeds = 500
    wins: Counter = Counter()
    for s in range(n_seeds):
        seed = f"hyp{s}"
        best = min(ids, key=lambda i: (_sel_key(seed, i, weights[i]), i))
        wins[best] += 1
    for i, w in zip(ids, weights):
        p = w / total
        # 5-sigma binomial band + slack: deterministic given (weights,
        # seeds) so this either always passes or flags a real bias
        tol = 5 * math.sqrt(p * (1 - p) / n_seeds) + 0.01
        assert abs(wins[i] / n_seeds - p) < tol, (i, w, wins[i] / n_seeds, p)


def test_weighted_sampler_matches_python_min_key(spark):
    # The Spark operator's md5 min-key must equal the pure-python
    # replication -- pins the exact string layout (seed|id|j) the
    # property test above relies on.
    from pyspark.sql import functions as F

    from kcl_akka_stream_spark.operators.sampling import weighted_sample_topk

    rows = [(i, (i % 8) + 1) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, w int")
    sel = weighted_sample_topk(df, F.col("w"), k=5, seed="xcheck").collect()
    keys = {i: _sel_key("xcheck", i, w) for i, w in rows}
    expect = sorted(keys, key=lambda i: (keys[i], i))[:5]
    assert [r.doc_id for r in sel] == expect
    assert [r.sel_key for r in sel] == [keys[i] for i in expect]


# --- semantic dedup ---------------------------------------------------------
# Pure-python replication of the whole pipeline (seed quantizer -> within-
# cluster threshold pairs -> union-find -> min-id representative); the
# Spark operator must match it exactly on arbitrary small corpora.


def _semantic_expected(rows, threshold, n_clusters):
    import math

    ids = sorted(i for i, _ in rows)
    vecs = dict(rows)
    seeds = ids[:n_clusters]
    assign = {}
    for i in ids:
        best = None
        for s in seeds:
            d2 = sum((a - b) ** 2 for a, b in zip(vecs[i], vecs[s]))
            # tie-break on lower cluster id (= seed id), like kmeans_assign
            key = (d2, s)
            if best is None or key < best[0]:
                best = (key, s)
        assign[i] = best[1]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a in ids:
        for b in ids:
            if a < b and assign[a] == assign[b]:
                na = math.sqrt(sum(x * x for x in vecs[a]))
                nb = math.sqrt(sum(x * x for x in vecs[b]))
                dot = 0.0
                for x, y in zip(vecs[a], vecs[b]):
                    dot += x * y
                if round(dot / (na * nb), 6) >= threshold:
                    union(a, b)
    return {i: (assign[i], find(i)) for i in ids}


@given(
    st.lists(
        st.lists(
            st.floats(min_value=-4, max_value=4, allow_nan=False).map(
                lambda x: round(x, 3)
            ),
            min_size=3,
            max_size=3,
        ).filter(lambda v: sum(x * x for x in v) > 1e-6),
        min_size=3,
        max_size=10,
    ),
    st.sampled_from([0.6, 0.8, 0.95]),
)
@settings(max_examples=10, deadline=None)
def test_semantic_dedup_matches_python_replication(spark, vecs, threshold):
    from kcl_akka_stream_spark.operators.similarity import semantic_dedup

    rows = [(i, v) for i, v in enumerate(vecs)]
    expected = _semantic_expected(rows, threshold, n_clusters=2)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.sem_cluster, r.dup_group, r.is_rep)
        for r in semantic_dedup(df, threshold=threshold, n_clusters=2).collect()
    }
    assert set(got) == set(expected)
    for i, (cl, grp) in expected.items():
        assert got[i][0] == cl, (i, got[i], expected[i])
        assert got[i][1] == grp, (i, got[i], expected[i])
        assert got[i][2] == (i == grp)


# ---------------------------------------------------------------------------
# TF-IDF top-k: the Spark operator must match a pure-python replication
# (tokenize -> tf -> df -> integer micro-unit idf -> top-k with term
# tiebreak) on arbitrary small corpora.
# ---------------------------------------------------------------------------
_tfidf_corpora = st.lists(
    st.text(alphabet="ab cd1 ", min_size=0, max_size=40),
    min_size=1,
    max_size=6,
)


def _py_tfidf_topk(texts, k):
    import math
    from collections import Counter

    tf = {i: Counter(_py_tokens(t)) for i, t in enumerate(texts)}
    dfreq = Counter()
    for c in tf.values():
        dfreq.update(set(c))
    n = len(texts)
    out = {}
    for i, c in tf.items():
        scored = []
        for term, f in c.items():
            idf_micro = round(math.log(n / dfreq[term]) * 1e6)
            scored.append((-f * idf_micro, term, f, dfreq[term]))
        scored.sort()
        out[i] = [
            (term, f, d, -s / 1e6) for (s, term, f, d) in scored[:k]
        ]
    return out


@given(_tfidf_corpora)
@settings(max_examples=15, deadline=None)
def test_tfidf_topk_matches_python_reference(spark, texts):
    from kcl_akka_stream_spark.operators.text import tfidf_topk

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {}
    for r in tfidf_topk(df, k=3).collect():
        got.setdefault(r.doc_id, []).append((r.term, r.tf, r.dfreq, r.tfidf))
    # operator emits in window order only per partition slice; normalize by
    # re-sorting on (-score, term) exactly like the replication
    for d in got:
        got[d].sort(key=lambda x: (-x[3], x[0]))
    want = _py_tfidf_topk(texts, 3)
    want = {d: v for d, v in want.items() if v}
    assert got == want


# ---------------------------------------------------------------------------
# Cogrouped interval counts: the searchsorted kernel must match a direct
# python replication (per key: sort intervals by (ts, id); interval i owns
# [ts_i, ts_{i+1}), last owns the open tail) on arbitrary small inputs.
# ---------------------------------------------------------------------------
_interval_cases = st.tuples(
    st.lists(  # events: (key, ts-minute)
        st.tuples(st.integers(0, 3), st.integers(0, 50)), max_size=25
    ),
    st.lists(  # intervals: (key, ts-minute) -- ids assigned by position
        st.tuples(st.integers(0, 3), st.integers(0, 50)),
        max_size=10,
    ),
)


@given(_interval_cases)
@settings(max_examples=12, deadline=None)
def test_cogroup_interval_counts_matches_python(spark, case):
    import datetime as dt

    from kcl_akka_stream_spark.operators.joins import cogrouped_interval_counts

    events, intervals = case
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def ts(m):
        return base + dt.timedelta(minutes=m)

    ev = spark.createDataFrame(
        [(k, ts(m)) for k, m in events] or [(99, ts(0))],
        "user_id long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(k, i, ts(m)) for i, (k, m) in enumerate(intervals)] or [(98, 0, ts(0))],
        "o_custkey long, o_orderkey long, o_orderdate timestamp",
    )
    got = {
        (r.o_custkey, r.o_orderkey): r.n_events
        for r in cogrouped_interval_counts(
            ev, iv, "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey"
        ).collect()
    }
    # python replication
    want = {}
    iv_rows = [(k, i, m) for i, (k, m) in enumerate(intervals)] or [(98, 0, 0)]
    ev_rows = events or [(99, 0)]
    keys = {k for k, _, _ in iv_rows}
    for key in keys:
        mine = sorted(
            [(m, i) for k, i, m in iv_rows if k == key]
        )  # (ts, id) -- same tiebreak as the kernel
        evts = sorted(m for k, m in ev_rows if k == key)
        for j, (m, i) in enumerate(mine):
            end = mine[j + 1][0] if j + 1 < len(mine) else None
            want[(key, i)] = sum(
                1 for e in evts if e >= m and (end is None or e < end)
            )
    assert got == want


@given(_texts)
@settings(max_examples=15, deadline=None)
def test_chunking_matches_python_reference(spark, text):
    from kcl_akka_stream_spark.operators.corpus import chunk_documents

    W, S = 4, 2
    toks = _py_tokens(text)
    if not toks:
        want = []
    else:
        n_chunks = (max(len(toks) - W, 0) + S - 1) // S + 1
        want = [
            (i, " ".join(toks[i * S : i * S + W]), min(W, len(toks) - i * S))
            for i in range(n_chunks)
        ]
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    got = sorted(
        (r.chunk_idx, r.chunk_text, r.n_tokens)
        for r in chunk_documents(df, window=W, stride=S).collect()
    )
    assert got == sorted(want)


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "ab", "c"]), max_size=12),
        min_size=1,
        max_size=4,
    ),
    st.sampled_from([("a", "a"), ("a", "b"), ("b", "a"), ("ab", "c")]),
)
@settings(max_examples=15, deadline=None)
def test_bpe_merge_kernel_matches_python_reference(spark, docs, pair):
    # The greedy leftmost-first non-overlapping merge through the Arrow
    # kernel must equal the pure-python replication on arbitrary token
    # streams -- including the overlap case ("a a a" under (a,a) ->
    # ["a_a", "a"]) that a regex replace would get wrong.
    from kcl_akka_stream_spark.operators.tokenizer import (
        bpe_merge_step,
        merge_pair_python,
    )

    left, right = pair
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: list(r.merged)
        for r in bpe_merge_step(df, left, right).collect()
    }
    # the operator tokenizes with TOKEN_PATTERN over lowercased text:
    # our inputs are already lowercase single tokens, so the reference
    # tokenization is the list itself
    want = {i: merge_pair_python(toks, left, right) for i, toks in enumerate(docs)}
    assert got == want


# ---------------------------------------------------------------------------
# EWMA: the truncated-horizon window query must match a direct python
# replication (sort by (ts, id) desc, take H, integer dot with the frozen
# micro-unit weights) on arbitrary small event sets -- including ties on
# ts (broken by event_id) and users with fewer than H events.
# ---------------------------------------------------------------------------
_ewma_events = st.lists(
    st.tuples(
        st.integers(0, 3),      # user_id
        st.integers(0, 20),     # ts minute
        st.integers(-500, 500),  # value cents
    ),
    min_size=1,
    max_size=30,
)


@given(_ewma_events)
@settings(max_examples=15, deadline=None)
def test_ewma_matches_python_reference(spark, events):
    from datetime import datetime, timedelta

    from kcl_akka_stream_spark.queries.core import _EWMA_WEIGHTS

    base = datetime(2026, 1, 1)
    rows = [
        (i, uid, base + timedelta(minutes=m), cents / 100.0)
        for i, (uid, m, cents) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )

    # pure-python replication
    from collections import defaultdict

    import math

    per_user = defaultdict(list)
    for eid, uid, ts, val in rows:
        per_user[uid].append((ts, eid, math.floor(val * 100 + 0.5)))
    want = {}
    for uid, evs in per_user.items():
        evs.sort(key=lambda x: (x[0], x[1]), reverse=True)
        head = evs[: len(_EWMA_WEIGHTS)]
        wm = sum(v * w for (_, _, v), w in zip(head, _EWMA_WEIGHTS))
        ws = sum(w for _, w in zip(head, _EWMA_WEIGHTS))
        want[uid] = (len(head), wm, ws)

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    weights = F.array(*[F.lit(x) for x in _EWMA_WEIGHTS])
    ranked = (
        df.select(
            "user_id",
            "ts",
            "event_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= len(_EWMA_WEIGHTS))
        .withColumn("w", F.element_at(weights, F.col("rn")).cast("long"))
    )
    got = {
        r.user_id: (r.n, r.wm, r.ws)
        for r in ranked.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v") * F.col("w")).alias("wm"),
            F.sum("w").alias("ws"),
        )
        .collect()
    }
    # both sides use floor(v*100+0.5) on an exact-cents grid, so the
    # comparison is integer-exact
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.sampled_from(["A", "B", "C"])),
        min_size=2,
        max_size=12,
    ),
    st.data(),
)
@settings(max_examples=15, deadline=None)
def test_scd2_merge_equals_direct_for_any_feed_and_split(spark, feed, data):
    # The incremental SCD2 merge (operators/cdc.py::scd2_merge) must equal
    # the full recompute for ANY ordered change feed split at ANY point --
    # including splits landing mid-run (boundary absorption), splits
    # giving a key no new rows, and splits introducing brand-new keys.
    from datetime import datetime, timedelta

    from kcl_akka_stream_spark.operators.cdc import scd2_compact, scd2_merge

    split = data.draw(st.integers(1, len(feed) - 1))
    base = datetime(2024, 1, 1)
    rows = [
        (user, base + timedelta(minutes=i), i, state)
        for i, (user, state) in enumerate(feed)
    ]
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    hist_df = spark.createDataFrame(rows[:split], schema)
    new_df = spark.createDataFrame(rows[split:], schema)
    merged = scd2_merge(scd2_compact(hist_df), new_df)
    direct = scd2_compact(spark.createDataFrame(rows, schema))

    def snap(df):
        return sorted(
            (r.user_id, r.state, r.version, r.valid_from, r.valid_to, r.is_current)
            for r in df.collect()
        )

    assert snap(merged) == snap(direct)


# --- round-8 wave-9/10 properties ------------------------------------------

@given(
    st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=4),
)
@settings(max_examples=15, deadline=None)
def test_bitmap_any_batch_split_merges_to_direct(spark, ids, n_batches):
    # The mergeable-state law, generatively: ANY partition of the rows
    # into batches, state-folded then OR-merged, equals the direct state
    # (and the exact distinct count).
    from kcl_akka_stream_spark.operators.sketches import (
        bitmap_counts,
        bitmap_state,
    )

    from pyspark.sql import functions as F

    df = spark.createDataFrame([("g", i) for i in ids], ["k", "id"])
    direct = bitmap_counts(bitmap_state(df, "k", "id"), "k").collect()[0]
    parts = [
        df.filter((F.col("id") % n_batches) == b) for b in range(n_batches)
    ]
    states = None
    for p in parts:
        s = bitmap_state(p, "k", "id")
        states = s if states is None else states.unionByName(s)
    ored = states.groupBy("k", "wrd").agg(F.bit_or("bits").alias("bits"))
    merged = bitmap_counts(ored, "k").collect()
    assert merged[0].n_distinct == direct.n_distinct == len(set(ids))
    assert merged[0].n_words == direct.n_words


@given(
    st.lists(
        st.integers(min_value=-500_000, max_value=500_000),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None)
def test_mad_report_matches_bruteforce_generatively(spark, units):
    # mad_outlier_report's histogram-CDF decomposition vs the direct
    # sorted-list definition, on arbitrary integer-micro inputs
    # (negatives included -- the CDF path must not assume positives).
    from kcl_akka_stream_spark.operators.aggregations import mad_outlier_report

    df = spark.createDataFrame(
        [("g", u / 1_000_000.0) for u in units], ["k", "v"]
    )
    r = mad_outlier_report(df, "k", "v").collect()[0]
    # freeze through the same floor(x*scale + 0.5) both engines use
    vs = sorted(
        __import__("math").floor((u / 1_000_000.0) * 1_000_000 + 0.5)
        for u in units
    )
    n = len(vs)
    med = vs[(n + 1) // 2 - 1]
    devs = sorted(abs(v - med) for v in vs)
    mad = devs[(n + 1) // 2 - 1]
    assert r.n == n
    assert r.med_units == med
    assert r.mad_units == mad
    assert r.n_outliers == sum(1 for v in vs if abs(v - med) > 3 * mad)


# --- round-10 wave-24/25/26 operators vs pure-python references -------------


def _py_ks_ppm(cells):
    """Pure-python KS in the common-denominator integer form."""
    bins = sorted({b for _, b in cells})
    ca = cb = 0
    na = sum(1 for h, _ in cells if h == 0)
    nb = sum(1 for h, _ in cells if h == 1)
    best = 0
    for b in bins:
        ca += sum(1 for h, x in cells if h == 0 and x == b)
        cb += sum(1 for h, x in cells if h == 1 and x == b)
        best = max(best, abs(ca * nb - cb * na))
    return best * 1_000_000 // (na * nb)


@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 6)),
        min_size=2,
        max_size=40,
    ).filter(lambda c: any(h == 0 for h, _ in c) and any(h == 1 for h, _ in c))
)
@settings(max_examples=15, deadline=None)
def test_ks_drift_matches_python_reference(spark, cells):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("t", h, b) for h, b in cells], "event_type string, half int, bin long"
    )
    j = df.groupBy("event_type", "bin").agg(
        F.sum((F.col("half") == 0).cast("long")).alias("ca"),
        F.sum((F.col("half") == 1).cast("long")).alias("cb"),
    )
    wcum = Window.partitionBy("event_type").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("event_type")
    cum = j.select(
        "event_type",
        F.sum("ca").over(wcum).alias("cum_a"),
        F.sum("cb").over(wcum).alias("cum_b"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    got = cum.groupBy("event_type").agg(
        F.expr(
            "cast(max(abs(cum_a * nb - cum_b * na)) * 1000000"
            " div (max(na) * max(nb)) as bigint)"
        ).alias("ks")
    ).collect()[0].ks
    assert got == _py_ks_ppm(cells)


@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 3),
                  st.integers(1, 50)),
        min_size=1,
        max_size=12,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@settings(max_examples=15, deadline=None)
def test_mi_and_chi2_match_python_reference(spark, cells):
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(cells, "x string, y long, o long")
    m = df.select(
        "o",
        F.sum("o").over(Window.partitionBy("x")).alias("r"),
        F.sum("o").over(Window.partitionBy("y")).alias("c"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    got = m.agg(
        F.expr(
            "cast(sum(o * cast(round(ln(cast(o as double) * n"
            " / (cast(r as double) * c)) * 1000000) as bigint))"
            " div max(n) as bigint)"
        ).alias("mi"),
        F.expr(
            "cast(sum(cast(floor("
            "(cast(o as double) * n - cast(r as double) * c)"
            " * (cast(o as double) * n - cast(r as double) * c)"
            " * 1000000.0 / (cast(n as double) * r * c)) as bigint)) as bigint)"
        ).alias("chi2"),
    ).collect()[0]

    n = sum(o for _, _, o in cells)
    rm = {}
    cm = {}
    for x, y, o in cells:
        rm[x] = rm.get(x, 0) + o
        cm[y] = cm.get(y, 0) + o
    mi = sum(
        o * round(math.log(o * n / (rm[x] * cm[y])) * 1e6) for x, y, o in cells
    )
    # python // floors toward -inf; Spark div truncates toward zero --
    # match Spark by dividing magnitudes (mi sums can be negative on
    # rounding even though true MI >= 0)
    py_mi = (abs(mi) // n) * (1 if mi >= 0 else -1)
    py_chi2 = sum(
        math.floor(
            (o * n - rm[x] * cm[y]) * (o * n - rm[x] * cm[y]) * 1e6
            / (n * rm[x] * cm[y])
        )
        for x, y, o in cells
    )
    assert got.mi == py_mi
    assert got.chi2 == py_chi2


@given(
    st.lists(st.integers(1, 10**9), min_size=20, max_size=40, unique=True)
)
@settings(max_examples=15, deadline=None)
def test_hill_matches_python_reference(spark, revs):
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    r = spark.createDataFrame(
        [(i, v) for i, v in enumerate(revs)], "l_suppkey long, rev long"
    )
    w = Window.orderBy(F.col("rev").desc(), "l_suppkey")
    top = r.select("rev", F.row_number().over(w).alias("rk")).filter(
        F.col("rk") <= 20
    )
    xk = top.filter(F.col("rk") == 20).select(F.col("rev").alias("x20"))
    got = (
        top.crossJoin(F.broadcast(xk))
        .agg(
            F.expr(
                "cast(sum(case when rk < 20 then"
                " cast(round(ln(cast(rev as double) / x20) * 1000000)"
                " as bigint) else 0 end) div 19 as bigint)"
            ).alias("h")
        )
        .collect()[0].h
    )
    top20 = sorted(revs, reverse=True)[:20]
    x20 = top20[19]
    py = sum(round(math.log(v / x20) * 1e6) for v in top20[:19]) // 19
    assert got == py


@given(
    st.lists(st.integers(0, 1000), min_size=2, max_size=60)
)
@settings(max_examples=15, deadline=None)
def test_cusum_peak_matches_python_reference(spark, xs):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [("t", i, x) for i, x in enumerate(xs)]
    v = spark.createDataFrame(rows, "event_type string, event_id long, x long")
    wt = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("event_id")
    t = v.select(
        "event_id",
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("x").over(wt).alias("s"),
        F.row_number().over(wo).alias("k"),
        F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cx"),
    )
    c = t.select(
        "event_id",
        (F.col("n") * F.col("cx") - F.col("k") * F.col("s")).alias("cusum"),
    )
    got = c.orderBy(F.abs("cusum").desc(), "event_id").first()

    n, s = len(xs), sum(xs)
    best = None
    cx = 0
    for k, x in enumerate(xs, start=1):
        cx += x
        cand = (abs(n * cx - k * s), k - 1)
        if best is None or cand[0] > best[0] or (cand[0] == best[0] and cand[1] < best[1]):
            if best is None or cand[0] > best[0]:
                best = cand
    assert (abs(got.cusum), got.event_id) == best
