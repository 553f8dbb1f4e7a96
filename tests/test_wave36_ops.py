"""Wave-36 evidence pack: session-interval lattice merge (18th family)
and null-safe join semantics."""

from __future__ import annotations

import pyspark.sql.functions as F


def _close(intervals, gap):
    # gap-closing interval union (pure-python reference)
    out = []
    for s, e in sorted(intervals):
        if out and s - out[-1][1] <= gap:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def test_session_closure_is_split_invariant():
    # closure(closure(A) ∪ closure(B)) == closure(A ∪ B) over EVERY
    # 2-way split of 6 events, including the bridge case where an event
    # in one batch joins two sessions of the other.
    from itertools import combinations

    gap = 1800
    # seconds: 0, 1200, 2400 form one session (chained); 10000, 10600
    # a second; 99999 a third.
    events = [0, 1200, 2400, 10000, 10600, 99999]

    def sessions(ts):
        return _close([(t, t) for t in ts], gap)

    direct = sessions(events)
    assert len(direct) == 3
    ids = list(range(len(events)))
    for k in range(1, len(events)):
        for left in combinations(ids, k):
            a = sessions([events[i] for i in left])
            b = sessions([events[i] for i in ids if i not in left])
            merged = _close(a + b, gap)
            assert merged == direct, (left, merged)


def test_stream_session_merge_matches_batch_sessionize(spark, sf_dir):
    from kcl_akka_stream_spark.operators.windows import sessionize
    from kcl_akka_stream_spark.queries import QUERIES
    from kcl_akka_stream_spark.sources.batch import load_table

    got = {
        r.user_id: r.n_sessions
        for r in QUERIES["stream_session_merge"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exp = {
        r.user_id: r.n
        for r in sessionize(ev, "user_id", "ts", 1800)
        .groupBy("user_id")
        .agg(F.max("session_id").cast("long").alias("n"))
        .collect()
    }
    assert got == exp and len(got) > 0
    assert any(v > 1 for v in got.values())  # multi-session users exist


def test_null_safe_join_gap_identity(spark, sf_dir):
    from kcl_akka_stream_spark.queries import QUERIES

    r = QUERIES["j_null_safe_eq"](spark, sf_dir).collect()[0]
    # the audited difference: null-safe adds EXACTLY the NULL matches
    assert r.n_null_safe - r.n_plain == r.n_null_matches
    assert r.n_null_matches > 0  # non-vacuous on the fixture


def test_null_safe_join_is_hash_join_not_cartesian(spark, sf_dir):
    # Plan pin: eqNullSafe keys hash like values -- no
    # CartesianProduct / BroadcastNestedLoopJoin in the plan.
    from kcl_akka_stream_spark.queries import QUERIES

    plan = QUERIES["j_null_safe_eq"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the eqNullSafe key joins compile to HASH joins on
    # (coalesce(k, 0), isnull(k)) -- NULL hashes like a value
    assert "coalesce(ka" in plan and "isnull(ka" in plan
    assert plan.count("BroadcastHashJoin") >= 3  # plain + 2 null-safe legs
    # the only nested-loop joins are the final one-row scalar crossJoins
    # (three broadcast 1-row aggregates), never a key join
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "Cross" in ln


def test_stream_session_merge_state_never_touches_driver():
    # The per-batch interval state is user-sized, so it must stay
    # executor-side: the twin folds through _fold_epochs (epoch states
    # pinned by localCheckpoint) and never fetches rows to the driver.
    import inspect

    from kcl_akka_stream_spark.queries.streaming_q import stream_session_merge

    src = inspect.getsource(stream_session_merge)
    assert "_fold_epochs(" in src
    assert "state_rows" not in src
    assert ".collect()" not in src
