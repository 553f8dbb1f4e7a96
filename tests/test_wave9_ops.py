"""Round-8 wave-9 operators: exact mergeable bitmap distinct, k-core
peeling, forward as-of join, truncated-dim retrieval."""

from pyspark.sql import functions as F


def test_bitmap_state_exact_and_idempotent(spark):
    from kcl_akka_stream_spark.operators.sketches import (
        bitmap_counts,
        bitmap_state,
    )

    ids = [0, 1, 62, 63, 64, 125, 126, 200, 200, 0]  # word boundaries + dups
    df = spark.createDataFrame([("g", i) for i in ids], ["k", "id"])
    st = bitmap_state(df, "k", "id")
    out = bitmap_counts(st, "k").collect()[0]
    distinct = set(ids)
    assert out.n_distinct == len(distinct)
    assert out.n_words == len({i // 63 for i in distinct})
    # idempotence: merging the state with ITSELF changes nothing --
    # the at-least-once replay guarantee
    merged = (
        st.unionByName(st).groupBy("k", "wrd").agg(F.bit_or("bits").alias("bits"))
    )
    again = bitmap_counts(merged, "k").collect()[0]
    assert again.n_distinct == out.n_distinct
    assert again.n_words == out.n_words


def test_bitmap_merge_equals_direct_on_split_batches(spark):
    from kcl_akka_stream_spark.operators.sketches import (
        bitmap_counts,
        bitmap_state,
    )

    rows = [("a", i * 7 % 300) for i in range(100)] + [
        ("b", i * 13 % 500) for i in range(80)
    ]
    df = spark.createDataFrame(rows, ["k", "id"])
    direct = {
        r.k: (r.n_words, r.n_distinct)
        for r in bitmap_counts(bitmap_state(df, "k", "id"), "k").collect()
    }
    h1 = df.filter(F.col("id") % 2 == 0)
    h2 = df.filter(F.col("id") % 2 == 1)
    states = bitmap_state(h1, "k", "id").unionByName(bitmap_state(h2, "k", "id"))
    # the OR-merge, written inline: per (group, word) bit_or
    ored = states.groupBy("k", "wrd").agg(F.bit_or("bits").alias("bits"))
    merged = {
        r.k: (r.n_words, r.n_distinct)
        for r in bitmap_counts(ored, "k").collect()
    }
    assert merged == direct


def test_kcore_peel_strips_tree_keeps_core(spark):
    from kcl_akka_stream_spark.operators.graph import kcore_peel

    # 4-clique {1,2,3,4} (every node degree 3) + a pendant path 4-5-6
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        ["src", "dst"],
    )
    out = {r.node: r.degree for r in kcore_peel(edges, k=2, rounds=3).collect()}
    # the path peels away (6 first, then 5); the clique survives intact
    assert set(out) == {1, 2, 3, 4}
    assert all(d == 3 for d in out.values())


def test_kcore_extra_rounds_past_convergence_are_noops(spark):
    from kcl_akka_stream_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], ["src", "dst"]
    )
    r2 = sorted(map(tuple, kcore_peel(edges, k=2, rounds=2).collect()))
    r4 = sorted(map(tuple, kcore_peel(edges, k=2, rounds=4).collect()))
    assert r2 == r4 == [(1, 2), (2, 2), (3, 2)]


def test_asof_forward_picks_next_at_or_after(spark):
    from kcl_akka_stream_spark.operators.joins import asof_join_forward

    left = spark.createDataFrame(
        [(1, 5, "p5"), (1, 9, "p9"), (1, 15, "p15"), (2, 1, "q1")],
        ["k", "t", "who"],
    )
    right = spark.createDataFrame(
        [(1, 6, 60), (1, 9, 90), (1, 12, 120)], ["k", "t", "v"]
    )
    out = {
        r.who: r.v
        for r in asof_join_forward(left, right, "k", "t", "t", ["v"]).collect()
    }
    assert out["p5"] == 60     # strictly after
    assert out["p9"] == 90     # equal timestamp IS eligible (>=)
    assert out["p15"] is None  # nothing after
    assert out["q1"] is None   # no right rows for the key


def test_matryoshka_truncation_composes_with_topk(spark, sf_dir):
    from kcl_akka_stream_spark.queries import QUERIES

    rows = QUERIES["sim_matryoshka_report"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_exact == 5
        assert 0 <= r.n_hits <= 5
        assert r.overlap_pct == (r.n_hits * 100) // r.n_exact
