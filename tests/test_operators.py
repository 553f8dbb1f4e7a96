"""Unit tests for the batch operator library (SURVEY §2.2-§2.7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kcl_akka_stream_spark.operators.aggregations import dedup_and_group_by_key, group_by_key
from kcl_akka_stream_spark.operators.joins import asof_join, range_join_bucketed
from kcl_akka_stream_spark.operators.merges import except_all, intersect_all, merge
from kcl_akka_stream_spark.operators.projections import filter_bootstrap, flatten, grouped
from kcl_akka_stream_spark.operators.windows import sessionize, top_k_per_group


def test_group_by_key_preserves_order_and_duplicates(spark):
    # IT/MessageUtilTest.scala:9-13 -- duplicates kept, order preserved.
    df = spark.createDataFrame(
        [("k1", "m1", 0), ("k2", "m1", 1), ("k2", "m1", 2), ("k1", "m2", 3)],
        "key string, msg string, o long",
    )
    got = {r.key: r["values"] for r in group_by_key(df, "key", "msg", "o").collect()}
    assert got == {"k1": ["m1", "m2"], "k2": ["m1", "m1"]}


def test_dedup_and_group_by_key(spark):
    df = spark.createDataFrame(
        [("k1", "m1", 0), ("k1", "m2", 1), ("k1", "m1", 2), ("k1", "m3", 3)],
        "key string, msg string, o long",
    )
    got = {r.key: r["values"] for r in dedup_and_group_by_key(df, "key", "msg", "o").collect()}
    assert got == {"k1": ["m1", "m2", "m3"]}


def test_merge_and_set_ops(spark):
    a = spark.createDataFrame([(1,), (2,), (2,)], "x long")
    b = spark.createDataFrame([(2,), (3,)], "x long")
    assert sorted(r.x for r in merge(a, b).collect()) == [1, 2, 2, 2, 3]
    assert sorted(r.x for r in except_all(a, b).collect()) == [1, 2]
    assert sorted(r.x for r in intersect_all(a, b).collect()) == [2]


def test_merge_requires_input():
    with pytest.raises(ValueError):
        merge()


def test_filter_bootstrap(spark):
    df = spark.createDataFrame([("bootstrap_1",), ("key_1",)], "partitionKey string")
    assert [r.partitionKey for r in filter_bootstrap(df).collect()] == ["key_1"]


def test_flatten_and_grouped(spark):
    df = spark.createDataFrame([(1, ["a", "b"]), (2, ["c"])], "id long, xs array<string>")
    out = flatten(df, "xs", "x")
    assert sorted((r.id, r.x) for r in out.collect()) == [(1, "a"), (1, "b"), (2, "c")]

    df2 = spark.createDataFrame([(i,) for i in range(25)], "seq long")
    batches = grouped(df2, 10, "seq").groupBy("batch_id").count().collect()
    assert {r.batch_id: r["count"] for r in batches} == {0: 10, 1: 10, 2: 5}


def test_range_join_bucketed(spark):
    facts = spark.createDataFrame([(0.5,), (10.0,), (25.0,), (99.9,)], "value double")
    buckets = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 50.0), ("high", 50.0, 100.0)],
        "name string, lo double, hi double",
    )
    out = range_join_bucketed(facts, buckets, "value", "lo", "hi", bucket_width=7.0)
    got = sorted((r.value, r.name) for r in out.collect())
    assert got == [(0.5, "low"), (10.0, "mid"), (25.0, "mid"), (99.9, "high")]


def test_asof_join(spark):
    left = spark.createDataFrame([("k", 10, "p1"), ("k", 20, "p2"), ("k", 5, "p0")], "k string, t long, p string")
    right = spark.createDataFrame([("k", 8, 100), ("k", 15, 200), ("k", 20, 300)], "k string, t long, v long")
    out = asof_join(left, right, "k", "t", "t", ["v"])
    got = {r.p: r.v for r in out.collect()}
    # p0@5: no right <= 5 -> NULL; p1@10: right@8 -> 100; p2@20: right@20 (<=) -> 300
    assert got == {"p0": None, "p1": 100, "p2": 300}


def test_top_k_deterministic(spark):
    df = spark.createDataFrame(
        [("g", 1, 5.0), ("g", 2, 5.0), ("g", 3, 1.0)], "g string, id long, v double"
    )
    out = top_k_per_group(df, "g", [F.col("v").desc(), F.col("id")], 2).collect()
    assert [(r.id, r.rnk) for r in sorted(out, key=lambda r: r.rnk)] == [(1, 1), (2, 2)]


def test_sessionize(spark):
    df = spark.createDataFrame(
        [("u", 0), ("u", 100), ("u", 4000), ("u", 4100), ("u", 10000)], "k string, ts long"
    )
    df = df.withColumn("ts", F.timestamp_seconds("ts"))
    out = sessionize(df, "k", "ts", gap_seconds=1800)
    assert [r.session_id for r in out.orderBy("ts").collect()] == [1, 1, 2, 2, 3]


def test_registry_contract():
    # Driver-contract invariants: every oracle key has a query, names are
    # unique and stable, and both dicts are non-trivially large.
    from kcl_akka_stream_spark.queries import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES)
    assert len(QUERIES) >= 68
    assert all(n == n.lower() and " " not in n for n in QUERIES)


def test_token_runs_udtf_logic():
    # The UDTF's sequential RLE logic, exercised directly: run_idx counts
    # ALL runs (singletons included), only runs >= 2 emit, trailing runs
    # are not lost, and None/empty inputs emit nothing.
    from kcl_akka_stream_spark.functions.udtfs import TokenRuns

    inner = TokenRuns.func
    assert list(inner().eval("a a b c c c")) == [(1, "a", 2), (3, "c", 3)]
    assert list(inner().eval("x x")) == [(1, "x", 2)]
    assert list(inner().eval("a b c")) == []
    assert list(inner().eval(None)) == []
    assert list(inner().eval("")) == []
    # whitespace runs collapse like \S+ tokenization
    assert list(inner().eval("  a\t a \n b ")) == [(1, "a", 2)]


def test_doc_stats_arrow_multibyte_and_empty(spark):
    # n_chars counts codepoints, n_bytes UTF-8 bytes -- they must diverge
    # on non-ASCII text; empty docs report zeros rather than vanishing.
    from kcl_akka_stream_spark.operators.arrow_ops import doc_stats_arrow

    df = spark.createDataFrame(
        [(1, "héllo wörld"), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_chars, r.n_bytes, r.n_tokens)
           for r in doc_stats_arrow(df).collect()}
    assert got == {1: (11, 13, 2), 2: (0, 0, 0), 3: (3, 3, 2)}


def test_lateral_topk_decorrelates(spark, sf_dir):
    # The lateralJoin must NOT survive as a per-row nested loop: Catalyst
    # decorrelates it into partial-top-k (WindowGroupLimit) + row_number
    # + one equi-join.  A CartesianProduct here would be the 100 TB
    # scale-killer this query exists to disprove.
    from kcl_akka_stream_spark.plans.hygiene import has_cartesian_product
    from kcl_akka_stream_spark.plans.hygiene import physical_plan
    from kcl_akka_stream_spark.queries import QUERIES

    df = QUERIES["j_lateral_topk"](spark, sf_dir)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert not has_cartesian_product(df)


def test_multiset_except_intersect_all(spark):
    # exceptAll keeps max(m_l - m_r, 0) copies; intersectAll keeps
    # min(m_l, m_r) -- the duplicate-preserving semantics EXCEPT and
    # INTERSECT (distinct) erase.  Spark implements both as a count
    # agg + replicate, NOT a row-pairing join -- scale is groupBy-like.
    l = spark.createDataFrame([(1,), (1,), (1,), (2,), (3,)], "k long")
    r = spark.createDataFrame([(1,), (2,), (2,)], "k long")
    exc = sorted(x.k for x in l.exceptAll(r).collect())
    assert exc == [1, 1, 3]
    inter = sorted(x.k for x in l.intersectAll(r).collect())
    assert inter == [1, 2]


def test_unpivot_is_map_side_expand(spark, sf_dir):
    # wide->long must be an Expand over the agg output, never a shuffle
    # of its own: exactly the one exchange feeding the brand agg.
    from kcl_akka_stream_spark.plans.hygiene import count_exchanges, physical_plan
    from kcl_akka_stream_spark.queries import QUERIES

    df = QUERIES["agg_unpivot_brand_metrics"](spark, sf_dir)
    assert "Expand" in physical_plan(df)
    assert count_exchanges(df) <= 1


def test_grouped_agg_udaf_over_window(spark, sf_dir):
    # The GROUPED_AGG pandas UDF doubles as a WINDOW aggregate (unbounded
    # frame): per-row medians must agree exactly with the groupBy form.
    from pyspark.sql import Window

    from kcl_akka_stream_spark.functions.pandas_udfs import exact_median
    from kcl_akka_stream_spark.queries.registry import tbl

    o = tbl(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    via_window = {
        (r.o_orderpriority, r.med)
        for r in o.select(
            "o_orderpriority", exact_median("o_totalprice").over(w).alias("med")
        )
        .distinct()
        .collect()
    }
    via_group = {
        (r.o_orderpriority, r.med)
        for r in o.groupBy("o_orderpriority")
        .agg(exact_median("o_totalprice").alias("med"))
        .collect()
    }
    assert via_window == via_group and len(via_group) == 5


def test_triangle_count_on_known_graph(spark):
    # K4 minus one edge has exactly 2 triangles; plus an isolated edge
    # and a disconnected path (no triangles).  Canonical src<dst input.
    from kcl_akka_stream_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4),  # K4 minus (3,4)
            (10, 11),                                  # isolated edge
            (20, 21), (21, 22),                        # path, open wedge
        ],
        "src long, dst long",
    )
    row = triangle_count(edges).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (9, 8, 2)


def test_pagerank_broadcast_flag_and_id_encoding_are_invisible(spark):
    # The broadcast_ranks physical knob and the node-id representation
    # (string vs injectively-encoded long) must never change a single
    # rank -- they are plan choices, not semantics.  Ring + chord graph,
    # symmetrized so every dst is a src.
    from kcl_akka_stream_spark.operators.graph import pagerank

    raw = [(1, 2, 2), (2, 3, 1), (3, 4, 1), (4, 1, 3), (1, 3, 1)]
    sym = raw + [(d, s, w) for (s, d, w) in raw]
    as_long = spark.createDataFrame(sym, "src long, dst long, w long")
    as_str = spark.createDataFrame(
        [(f"n{s}", f"n{d}", w) for (s, d, w) in sym],
        "src string, dst string, w long",
    )
    smj = {r.node: r.rank_micro for r in pagerank(as_long, 3).collect()}
    bc = {
        r.node: r.rank_micro
        for r in pagerank(as_long, 3, broadcast_ranks=True).collect()
    }
    s = {
        int(r.node[1:]): r.rank_micro
        for r in pagerank(as_str, 3, broadcast_ranks=True).collect()
    }
    assert smj == bc == s and len(smj) == 4
    # micro-unit conservation sanity: total rank stays near n * SCALE
    assert abs(sum(smj.values()) - 4_000_000) < 4_000


def test_personalized_pagerank_seed_mass_and_broadcast_parity(spark):
    from kcl_akka_stream_spark.operators.graph import personalized_pagerank

    raw = [(1, 2, 1), (2, 3, 1), (3, 1, 1), (3, 4, 1), (4, 3, 2)]
    sym = raw + [(d, s, w) for (s, d, w) in raw]
    edges = spark.createDataFrame(sym, "src long, dst long, w long")
    a = {
        r.node: r.rank_micro
        for r in personalized_pagerank(edges, [1], 3).collect()
    }
    b = {
        r.node: r.rank_micro
        for r in personalized_pagerank(
            edges, [1], 3, broadcast_ranks=True
        ).collect()
    }
    assert a == b and len(a) == 4
    # teleport mass concentrates near the seed: the seed outranks the
    # node farthest from it
    assert a[1] > a[4]


def test_kmv_set_estimates_exact_below_k(spark):
    # Below k the sketch keeps every hash, so the "estimates" must be
    # EXACT set sizes: |A|=6, |B|=5, |A u B|=8, |A n B|=3, J=3/8.
    from kcl_akka_stream_spark.operators.sketches import kmv_set_estimates

    a = spark.createDataFrame([(v,) for v in [1, 2, 3, 4, 5, 6]], "v long")
    b = spark.createDataFrame([(v,) for v in [4, 5, 6, 7, 8]], "v long")
    row = kmv_set_estimates(a, b, "v", k=64).collect()[0]
    assert (row.n_a_kept, row.n_b_kept, row.n_union_kept) == (6, 5, 8)
    assert row.est_union == 8.0
    assert row.n_both == 3
    assert row.jaccard_est == round(3 / 8, 4)
    assert row.est_intersection == 3.0


def test_interval_overlap_join_matches_brute_force(spark):
    # Bucketed overlap join must equal the theta-join on adversarial
    # shapes: spans crossing grain boundaries, nesting, touching
    # endpoints (closed intervals overlap), and disjoint gaps.
    import datetime as dt

    from pyspark.sql import functions as F

    from kcl_akka_stream_spark.operators.joins import interval_overlap_join

    def mk(rows, i, s, e):
        return spark.createDataFrame(
            [
                (k, dt.datetime(2024, 1, a), dt.datetime(2024, 1, b))
                for (k, a, b) in rows
            ],
            f"{i} long, {s} timestamp, {e} timestamp",
        )

    a = mk([(1, 1, 10), (2, 5, 6), (3, 20, 25), (4, 28, 31)],
           "a_id", "a_start", "a_end")
    b = mk([(10, 10, 12), (20, 2, 3), (30, 26, 27), (40, 31, 31)],
           "b_id", "b_start", "b_end")
    got = {
        (r.a_id, r.b_id, r.overlap_days)
        for r in interval_overlap_join(a, b, grain_days=7).collect()
    }
    brute = a.crossJoin(b).filter(
        (F.col("a_start") <= F.col("b_end"))
        & (F.col("b_start") <= F.col("a_end"))
    ).select(
        "a_id",
        "b_id",
        (
            F.datediff(
                F.least("a_end", "b_end"), F.greatest("a_start", "b_start")
            )
            + 1
        ).cast("long").alias("overlap_days"),
    )
    want = {(r.a_id, r.b_id, r.overlap_days) for r in brute.collect()}
    assert got == want
    # the touching-endpoint pair is present (closed-interval semantics)
    assert (1, 10, 1) in got and (4, 40, 1) in got


def test_pq_assign_reconstructs_codebook_and_rejects_ragged(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from kcl_akka_stream_spark.operators.clustering import pq_assign

    # 4-dim vectors, m=2 subspaces; codebook = vectors 0 and 1.  Vector 2
    # is codebook 0's first half and codebook 1's second half -> its PQ
    # codes must be (0, 1) with d2_micro2 = 0 in both subspaces.
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 1.0, 1.0, 1.0]),
        (2, [0.0, 0.0, 1.0, 1.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_assign(vecs, vecs.filter(F.col("vec_id") < 2), m=2)
    got = {(r.vec_id, r.sub_id): (r.code, r.d2_micro2) for r in out.collect()}
    assert got[(2, 0)] == (0, 0)
    assert got[(2, 1)] == (1, 0)
    # every codebook vector encodes to itself exactly
    assert got[(0, 0)] == (0, 0) and got[(1, 1)] == (1, 0)
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="not divisible"):
        pq_assign(ragged, ragged, m=2)


def test_pq_encode_map_only_matches_pq_assign(spark, sf_dir):
    # The map-only literal-codebook encode must reproduce the
    # compositional broadcast-assign form EXACTLY (same fold order, same
    # tie-break, same rounding) while planning ZERO exchanges.
    from pyspark.sql import functions as F

    from kcl_akka_stream_spark.operators.clustering import pq_assign, pq_encode
    from kcl_akka_stream_spark.plans.hygiene import count_exchanges
    from kcl_akka_stream_spark.queries.registry import tbl

    emb = tbl(spark, sf_dir, "embeddings")
    cb = emb.filter(F.col("vec_id") < 8)
    a = {(r.vec_id, r.sub_id): (r.code, r.d2_micro2)
         for r in pq_assign(emb, cb, m=4).collect()}
    e_df = pq_encode(emb, cb, m=4)
    e = {(r.vec_id, r.sub_id): (r.code, r.d2_micro2) for r in e_df.collect()}
    assert a == e and len(e) > 0
    assert count_exchanges(e_df) == 0
    # codebook-size guard trips loudly instead of collecting a corpus
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_codebook_rows"):
        pq_encode(emb, emb, m=4, max_codebook_rows=16)


def test_graph_broadcast_scores_default_never_hints(spark, monkeypatch):
    # VERDICT r9 #1: every iterative graph operator must default to the
    # SHUFFLED score/label/frontier join (a node-sized relation grows
    # with the graph; a forced broadcast is an OOM at billion-node
    # scale).  Spy on the module's F.broadcast: with the default
    # broadcast_scores=False NONE of the six operators may hint, and the
    # opt-in True path must produce IDENTICAL results (it is a plan
    # knob, not semantics).
    from kcl_akka_stream_spark.operators import graph

    calls = []
    real_broadcast = graph.F.broadcast

    def spy(df):
        calls.append(1)
        return real_broadcast(df)

    raw = [(1, 2, 2), (2, 3, 1), (3, 4, 1), (4, 1, 3), (1, 3, 1)]
    sym = raw + [(d, s, w) for (s, d, w) in raw]
    ew = spark.createDataFrame(sym, "src long, dst long, w long")
    canon = spark.createDataFrame(
        sorted({(min(s, d), max(s, d)) for (s, d, _) in sym}),
        "src long, dst long",
    )

    def run(flag):
        return (
            sorted(map(tuple, graph.label_propagation(ew, 2, broadcast_scores=flag).collect())),
            sorted(map(tuple, graph.neighbor_jaccard(canon, broadcast_scores=flag).collect())),
            sorted(map(tuple, graph.kcore_peel(canon, k=2, rounds=2, broadcast_scores=flag).collect())),
            sorted(map(tuple, graph.bfs_distance(ew, [1], rounds=2, broadcast_scores=flag).collect())),
            sorted(map(tuple, graph.weighted_distance(
                ew.withColumnRenamed("w", "cost"), [1], rounds=2, broadcast_scores=flag
            ).collect())),
            tuple(
                sorted(map(tuple, part.collect()))
                for part in graph.hits(ew, 2, broadcast_scores=flag)
            ),
        )

    monkeypatch.setattr(graph.F, "broadcast", spy)
    default_results = run(False)
    assert not calls, "default broadcast_scores=False must never hint"
    hinted_results = run(True)
    assert calls, "broadcast_scores=True must hint"
    assert default_results == hinted_results


def test_graph_default_plan_has_no_broadcast_exchange(spark):
    # Direct physical-plan pin (the lazy operator in the family):
    # with auto-broadcast disabled, the default neighbor_jaccard plan
    # contains NO BroadcastExchange; the opt-in plan does.
    from kcl_akka_stream_spark.operators.graph import neighbor_jaccard
    from kcl_akka_stream_spark.plans.hygiene import physical_plan

    canon = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)], "src long, dst long"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert "BroadcastExchange" not in physical_plan(neighbor_jaccard(canon))
        assert "BroadcastExchange" in physical_plan(
            neighbor_jaccard(canon, broadcast_scores=True)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_hits_iterations_hard_bound(spark):
    # VERDICT r9 #4 / ADVICE: hits(iterations=0) used to crash with
    # AttributeError on auths=None, and past 4 rounds unnormalized int64
    # scores can silently overflow.  Both must RAISE, never garbage.
    import pytest as _pytest

    from kcl_akka_stream_spark.operators.graph import hits

    ew = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    for bad in (0, -1, 5):
        with _pytest.raises(ValueError, match="hits"):
            hits(ew, iterations=bad)
