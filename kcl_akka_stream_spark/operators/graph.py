"""Iterative graph algorithms over DataFrames (PageRank).

The third iterative operator family next to connected components
(operators/dedup.py pointer-jumping) and Lloyd's k-means
(operators/clustering.py): rank propagation with a damping factor
(Brin & Page 1998, public).  Spark-first form: the edge list is a
DataFrame reused every round (cache it), each iteration is ONE
contribution aggregation shuffle keyed by destination, and ranks stay
node-sized.  No GraphX/RDD -- Catalyst handles the joins, and AQE
re-plans each round at runtime sizes.

Cross-engine exactness: ranks are integer MICRO-units throughout --
per-edge contribution is (rank * w) div deg (all BIGINT, positive, so
Spark's truncating div == DuckDB's flooring //), and damping is
150_000 + (85 * inflow) div 100.  Integer sums are partial-agg-order
independent, so an unrolled SQL oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000
BASE = 150_000  # (1 - d) * SCALE with d = 0.85


def _edge_base(edges: DataFrame) -> DataFrame:
    """The shared iteration base: (src, dst, w, deg), degree attached as a
    WINDOW over src (one exchange -- no separate agg + join pair), then
    eagerly localCheckpoint-ed.

    Checkpoint, not cache (VERDICT r7 #1): a cache miss (LRU eviction
    under memory pressure) silently re-runs the caller's FULL edge
    derivation inside every iteration join -- measured as a 10x
    steady-state collapse on a contended host.  The eager checkpoint
    truncates lineage, so the derivation runs exactly once per call, the
    per-call cost is DETERMINISTIC, and every iteration plan is shallow
    (fast to analyze, impossible to recompute deep).  The data-sized
    blocks are released by the ContextCleaner once the caller drops the
    frame -- no LRU-evictable cache is left behind."""
    from pyspark.sql import Window

    edges = edges.select("src", "dst", F.col("w").cast("long").alias("w"))
    return edges.withColumn(
        "deg", F.sum("w").over(Window.partitionBy("src"))
    ).localCheckpoint(eager=True)


def _maybe_bcast(node_sized: DataFrame, broadcast_scores: bool) -> DataFrame:
    """Broadcast hint on a NODE-sized score/label/frontier relation, opt-in
    only.  Default False everywhere (matching ``pagerank``): a node
    relation grows with the graph, and a hard-coded ``F.broadcast`` on it
    is an executor/driver OOM at billion-node scale, not a slowdown.
    Callers that can PROVE the node set fits an executor (bounded
    dimension graphs, fixture-scale benchmarks) pass
    ``broadcast_scores=True`` and skip the node-sized exchange; everyone
    else gets the shuffled join, which AQE still localizes at runtime
    sizes (including a runtime broadcast when statistics allow)."""
    return F.broadcast(node_sized) if broadcast_scores else node_sized


def _attach_ranks(ew: DataFrame, ranks: DataFrame, broadcast_ranks: bool):
    """One iteration's rank-attach join.  ``broadcast_ranks=True`` maps
    the node-sized ranks to every edge partition without shuffling or
    sorting the (checkpointed, src-partitioned) edge relation -- right
    whenever the node set fits an executor (most graphs: nodes are
    orders of magnitude fewer than edges).  False keeps the shuffled
    join for billion-node graphs whose rank table outgrows broadcast
    range; AQE still localizes the node-sized exchange."""
    return ew.join(_maybe_bcast(ranks, broadcast_ranks), ew.src == F.col("node"))


def pagerank(
    edges: DataFrame, iterations: int = 3, broadcast_ranks: bool = False
) -> DataFrame:
    """Damped PageRank over a weighted directed edge list (src, dst, w).

    EAGER: calling this materializes the result (the edge base and the
    final ranks are eager localCheckpoints); the returned DataFrame is a
    small checkpointed node-sized relation, not a lazy plan, so repeated
    actions on it are free.

    Every node reachable as a destination must also appear as a source
    (no dangling redistribution is performed) -- bipartite co-occurrence
    graphs symmetrized as (a->b, b->a) satisfy this by construction.
    Returns (node, rank_micro) for every node.

    Scale: edges is the data-sized relation; the (src, dst, w, deg) base
    is checkpointed ONCE, hash-partitioned by src, and every iteration
    touches only that base plus node-sized ranks.  Worst-case
    re-execution cost is bounded by the iterations themselves (cheap,
    node-sized aggregations over the checkpointed base), never by the
    caller's edge derivation.
    """
    if iterations < 1:
        # ADVICE r15 #3: the round-1 specialization assigns ranks inside
        # the loop, so iterations=0 would hit an AttributeError on the
        # final select instead of a clear contract error.
        raise ValueError(f"pagerank(iterations={iterations}): must be >= 1")
    ew = _edge_base(edges)
    ranks = None
    for it in range(iterations):
        if it == 0:
            # First iteration specialized (r15, the HITS round-1
            # pattern): every rank starts at SCALE, so the contribution
            # is (SCALE * w) div deg straight off the checkpointed edge
            # base -- the initial distinct-node rank table and the first
            # rank-attach join computed exactly this in two extra
            # passes (ABBA on graph_pagerank_topk: 2.692 -> 2.339 s;
            # ranks collect-compared identical).
            contrib = ew.select(
                "dst", F.expr(f"({SCALE} * w) div deg").alias("c")
            )
        else:
            contrib = _attach_ranks(ew, ranks, broadcast_ranks).select(
                "dst", F.expr("(r * w) div deg").alias("c")
            )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(BASE) + F.expr("(85 * inflow) div 100")).alias("r"),
            )
        )
    # Final node-sized eager checkpoint: the driver gate runs count +
    # collect as separate actions -- without it each action would re-run
    # the (bounded, but not free) iteration chain.
    return ranks.select(
        "node", F.col("r").alias("rank_micro")
    ).localCheckpoint(eager=True)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected simple graph.

    ``edges`` must be the canonical form: one row per undirected edge
    with ``src < dst`` (dedup + orient before calling).  The count uses
    the ORIENTED wedge join -- every triangle {a < b < c} is found
    exactly once as (a,b) join (b,c) join (a,c):

        wedges: E(a,b) x E(b,c) on the shared middle vertex (a < b < c
                holds by construction, so each wedge is built once), then
        close:  semi-join the wedge's (a,c) against E.

    Orientation is the standard trick that keeps the join tractable at
    scale: joining the unoriented adjacency would build every wedge
    twice and blow up on high-degree vertices; orienting by vertex id
    bounds each vertex's out-degree by its rank neighbors (the
    degree-ordering refinement drops in here if the id order correlates
    badly with degree).  Two shuffles of the edge relation; the close
    step is a semi-join, never a materialized wedge table.

    Output: one row (n_nodes, n_edges, n_triangles).
    """
    # The edge relation feeds FIVE subplans (both wedge sides, the
    # closing semi-join, the node set, the edge count); without
    # materialization each reference re-executes the caller's whole
    # edge-derivation (13 exchanges on the co-purchase build -- measured).
    # localCheckpoint once, like _learn_quantizer/kmeans.
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = ab.join(bc, "b")
    closed = wedges.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("c")),
        ["a", "c"],
        "left_semi",
    )
    nodes = e.select(F.col("src").alias("n")).union(
        e.select(F.col("dst").alias("n"))
    ).distinct()
    tri = closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    sizes = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges")).crossJoin(
        F.broadcast(nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
    )
    return F.broadcast(sizes).crossJoin(tri).select(
        "n_nodes", "n_edges", "n_triangles"
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node local clustering: triangles through each node vs wedges
    centered on it, as EXACT INTEGER counts (the coefficient is the
    caller's division -- kept rational here so external engines can
    verify bit-for-bit).

    Same canonical input contract as ``triangle_count`` (src < dst, one
    row per undirected edge).  Each oriented triangle (a < b < c)
    increments all three corners; wedges per node = deg*(deg-1)/2 over
    the UNDIRECTED degree.  Scale shape: the oriented wedge join from
    triangle_count plus one explode to corners and two key-sized aggs --
    the edge relation is checkpointed once and shared.

    Output: (node, degree, n_triangles, n_wedges) -- coefficient =
    n_triangles / n_wedges where n_wedges > 0.
    """
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    triangles = ab.join(bc, "b").join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("c")),
        ["a", "c"],
        "left_semi",
    )
    corners = triangles.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    tri_per_node = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    deg = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return (
        deg.join(tri_per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            (F.col("degree") * (F.col("degree") - 1) / 2)
            .cast("long")
            .alias("n_wedges"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    iterations: int = 3,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Personalized PageRank: the teleport mass concentrates on ``seeds``
    instead of spreading uniformly -- the random walker restarts at the
    seed set, so ranks measure proximity TO the seeds (the
    recommendation / related-items primitive).

    Same integer micro-unit discipline as ``pagerank``: per-seed base is
    ``150_000 // len(seeds)`` (integer division, so an unrolled SQL
    oracle matches bit-for-bit), non-seeds get base 0, initial rank is
    ``SCALE // len(seeds)`` on seeds else 0.  Each iteration:
    ``rank = base + (85 * inflow) div 100`` over ALL nodes (a node with
    no inflow keeps its base -- the left join matters: dropping
    zero-inflow nodes would silently erase seed restarts).

    Same edge contract and scale shape as ``pagerank``: (src, dst, w)
    directed with every dst also a src; the edge base is checkpointed
    src-partitioned once, iterations move node-sized ranks only.
    """
    n = len(seeds)
    if n == 0:
        raise ValueError("personalized_pagerank requires at least one seed")
    # Same lineage discipline as ``pagerank``: eager checkpoint of the
    # (src, dst, w, deg) base, so steady-state cost never depends on
    # cache residency.
    ew = _edge_base(edges)
    seed_col = F.col("node").isin(seeds)
    # base is node-sized and referenced in EVERY iteration's left join --
    # checkpoint it once so iterations never re-derive the node set.
    base = (
        ew.select(F.col("src").alias("node"))
        .distinct()
        .select(
            "node",
            F.when(seed_col, F.lit(BASE // n)).otherwise(F.lit(0))
            .cast("long")
            .alias("base"),
        )
        .localCheckpoint(eager=True)
    )
    ranks = base.select(
        "node",
        F.when(seed_col, F.lit(SCALE // n)).otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    for _ in range(iterations):
        contrib = _attach_ranks(ew, ranks, broadcast_ranks).select(
            "dst", F.expr("(r * w) div deg").alias("c")
        )
        # One combinable aggregation per iteration: stack the node-sized
        # base (teleport mass, c=0) under the raw contributions (b=0)
        # and fold both sums in a single hash aggregate -- the former
        # inflow groupBy + base left join paid a second exchange for the
        # same reduction.  sum(b) recovers the base (one base row per
        # node), sum(c) the inflow (0 for no-inflow nodes, so the
        # zero-inflow teleport restart is preserved); every dst is also
        # a src by the edge contract, so the row sets are identical to
        # the join form (collect-compared on the fixture graph).
        stacked = base.select(
            "node",
            F.col("base").alias("b"),
            F.lit(0).cast("long").alias("c"),
        ).unionByName(
            contrib.select(
                F.col("dst").alias("node"),
                F.lit(0).cast("long").alias("b"),
                "c",
            )
        )
        ranks = stacked.groupBy("node").agg(
            (F.sum("b") + F.expr("(85 * sum(c)) div 100")).alias("r")
        )
    return ranks.select(
        "node", F.col("r").alias("rank_micro")
    ).localCheckpoint(eager=True)


def label_propagation(
    edges: DataFrame, iterations: int = 2, broadcast_scores: bool = False
) -> DataFrame:
    """Synchronous weighted label propagation (Raghavan et al. 2007,
    public) -- the community-detection rung of the graph family next to
    connected components (min-label, finds *components*) and PageRank
    (ranks, not partitions).

    Each round, every node adopts the label carrying the LARGEST total
    incoming edge weight among its neighbors' current labels, ties
    broken by the SMALLEST label -- fully deterministic, so an unrolled
    SQL oracle reproduces every round bit-for-bit (the usual LPA
    random-order/random-tie variants are deliberately rejected: a
    correctness gate cannot hash a coin flip).  Labels start as the node
    id.  Input contract matches ``pagerank``: directed (src, dst, w)
    with every node appearing as a source (symmetrize first).

    Scale shape: the (src, dst, w) base is checkpointed once
    (src-partitioned); each round is one rank-attach join (node-sized
    labels -- shuffled by default, ``broadcast_scores=True`` opts into the
    broadcast when the node set provably fits, see ``_maybe_bcast``),
    one (dst, label)-keyed combinable sum, and one dst-keyed arg-max --
    ``min(struct(-votes, label))``, a COMBINABLE aggregate (partial
    min map-side, no sort), exactly equivalent to the former
    row_number-over-(votes DESC, label ASC) window because votes are
    positive longs: negating flips the order and the struct comparison
    breaks ties on the smaller label.  Bounded by edges, map-side
    combined to (node x distinct incoming label), never materializing
    per-edge state across rounds.

    Returns (node, label) for every node after ``iterations`` rounds.
    """
    if iterations < 1:
        # ADVICE r15 #3: same contract guard as pagerank/hits -- the
        # round-1 specialization assigns labels inside the loop.
        raise ValueError(
            f"label_propagation(iterations={iterations}): must be >= 1"
        )
    e = edges.select(
        "src", "dst", F.col("w").cast("long").alias("w")
    ).localCheckpoint(eager=True)
    labels = None
    for it in range(iterations):
        if it == 0:
            # First round specialized (r15, the HITS round-1 pattern):
            # labels start as the node id, so round-1 votes are a plain
            # groupBy(dst, src) edge aggregation -- no initial distinct
            # label table, no first label-attach join (ABBA on
            # graph_label_propagation: 3.748 -> 2.953 s; labels
            # collect-compared identical).
            votes = e.groupBy(
                "dst", F.col("src").alias("label")
            ).agg(F.sum("w").cast("long").alias("votes"))
        else:
            votes = (
                e.join(
                    _maybe_bcast(labels, broadcast_scores),
                    e.src == labels.node,
                )
                .groupBy("dst", "label")
                .agg(F.sum("w").cast("long").alias("votes"))
            )
        labels = (
            votes.groupBy("dst")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("votes")).alias("nv"), F.col("label")
                    )
                ).alias("__pick")
            )
            .select(F.col("dst").alias("node"), F.col("__pick.label").alias("label"))
        )
    return labels.localCheckpoint(eager=True)


def neighbor_jaccard(
    edges: DataFrame, min_common: int = 1, broadcast_scores: bool = False
) -> DataFrame:
    """Link prediction by neighbor-set Jaccard (Liben-Nowell & Kleinberg
    2003, public): for every NON-edge pair (u < v) sharing at least
    ``min_common`` neighbors, |N(u) n N(v)| / |N(u) u N(v)| -- the
    "you may also like" primitive over a co-occurrence graph.

    Input contract matches ``triangle_count``: canonical undirected
    simple edges, one row per edge with src < dst.  Common-neighbor
    counts come from the wedge join on the full (symmetrized) adjacency
    -- each candidate pair (u < v) is counted once per shared neighbor
    b via adj(b, u) x adj(b, v) with u < v -- then degrees attach from
    one node-sized aggregate and existing edges drop via an anti-join.
    The score is EXACT integer micro-units: common * 1e6 div
    (deg_u + deg_v - common), so external engines verify bit-for-bit.

    Scale shape: one wedge self-join keyed on the shared neighbor (the
    triangle_count shuffle), one (u, v)-keyed combinable count, a
    node-sized degree attach (shuffled by default; ``broadcast_scores=
    True`` opts into the broadcast when the node set provably fits --
    see ``_maybe_bcast``), one anti-join against the edge relation.  High-degree hubs dominate wedge volume exactly as
    in triangle counting -- cap or sample hub adjacency upstream for
    power-law graphs.

    Returns (u, v, n_common, deg_u, deg_v, jaccard_micro).
    """
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    adj = e.select(F.col("src").alias("n"), F.col("dst").alias("nbr")).union(
        e.select(F.col("dst").alias("n"), F.col("src").alias("nbr"))
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    a1 = adj.select(F.col("nbr").alias("b"), F.col("n").alias("u"))
    a2 = adj.select(F.col("nbr").alias("b"), F.col("n").alias("v"))
    common = (
        a1.join(a2, "b")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    non_edges = common.join(
        e.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    du = _maybe_bcast(
        deg.select(F.col("n").alias("u"), F.col("deg").alias("deg_u")),
        broadcast_scores,
    )
    dv = _maybe_bcast(
        deg.select(F.col("n").alias("v"), F.col("deg").alias("deg_v")),
        broadcast_scores,
    )
    return (
        non_edges.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "n_common",
            "deg_u",
            "deg_v",
            F.expr("(n_common * 1000000) div (deg_u + deg_v - n_common)")
            .cast("long")
            .alias("jaccard_micro"),
        )
    )


def degree_histogram(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    label: str | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """Degree distribution of one side of an edge relation: distinct
    neighbors per src node, then the (degree, n_nodes) histogram -- the
    first diagnostic every graph pipeline runs (hub detection, skew
    sizing for the iteration shuffles, power-law sanity check).

    Scale shape: the neighbor dedup fuses into the node-keyed aggregate
    (partial-distinct map-side, one shuffle), then one degree-keyed
    count -- the histogram relation is bounded by the max degree, never
    the node count.  ``label`` tags the output rows so several
    sides/graphs union into one report.  When BOTH sides of the same
    edge set are profiled, dedup the pairs once, checkpoint, and pass
    ``assume_distinct=True`` so each side pays a plain count instead of
    re-dedup-ing (queries/pipeline.py::graph_degree_stats does this).
    """
    per_node = (
        F.count(F.lit(1)) if assume_distinct else F.countDistinct(dst_col)
    )
    deg = (
        edges.select(src_col, dst_col)
        .groupBy(src_col)
        .agg(per_node.cast("long").alias("degree"))
    )
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    if label is not None:
        hist = hist.select(F.lit(label).alias("side"), "degree", "n_nodes")
    return hist


def kcore_peel(
    edges: DataFrame, k: int = 2, rounds: int = 3, broadcast_scores: bool = False
) -> DataFrame:
    """Iterative k-core peeling (Seidman 1983, public): each round drops
    every node whose current undirected degree is below ``k`` and every
    edge touching one -- after enough rounds the survivors are the
    k-core, the standard dense-subgraph / spam-farm / nucleus filter a
    graph pipeline runs before expensive per-node work.

    Fixed ``rounds`` (not run-to-convergence) keeps the computation a
    finite unrollable relation -- an external SQL engine reproduces it
    exactly -- and bounds worst-case cost; callers wanting the true core
    raise ``rounds`` until the edge count stops changing (each round's
    relation is checkpointed, so the incremental cost is one round, and
    peeling is monotone -- extra rounds past convergence are no-ops).

    Input contract matches ``triangle_count``: canonical undirected
    simple edges (src < dst).  Each round: one node-sized degree
    aggregate + two semi-joins against the (broadcastable, shrinking)
    surviving-node set (shuffled semi-joins by default;
    ``broadcast_scores=True`` opts into broadcasting the survivor set
    when it provably fits -- see ``_maybe_bcast``); the edge relation is
    eagerly checkpointed per round so the next round's plan stays
    shallow.  Returns the
    surviving (node, degree) after the last round.
    """
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    for _ in range(rounds):
        deg = (
            e.select(F.col("src").alias("n"))
            .union(e.select(F.col("dst").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        )
        keep = _maybe_bcast(
            deg.filter(F.col("d") >= k).select("n"), broadcast_scores
        )
        e = (
            e.join(keep.select(F.col("n").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("n").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    return (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


def bfs_distance(
    edges: DataFrame,
    seeds: list,
    rounds: int = 3,
    broadcast_scores: bool = False,
) -> DataFrame:
    """Multi-source BFS distance, ``rounds`` hops: the proximity label
    behind "within k hops of a trusted/flagged set" (fraud rings,
    moderation blast radius, recommendation seeds).  It is
    ``weighted_distance`` over a unit ``cost`` column, so distances are
    exact hop counts for every node reached within ``rounds``; unreached
    nodes are absent.

    Input: directed (src, dst) with the symmetrized contract of
    ``pagerank`` for undirected graphs.  Returns (node, dist) with dist in
    [0, rounds].
    """
    return weighted_distance(
        edges.select("src", "dst", F.lit(1).alias("cost")),
        seeds,
        rounds,
        broadcast_scores,
    )


def weighted_distance(
    edges: DataFrame,
    seeds: list,
    rounds: int = 3,
    broadcast_scores: bool = False,
) -> DataFrame:
    """Bounded Bellman-Ford: min-cost distance from a seed set over a
    weighted edge list (src, dst, cost), ``rounds`` relaxation rounds --
    i.e. the exact cheapest cost over paths of at most ``rounds`` edges
    (public min-plus relaxation; Bellman 1958).  Additive integer costs
    give the "how strongly connected is this node to the trusted set"
    signal; unit costs give ``bfs_distance``'s hop counts.

    Scale discipline: the edge relation is checkpointed ONCE, the
    distance relation stays node-sized and checkpoints each round (a
    cache miss costs one round, not the whole derivation), each round is
    one distance-attach join (shuffled by default; ``broadcast_scores=
    True`` opts into the broadcast when the reached set provably fits --
    see ``_maybe_bcast``) + one min-combine.  Monotone in rounds (longer
    paths can only add alternatives to the min, so extra rounds past the
    diameter are no-ops).  Integer costs -> deterministic,
    oracle-unrollable.

    Returns (node, dist) for every node reachable within ``rounds``.
    """
    if not seeds:
        raise ValueError("distance search requires at least one seed")
    e = edges.select(
        "src", "dst", F.col("cost").cast("long").alias("cost")
    ).localCheckpoint(eager=True)
    spark = e.sparkSession
    dist = spark.createDataFrame(
        [(int(s), 0) for s in seeds], "node long, dist long"
    )
    for _ in range(rounds):
        # One combinable min-aggregation per round: the relaxed edge-sized
        # relation unions with the standing node-sized distances and a
        # single hash aggregate takes the min (min over the union equals
        # min over per-key pre-mins, and the partial map-side combine does
        # the same reduction an inner groupBy("dst") would pay a second
        # exchange for).
        relaxed = e.join(
            _maybe_bcast(dist, broadcast_scores), e.src == dist.node
        ).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("cost")).alias("dist"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist


#: hits() hard bound: unnormalized int64 scores grow ~(mean weighted
#: degree)^2 per round -- past this many rounds a dense graph can silently
#: overflow, so the operator RAISES instead of returning garbage (the same
#: guard style connected_components uses for max_iterations).
HITS_MAX_ITERATIONS = 4


def hits(
    edges: DataFrame, iterations: int = 2, broadcast_scores: bool = False
) -> tuple[DataFrame, DataFrame]:
    """HITS hubs & authorities (Kleinberg 1999, public) over a weighted
    directed edge list (src, dst, w), in EXACT int64 arithmetic: hub
    scores start at 1, ``auth(v) = sum_{u->v} w * hub(u)`` and
    ``hub(u) = sum_{u->v} w * auth(v)`` alternate for ``iterations``
    rounds with NO normalization -- over a bounded round count the raw
    integer scores rank identically to the normalized ones (positive
    scale factors per round), and integer sums are partial-agg-order
    independent, so an unrolled SQL oracle matches bit-for-bit.  The
    unnormalized magnitude grows by ~(mean weighted degree)^2 per round:
    int64-safe for small ``iterations`` only, so ``iterations`` is
    HARD-BOUNDED to [1, HITS_MAX_ITERATIONS] -- out of range raises
    ValueError (never garbage; implement SCALE-aware normalization
    before lifting the bound on dense graphs).

    Returns ``(hubs, auths)``: node-sized (node, hub) / (node, auth)
    relations, both eagerly checkpointed.  Scale shape: the edge base is
    checkpointed ONCE; each half-round is one attach of a node-sized
    score table (shuffled by default; ``broadcast_scores=True`` opts
    into the broadcast when the node set provably fits -- see
    ``_maybe_bcast``) + one combinable sum keyed by the opposite
    endpoint.
    """
    if not 1 <= iterations <= HITS_MAX_ITERATIONS:
        raise ValueError(
            f"hits(iterations={iterations}): must be in "
            f"[1, {HITS_MAX_ITERATIONS}] -- unnormalized int64 scores grow "
            "~(mean weighted degree)^2 per round and overflow past the bound"
        )
    ew = edges.select(
        "src", "dst", F.col("w").cast("long").alias("w")
    ).localCheckpoint(eager=True)
    hubs = None
    auths = None
    for it in range(iterations):
        if it == 0:
            # First half-round specialized (r15): every hub starts at 1,
            # so auth(v) = sum_{u->v} w * 1 is a plain edge aggregation
            # -- the initial distinct-node hub table and the first
            # score-attach join computed exactly this, two passes more
            # expensively (ABBA on graph_hits_topk: 2.712 -> 2.352 s;
            # scores collect-compared identical).
            auths = (
                ew.groupBy("dst")
                .agg(F.sum("w").cast("long").alias("auth"))
                .select(F.col("dst").alias("node"), "auth")
            )
        else:
            auths = (
                ew.join(
                    _maybe_bcast(hubs, broadcast_scores), ew.src == hubs.node
                )
                .groupBy("dst")
                .agg(F.sum(F.col("w") * F.col("hub")).cast("long").alias("auth"))
                .select(F.col("dst").alias("node"), "auth")
            )
        hubs = (
            ew.join(_maybe_bcast(auths, broadcast_scores), ew.dst == auths.node)
            .groupBy("src")
            .agg(F.sum(F.col("w") * F.col("auth")).cast("long").alias("hub"))
            .select(F.col("src").alias("node"), "hub")
        )
    return hubs.localCheckpoint(eager=True), auths.localCheckpoint(eager=True)
