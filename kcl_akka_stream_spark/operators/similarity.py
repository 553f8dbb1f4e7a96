"""Similarity search over the ``embeddings`` table (array<float> column).

Beyond-reference extension (no counterpart in /root/reference; the
BASELINE.json north star).  Tiers for the 100 TB posture:

- exact scoring (the exactness baseline): every float dot product, norm
  and cosine the engine writes as a Spark expression is ``dot``/``cosine``
  -- a JVM-side ``F.aggregate``/``zip_with`` fold, no Python.  The broadcast-queries
  operators (``brute_force_topk``, ``mips_topk``, ``range_search``, the
  LSH/IVF probes, the int8 and Rocchio second rounds) share one scoring
  join (``_broadcast_score``: small query side broadcast, so the corpus
  never shuffles, self-matches excluded) and one rank kernel
  (``_rank_topk``: per-query ``row_number`` over ``(score desc, n_id)``,
  kept while <= k);
- IVF (inverted-file) ANN: corpus pre-clustered (here: by its ``label``
  column as the deterministic cluster assignment, centroids = cluster
  means); a query probes only its nearest centroid's cluster -- the scan
  shrinks by the cluster fan-out, the classic coarse-quantizer trade.

Cosine math is done in float64 with a deterministic left-to-right fold, so
the DuckDB oracle (list_dot_product / explicit unnest-sum) matches exactly
after rounding to 6 dp.  The Arrow pair scorer ``_block_pair_scores`` is a
numpy accumulation pinned bit-for-bit to this fold
(tests/test_properties.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kcl_akka_stream_spark.plans.hygiene import spread


def dot(a: Column, b: Column) -> Column:
    """Deterministic sequential fold: sum_i a[i]*b[i] in float64."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_micro(a: Column, b: Column) -> Column:
    """``cosine`` frozen to integer micro-units (bigint) -- the exact
    score the integer greedy selections (MMR, k-center) fold over."""
    return F.round(cosine(a, b) * 1000000, 0).cast("bigint")


def _broadcast_score(
    c: DataFrame,
    q: DataFrame,
    score: Column,
    on: str | None = None,
    cond: Column | None = None,
    include_self: bool = False,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """The exact-scoring join: corpus side ``c`` (carries ``n_id``) joined
    to the broadcast query side ``q`` (carries ``q_id``), self-matches
    (``q_id == n_id``) excluded unless ``include_self``, plus ``cond`` if
    given.  ``on`` names an equi-join key both sides carry (an LSH bucket,
    an IVF cluster); the pair predicate then filters the joined rows.
    Returns ``(q_id, n_id, *keep, score)``."""
    pair = F.lit(True) if include_self else F.col("q_id") != F.col("n_id")
    if cond is not None:
        pair = pair & cond
    if on is None:
        joined = c.join(F.broadcast(q), pair)
    else:
        joined = c.join(F.broadcast(q), on=on).filter(pair)
    return joined.select("q_id", "n_id", *keep, score)


def _rank_topk(scored: DataFrame, score: str, k: int, rank: str = "rank") -> DataFrame:
    """The rank kernel: per query, ``row_number`` over ``(score desc,
    n_id)`` as ``rank`` (ties break on neighbor id -- fully deterministic),
    rows with rank <= k kept."""
    w = Window.partitionBy("q_id").orderBy(F.col(score).desc(), F.col("n_id"))
    return scored.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _exact_score(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    name: str,
    fn=cosine,
    include_self: bool = False,
) -> DataFrame:
    """``(q_id, n_id, name)``: ``fn(q_vec, n_vec)`` rounded to 6 dp for every
    (query, corpus vector) pair -- the brute-force scan behind
    ``brute_force_topk``, ``mips_topk`` and ``range_search``."""
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    c = spread(corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")))
    score = F.round(fn(F.col("q_vec"), F.col("n_vec")), 6).alias(name)
    return _broadcast_score(c, q, score, include_self=include_self)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The (small) query set is broadcast; each corpus partition scores its rows
    against all queries map-side, then a per-query top-k window.  Rank ties
    break on neighbor id -> fully deterministic output."""
    scored = _exact_score(corpus, queries, id_col, vec_col, "cos_sim")
    return _rank_topk(scored, "cos_sim", k)


def mips_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact MAXIMUM-INNER-PRODUCT top-k (MIPS) -- the retrieval ranking
    recommender and reward models actually serve: score = <q, n> with NO
    norm division, so a long vector can outrank a better-aligned short
    one.  Deliberately a separate operator from ``brute_force_topk``:
    cosine and MIPS disagree whenever corpus norms vary, and silently
    substituting one for the other is a classic ranking bug (public:
    Shrivastava & Li 2014 on MIPS-to-NN reductions).

    Same scale shape as ``brute_force_topk``: bounded query set
    broadcast, corpus scores map-side (zero corpus-side shuffle before
    the per-query top-k window), dot in float64 sequential fold rounded
    to 6 dp, rank ties on neighbor id.
    """
    return _rank_topk(_exact_score(corpus, queries, id_col, vec_col, "ip", dot), "ip", k)


def ivf_centroids(corpus: DataFrame, cluster_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """Per-cluster mean vector (the IVF coarse quantizer).  Element-wise mean
    via posexplode + groupBy(cluster, pos) -- partial aggregation map-side,
    one shuffle keyed by (cluster, dim)."""
    # NO spread (r10 measured): the embeddings relation is tiny at every
    # fixture SF and the posexplode is cheap -- spreading it cost 1.2-1.6x
    # in task overhead (sf0.1 minibench).  SPREAD_AUDIT_ALLOW documents it.
    ex = corpus.select(
        F.col(cluster_col).alias("cluster"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    means = ex.groupBy("cluster", "pos").agg(F.avg(F.col("val").cast("double")).alias("m"))
    return (
        means.groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos").alias("p"), F.col("m").alias("v")))),
                lambda s: s.getField("v"),
            ).alias("centroid")
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str | None = None,
    n_clusters: int = 8,
    nprobe: int = 1,
) -> DataFrame:
    """IVF ANN: assign each query to its nearest centroid (broadcast the tiny
    centroid table), then search only that cluster's corpus slice.  The
    corpus-side join key is the cluster id -- partition pruning by cluster at
    scale (corpus stored partitioned by cluster).  ``nprobe`` > 1 searches
    the n nearest clusters -- the standard recall lever (a query near a
    cluster boundary misses neighbors just across it at nprobe=1); scan
    cost grows linearly in nprobe, still cluster-pruned.

    By default the coarse quantizer is LEARNED from the vectors themselves
    (one deterministic Lloyd step seeded by the ``n_clusters`` lowest-id
    vectors -- operators/clustering.py), because at 100 TB there is no
    semantic ``label`` column to lean on; the index build joins each corpus
    vector to its learned cluster, the offline cost every IVF index pays
    once.  Pass ``cluster_col`` to trust an existing partitioning column
    instead (the pre-clustered-corpus case)."""
    if cluster_col is None:
        assignment, centroids = _learn_quantizer(corpus, id_col, vec_col, n_clusters)
        # r16 (guide §1.2): the assignment carries the vector, so the
        # probe reads (id, vec, cluster) straight off the checkpointed
        # assignment -- the corpus re-scan + cluster-attach join the old
        # plan paid per action is gone.
        corpus = assignment.select(
            id_col, vec_col, F.col("cluster_id").alias("__ivf_cluster")
        )
        cluster_col = "__ivf_cluster"
        return _ivf_probe(corpus, queries, centroids, k, id_col, vec_col, cluster_col, nprobe)
    centroids = ivf_centroids(corpus, cluster_col, vec_col)
    return _ivf_probe(corpus, queries, centroids, k, id_col, vec_col, cluster_col, nprobe)


def _learn_quantizer(
    corpus: DataFrame, id_col: str, vec_col: str, n_clusters: int
) -> tuple[DataFrame, DataFrame]:
    """Learn the IVF coarse quantizer: seeds = ``n_clusters`` lowest-id
    vectors, one deterministic Lloyd step.  Returns (assignment, centroids)
    with columns (id, cluster_id, dist2, ``vec_col``) and
    (cluster, centroid) -- the assignment CARRIES the input vector
    (``kmeans_assign(keep_vector=True)``, r16) so every consumer that
    needs (id, cluster, vector) -- the centroid update, the IVF probe's
    corpus side, the PQ encode, the index build -- reads the one
    checkpointed relation instead of re-scanning the corpus and paying a
    cluster-attach join per action."""
    # function-level import: clustering imports `dot` from this module
    from kcl_akka_stream_spark.operators.clustering import (
        kmeans_assign,
        kmeans_update,
    )

    seeds = corpus.orderBy(id_col).limit(n_clusters).select(
        F.col(id_col).cast("long").alias("cluster_id"),
        F.col(vec_col).alias("centroid"),
    )
    # localCheckpoint: assignment feeds BOTH the centroid build and the
    # probe/encode consumers -- without it the broadcast-score-argmin
    # subplan over the whole corpus executes twice per action (the
    # kmeans() discipline in operators/clustering.py)
    assignment = kmeans_assign(
        corpus, seeds, id_col, vec_col, keep_vector=True
    ).localCheckpoint(eager=True)
    # kmeans_update reads the carried vector off the assignment (no
    # vectors-assignment join -- see its docstring)
    centroids = kmeans_update(
        corpus, assignment, id_col, vec_col, assignment_has_vector=True
    ).select(
        F.col("cluster_id").alias("cluster"), "centroid"
    )
    return assignment, centroids


def ivf_build(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
) -> None:
    """OFFLINE IVF index build (VERDICT r5 #4: the inline build paid 8
    exchanges on every query -- at 100 TB the index is built once and
    probed many times).  Persists under ``index_dir``:

    - ``centroids``: k rows (cluster, centroid) -- the learned coarse
      quantizer, broadcast at probe time;
    - ``corpus``: the corpus plus its cluster id, parquet PARTITIONED BY
      cluster, so a probe's broadcast equi-join on the partition column
      lets dynamic partition pruning scan only the nprobe probed
      clusters' directories instead of the full corpus.

    Deterministic: same corpus -> byte-identical index, so the prebuilt
    probe matches the inline ``ivf_topk`` result exactly."""
    assignment, centroids = _learn_quantizer(corpus, id_col, vec_col, n_clusters)
    extra = [c for c in corpus.columns if c not in (id_col, vec_col)]
    if extra:
        # corpus carries payload columns the index must keep: the
        # cluster-attach join stays (broadcast of the node-sized
        # assignment; the corpus itself is scanned once).
        indexed = corpus.join(
            assignment.select(id_col, F.col("cluster_id").alias("cluster")),
            id_col,
        )
    else:
        # r16: (id, vec, cluster) reads straight off the carried
        # assignment -- no corpus re-scan, no join.
        indexed = assignment.select(
            id_col, vec_col, F.col("cluster_id").alias("cluster")
        )
    indexed.write.mode("overwrite").partitionBy("cluster").parquet(
        f"{index_dir}/corpus"
    )
    centroids.write.mode("overwrite").parquet(f"{index_dir}/centroids")


def ivf_probe_prebuilt(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Probe a persisted IVF index (see ``ivf_build``).  The probe-only
    plan is 2 exchanges: centroids broadcast to score queries, one window
    per-query for centroid choice, corpus slice joined via broadcast of
    the assigned queries (no corpus shuffle), one window for the final
    top-k."""
    corpus = spark.read.parquet(f"{index_dir}/corpus")
    centroids = spark.read.parquet(f"{index_dir}/centroids")
    return _ivf_probe(corpus, queries, centroids, k, id_col, vec_col, "cluster", nprobe)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iterations: int = 25,
    cluster_col: str | None = None,
    target_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster the embedding space with the learned coarse quantizer, find
    near-duplicate pairs ONLY within each cluster, union the pairs into
    duplicate groups, and elect one deterministic representative per
    group (the lowest id).

    Output: one row per corpus vector --
    ``(id, sem_cluster, dup_group, is_rep)``; filtering ``is_rep`` yields
    the deduplicated corpus.

    Scale shape: the quantizer is the same offline-able build as IVF
    (``ivf_build``); within-cluster pairing is quadratic PER CLUSTER, so
    ``n_clusters`` must grow with the corpus (k = n / target cluster
    size -- SemDeDup runs ~100k clusters at web scale) exactly like
    ``auto_lsh_dims`` grows the near-dup blocking; the component pass is
    ``connected_components`` (plain min-label rounds, pointer jumping
    past ``max_iterations``).  No stage shuffles the corpus more
    than once on a key.

    Pass ``cluster_col`` to reuse an EXISTING cluster assignment (e.g.
    the corpus persisted by ``ivf_build`` — the same learned quantizer)
    instead of re-learning it per call: clustering once offline and
    deduplicating against the stored assignment is the production shape.

    Pass ``target_cluster_size`` to derive the cluster count from the
    corpus itself via sign-LSH blocking (``auto_lsh_dims`` — one count
    job, no centroid assign): block count scales with the corpus so
    expected per-cluster size stays ~constant.  A FIXED small
    ``n_clusters`` on a growing corpus is the quadratic anti-pattern
    (SCALE_PROBE.md at `f2504d4` records 12.5x wall at 10x data for
    frozen k=8 vs ~flat for the auto mode); the learned-quantizer mode exists
    for oracle-pinned gates and pre-clustered corpora, the auto mode is
    the 100 TB default."""
    from kcl_akka_stream_spark.operators.dedup import connected_components

    if cluster_col is not None:
        withc = corpus.withColumn("sem_cluster", F.col(cluster_col))
    elif target_cluster_size is not None:
        dims = auto_lsh_dims(corpus.count(), target_cluster_size)
        withc = corpus.withColumn(
            "sem_cluster", sign_lsh_bucket(F.col(vec_col), dims).cast("long")
        )
    else:
        assignment, _ = _learn_quantizer(corpus, id_col, vec_col, n_clusters)
        # r16: downstream needs only (id, vec, sem_cluster) -- all carried
        # by the assignment, so the corpus re-scan + attach join is gone.
        withc = assignment.select(
            id_col, vec_col, F.col("cluster_id").alias("sem_cluster")
        )
    pairs = _semantic_pairs(withc, threshold, id_col, vec_col)
    comps = connected_components(
        pairs, withc.select(id_col), id_col=id_col, max_iterations=max_iterations
    ).select(id_col, F.col("cluster_id").alias("dup_group"))
    return (
        withc.select(id_col, "sem_cluster")
        .join(comps, id_col)
        .select(
            id_col,
            F.col("sem_cluster").cast("long").alias("sem_cluster"),
            "dup_group",
            (F.col(id_col) == F.col("dup_group")).alias("is_rep"),
        )
    )


def _semantic_pairs(
    withc: DataFrame, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """Within-cluster near-dup pairs for semantic_dedup, scored through
    the Arrow kernel (ONE applyInPandas pass per cluster, numpy
    accumulation bit-exact with the JVM fold -- see _block_pair_scores),
    NOT the zip_with/aggregate expression cosine: the interpreted-HOF
    form cost a 16 s fresh-JVM C2 compile cliff on first execution (the
    r3/r4 quality-gate lesson, re-measured in round 6), the Arrow form
    only the shared worker spawn.  Plan shape locked by
    tests/test_plans.py::test_semantic_dedup_scores_pairs_in_arrow_kernel."""
    blocks = withc.select(
        F.col("sem_cluster").alias("blk"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
    )
    scored = blocks.groupBy("blk").applyInPandas(
        _block_pair_scores("id_a", "va", threshold),
        schema="id_a long, id_b long, cos_raw double",
    )
    return scored.select(
        "id_a", "id_b", F.round(F.col("cos_raw"), 6).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def _ivf_probe(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """The IVF probe: nprobe nearest centroids per query (broadcast
    centroids), then exact top-k within only those clusters' corpus
    slices (clusters are disjoint, so no pair dedup is needed)."""
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    q_scored = q.join(F.broadcast(centroids)).select(
        "q_id", "q_vec", "cluster", cosine(F.col("q_vec"), F.col("centroid")).alias("c_sim")
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("c_sim").desc(), F.col("cluster"))
    q_assigned = q_scored.withColumn("r", F.row_number().over(wq)).filter(F.col("r") <= nprobe).drop("r", "c_sim")
    c = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"), F.col(cluster_col).alias("cluster")
    )
    score = F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("cos_sim")
    return _rank_topk(_broadcast_score(c, q_assigned, score, on="cluster"), "cos_sim", k)


def sign_lsh_bucket(vec: Column, dims: int = 8) -> Column:
    """Random-hyperplane LSH specialized to axis-aligned planes: bucket id =
    the sign bits of the first ``dims`` coordinates.  Deterministic and
    integer-exact, so the DuckDB oracle reproduces it; at scale the planes
    would be seeded random projections (same plan shape: map-only bucket
    assignment, no shuffle)."""
    bucket = None
    for d in range(dims):
        # try_element_at: a vector shorter than `dims` contributes 0 bits
        # past its length (NULL >= 0 is NULL -> otherwise-branch), exactly
        # like the oracle's CASE WHEN embedding[i] >= 0 -- never an ANSI
        # out-of-bounds error.
        bit = F.when(F.try_element_at(vec, F.lit(d + 1)) >= 0, F.lit(2**d)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_dims: int = 4,
) -> DataFrame:
    """LSH-bucketed ANN: corpus and queries get a sign-LSH bucket map-side;
    a query is scored only against its own bucket's corpus slice.

    Scale shape: the bucket assignment is a narrow map (no shuffle); the
    join key is the bucket id, so with the corpus stored bucketed/partitioned
    by it the probe is a partition-pruned scan of ~n/2^dims rows instead of
    n.  The (small) query side is broadcast, corpus never shuffles."""
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        sign_lsh_bucket(F.col(vec_col), bucket_dims).alias("bucket"),
    )
    c = spread(corpus.select(F.col(id_col), F.col(vec_col))).select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        sign_lsh_bucket(F.col(vec_col), bucket_dims).alias("bucket"),
    )
    score = F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("cos_sim")
    return _rank_topk(_broadcast_score(c, q, score, on="bucket"), "cos_sim", k)


#: Hard ceiling on auto-derived sign-LSH dims: 2^16 buckets bounds the
#: driver-side block-size collect at 65,536 rows regardless of corpus size.
MAX_AUTO_LSH_DIMS = 16


def auto_lsh_dims(n: int, target_block_size: int = 64) -> int:
    """Smallest d in [1, MAX_AUTO_LSH_DIMS] with n <= target_block_size *
    2^d -- integer-exact (no float log2), so the DuckDB oracle reproduces
    it from the same count with the same arithmetic."""
    for d in range(1, MAX_AUTO_LSH_DIMS + 1):
        if n <= target_block_size * (1 << d):
            return d
    return MAX_AUTO_LSH_DIMS


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    lsh_dims: int | None = None,
    max_block_size: int | None = None,
    target_block_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by a coarse key so the
    self-join is per-block instead of O(n^2).

    NOT fully lazy on the capped-LSH path (``max_block_size`` with
    ``lsh_dims``/``target_block_size``): the bucket-size probe runs an
    EAGER Spark job at DataFrame-construction time, and each call
    re-runs it -- cache the returned DataFrame (or reuse it) if calling
    repeatedly on the same corpus.

    Sign-LSH blocking is the 100 TB path: derive the blocking key from
    ``sign_lsh_bucket`` (a map-only projection of the vector itself), so no
    semantic column like the fixture's ``label`` is required -- near-dup
    vectors land in the same sign bucket with high probability, and the
    per-block join shrinks by the 2^dims bucket fan-out.  Pass
    ``target_block_size`` to derive the dims from the corpus count
    (``auto_lsh_dims``: one cheap count job), so blocking SCALES with the
    corpus instead of freezing at a constant -- a fixed dims is wrong in
    both directions: too few buckets and every block is under any cap
    (full quadratic work), too many and the skewed tail still dominates.
    A fixed ``lsh_dims`` remains available for oracle-pinned tests; with
    both None the given ``block_col`` is trusted as the key.

    Per-block cost is quadratic in block size; ``max_block_size`` is the
    deterministic guardrail for the skewed tail -- over-cap blocks are
    dropped whole BEFORE pair generation, the same bounded-fan-out
    discipline as the MinHash hot-bucket cap and the Jaccard df-cap
    (SCALE_PROBE.md at `f2504d4`: uncapped 4-dim blocking went 45x wall
    at 10x data; capped stays linear).  On the LSH path the per-bucket sizes
    (<= 2^MAX_AUTO_LSH_DIMS rows) are collected driver-side: the kept set
    broadcasts from a local list and the dropped-block count is LOGGED --
    no silent truncation, no second scan for the cap."""
    import logging
    from collections import Counter

    auto = target_block_size is not None and lsh_dims is None
    if max_block_size is not None and (auto or lsh_dims is not None):
        # Capped LSH path -- the 100 TB shape.  ONE probe job counts the
        # corpus per bucket at full MAX_AUTO_LSH_DIMS resolution (a
        # map-side-combinable agg over a bounded 2^16 key domain); from
        # that single collect the driver derives the corpus count, the
        # auto dims (auto_lsh_dims), and the coarser per-block sizes by
        # masking the low `dims` sign bits -- no separate count job, no
        # second sizes scan.  The kept set broadcasts from a local list
        # (over-cap blocks are pruned BEFORE the group shuffle -- a hot
        # bucket's vectors never ship to one task) and the dropped-block
        # count is LOGGED, never silent.  Pair scoring then runs as ONE
        # applyInPandas over buckets: each vector crosses Arrow once (not
        # once per pair) and the per-block all-pairs cosine is a
        # dimension-loop numpy accumulation that reproduces the JVM
        # sequential fold bit-for-bit (see _block_pair_scores); the final
        # round + threshold stay JVM-side, identical to the oracle.
        probe_dims = MAX_AUTO_LSH_DIMS if auto else lsh_dims
        probe = corpus.groupBy(
            sign_lsh_bucket(F.col(vec_col), probe_dims).alias("__b")
        ).agg(F.count(F.lit(1)).alias("__n")).collect()
        if auto:
            n = sum(r["__n"] for r in probe)
            lsh_dims = auto_lsh_dims(n, target_block_size)
        mask = (1 << lsh_dims) - 1
        folded: Counter = Counter()
        for r in probe:
            folded[r["__b"] & mask] += r["__n"]
        kept_ids = [
            b for b, c in folded.items() if 2 <= c <= max_block_size
        ]
        dropped = {b: c for b, c in folded.items() if c > max_block_size}
        if dropped:
            logging.getLogger(__name__).warning(
                "embedding_near_dup_pairs: cap=%d dropped %d/%d blocks "
                "(%d vectors) before pair generation",
                max_block_size,
                len(dropped),
                len(folded),
                sum(dropped.values()),
            )
        # No spread here: the groupBy("blk") shuffle below already
        # redistributes the kept vectors across the cluster, so an extra
        # repartition of the input would be a pure waste of one exchange.
        a = corpus.select(
            sign_lsh_bucket(F.col(vec_col), lsh_dims).alias("blk"),
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
        )
        if len(kept_ids) <= 2048:
            # Small kept set -> a plain isin filter (map-side, prunable),
            # no broadcast exchange or join at all.
            pruned = a.filter(F.col("blk").isin(kept_ids))
        else:
            kept = corpus.sparkSession.createDataFrame(
                [(b,) for b in kept_ids], schema="blk int"
            )
            pruned = a.join(F.broadcast(kept), "blk")
        scored = pruned.groupBy("blk").applyInPandas(
            _block_pair_scores("id_a", "va", threshold),
            schema="id_a long, id_b long, cos_raw double",
        )
        return (
            scored.select(
                "id_a", "id_b", F.round(F.col("cos_raw"), 6).alias("cos_sim")
            )
            .filter(F.col("cos_sim") >= threshold)
        )
    corpus = spread(corpus)
    if auto:
        # target_block_size without a cap still means LSH blocking (auto
        # dims from the corpus count) -- falling back to the semantic
        # block_col here would silently change the operator's meaning.
        lsh_dims = auto_lsh_dims(corpus.count(), target_block_size)
    if lsh_dims is not None:
        corpus = corpus.withColumn(
            "__lsh_blk", sign_lsh_bucket(F.col(vec_col), lsh_dims)
        )
        block_col = "__lsh_blk"
    a = corpus.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    if max_block_size is not None:
        # Unbounded block domain (semantic block_col): keep the cap filter
        # lazy -- collecting all block sizes would not scale.
        kept = (
            a.groupBy("blk")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n").between(2, max_block_size))
            .select("blk")
        )
        a = a.join(F.broadcast(kept), "blk")
    b = a.select(
        F.col("blk"), F.col("id_a").alias("id_b"), F.col("va").alias("vb")
    )
    return (
        a.join(b, on="blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _block_pair_scores(id_col: str, vec_col: str, threshold: float):
    """applyInPandas kernel factory: all-pairs cosine within one block.

    Bit-exactness contract: the JVM expression path computes
    ``dot = fold_d(acc + a_d * b_d)`` left-to-right in float64, then
    ``dot / (sqrt(dot(a,a)) * sqrt(dot(b,b)))``.  The numpy version
    accumulates over the DIMENSION loop (``G += outer(col_d, col_d)``),
    which performs the identical sequence of IEEE additions per pair --
    so emitted raw cosines equal the expression path's to the last ulp,
    and the JVM-side F.round/threshold downstream match the oracle.
    Python-side pruning uses a 1e-6 safety margin below the threshold --
    strictly wider than the 5e-7 HALF_UP window of round(., 6), so a raw
    cosine that the JVM would round UP to the threshold can never be
    dropped here; the exact cut happens after F.round in the JVM.

    Ragged (mixed-length) vectors within a block are in-scope:
    ``sign_lsh_bucket`` deliberately tolerates vectors shorter than its
    dims, so a bucket can mix lengths.  The expression path's
    ``zip_with`` null-pads the shorter side, the fold propagates NULL,
    and the NULL cosine fails the threshold filter -- cross-length pairs
    are silently dropped.  This kernel reproduces that by scoring each
    same-length group separately and emitting nothing across groups
    (a rectangular np.array over mixed lengths would raise instead)."""
    import numpy as np
    import pandas as pd

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_raw": []})
        if len(pdf) < 2:
            return empty
        out = [empty]
        for _, grp in pdf.groupby(pdf[vec_col].map(len), sort=True):
            m = len(grp)
            if m < 2:
                continue
            ids = grp[id_col].to_numpy()
            V = np.array(list(grp[vec_col]), dtype=np.float64)  # (m, D)
            G = np.zeros((m, m))
            N = np.zeros(m)
            for d in range(V.shape[1]):
                col = V[:, d]
                G += np.outer(col, col)
                N += col * col
            norms = np.sqrt(N)
            cos = G / np.outer(norms, norms)
            ia, ib = np.triu_indices(m, k=1)
            keep = cos[ia, ib] >= threshold - 1e-6
            if not keep.any():
                continue
            out.append(
                pd.DataFrame(
                    {
                        "id_a": ids[ia[keep]],
                        "id_b": ids[ib[keep]],
                        "cos_raw": cos[ia[keep], ib[keep]],
                    }
                )
            )
        return pd.concat(out, ignore_index=True) if len(out) > 1 else empty

    return score


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization audit: ``scale = max|x|/127``,
    ``q_i = round(x_i / scale)`` — the storage/serving compression step for
    embedding corpora (4x smaller, dot products within ~1% at these
    scales).  Output carries scalar checksums of the quantized vector
    (sum, L1) plus the L2 norm, so the math is verifiable cross-engine
    without hashing float arrays.  Map-only, zero shuffle; the fold is
    the sequential float64 convention (see module docstring)."""
    v = F.col(vec_col)
    # Materialize scale and the quantized array in CHILD projections
    # (the rolling-fingerprint lesson, re-learned here via SCALE_PROBE's
    # 2.86x row): inlining ``scale`` into the transform lambda makes the
    # interpreted HOF evaluator re-run the array_max PER ELEMENT
    # (O(d^2) per row), and referencing ``q`` from both aggregates runs
    # the division transform twice.  CollapseProject keeps non-cheap
    # multiply-referenced aliases in their own Project, so each runs
    # once per row.
    scale = F.col("__scale")
    q = F.col("__q")
    staged = (
        spread(df.select(id_col, vec_col))
        .withColumn(
            "__scale",
            F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
            / F.lit(127.0),
        )
        .withColumn(
            "__q",
            F.when(scale == 0, F.transform(v, lambda x: F.lit(0.0))).otherwise(
                F.transform(v, lambda x: F.round(x.cast("double") / scale, 0))
            ),
        )
    )
    return staged.select(
        F.col(id_col),
        F.size(v).alias("n_dims"),
        F.round(norm(v), 6).alias("l2_norm"),
        F.round(scale, 9).alias("scale"),
        F.aggregate(q, F.lit(0.0), lambda acc, x: acc + x)
        .cast("long")
        .alias("q_sum"),
        F.aggregate(q, F.lit(0.0), lambda acc, x: acc + F.abs(x))
        .cast("long")
        .alias("q_l1"),
    )


def random_sign_projection(
    df: DataFrame,
    out_dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "jl1",
) -> DataFrame:
    """Johnson-Lindenstrauss-style dimensionality reduction with a
    DETERMINISTIC +-1 sign matrix: output dim k of a vector v is
    ``sum_j q_j * s(j,k)`` where ``q_j = round(v_j * 1e6)`` (int64
    micro-units) and ``s(j,k) = +1`` iff the first hex digit of
    ``md5(seed|j|k)`` is odd.  The projection runs as ONE Arrow
    ``mapInPandas`` pass doing an int64 numpy matmul -- integer
    arithmetic is order-independent, so the result is bit-identical to
    any re-computation (including a SQL unnest+join oracle), unlike a
    float matmul whose partial-sum order drifts.

    The standard cheap pre-ANN compression: sign projections preserve
    inner products in expectation (public: Achlioptas 2003), and at
    100 TB the matmul is map-only -- no shuffle; the sign matrix
    (in_dims x out_dims ints, a few KB) is built once from the seed on
    the driver and closure-shipped.  One eager size() probe runs at
    construction to fix the input width, and ragged vectors raise a
    named error.  Output: one row per (id, out_dim) with the exact
    integer projection in micro-units and its double rendering.
    """
    import numpy as np
    import pandas as pd
    import hashlib

    in_dims_probe = df.select(F.size(vec_col).alias("d")).first()
    if in_dims_probe is None:
        in_dims = 0
    else:
        in_dims = in_dims_probe["d"]

    def _sign(j: int, k: int) -> int:
        h = hashlib.md5(f"{seed}|{j}|{k}".encode()).hexdigest()
        return 1 if int(h[0], 16) % 2 == 1 else -1

    signs = np.array(
        [[_sign(j, k) for k in range(out_dims)] for j in range(max(in_dims, 0))],
        dtype=np.int64,
    )

    out_schema = f"{id_col} long, out_dim long, proj_micro long"

    def project(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            lens = pdf[vec_col].map(len)
            if not (lens == in_dims).all():
                bad = pdf.loc[lens != in_dims, id_col].iloc[0]
                raise ValueError(
                    f"ragged embedding: {id_col}={bad} has "
                    f"{lens[lens != in_dims].iloc[0]} dims, expected {in_dims}"
                )
            q = np.array(
                [
                    np.floor(np.asarray(v, dtype=np.float64) * 1e6 + 0.5)
                    for v in pdf[vec_col]
                ],
                dtype=np.int64,
            )
            proj = q @ signs  # exact int64 matmul
            n, k = proj.shape
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, k),
                    "out_dim": np.tile(np.arange(k, dtype=np.int64), n),
                    "proj_micro": proj.reshape(-1),
                }
            )

    # NO spread (r10 measured): spreading the tiny embeddings input cost
    # ~2x in task overhead (sf0.1 minibench); see SPREAD_AUDIT_ALLOW.
    return df.select(id_col, vec_col).mapInPandas(project, schema=out_schema)


def _pq_dtab(
    queries: DataFrame,
    codebook_vectors: DataFrame,
    m: int,
    sub: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The (query, subspace, code) ADC lookup table every PQ serving path
    broadcasts: slice queries and codebook into their m int64-quantized
    subvectors and score every (query-slice, code-slice) pair.  Size is
    |queries| x m x codes -- tiny by construction (both inputs are
    query-set / codebook sized, never corpus sized)."""
    from functools import reduce

    from kcl_akka_stream_spark.operators.clustering import _pq_idist2, _pq_quantize

    def sliced(d: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        parts = []
        for s in range(m):
            parts.append(
                d.select(
                    F.col(id_col).alias(out_id),
                    F.lit(s).cast("long").alias("sub_id"),
                    _pq_quantize(
                        F.slice(F.col(vec_col), s * sub + 1, sub)
                    ).alias(out_vec),
                )
            )
        return reduce(DataFrame.unionByName, parts)

    qsub = sliced(queries, "q_id", "__qv")
    csub = sliced(codebook_vectors, "__code_id", "__cv").select(
        F.col("__code_id").cast("long").alias("code"), "sub_id", "__cv"
    )
    return qsub.join(csub, "sub_id").select(
        "q_id", "sub_id", "code",
        _pq_idist2(F.col("__qv"), F.col("__cv")).alias("__d2"),
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook_vectors: DataFrame,
    m: int = 4,
    k: int = 5,
    n_clusters: int = 8,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full IVF-PQ serving (Jegou et al. 2011) -- the coarse quantizer of
    ``ivf_topk`` composed with the ADC scoring of ``pq_adc_topk``, the
    index layout behind billion-vector ANN (FAISS ``IVFx,PQy``):

    1. a LEARNED coarse quantizer partitions the corpus into
       ``n_clusters`` inverted lists (seeds = lowest-id vectors, one
       deterministic Lloyd step -- identical to ``ivf_topk``'s build);
    2. every corpus vector is PQ-encoded to m small codes (one map-only
       Arrow pass, ``clustering.pq_encode``);
    3. a query ranks the tiny broadcast centroid table by cosine and
       probes only its ``nprobe`` nearest lists;
    4. within the probed lists, distances are sums of per-subspace
       lookups into the broadcast (query, subspace, code) table -- no
       raw floats touch the scoring join.

    Scale shape: the corpus-sized relations in the serving plan carry
    (id, cluster, sub_id, code) -- a few ints per vector; the probe
    filter cuts the scan to ~nprobe/n_clusters of the corpus (partition
    pruning when the code table is stored partitioned by cluster); both
    join sides against it are broadcast.  ADC arithmetic is EXACT int64
    micro-units, so ranks are bit-reproducible cross-engine; only the
    probe SET depends on float cosine, mirrored exactly by the oracle.

    Output: (q_id, n_id, adc_d2_micro2, rank), rank <= k over the probed
    lists, self-matches excluded.
    """
    from kcl_akka_stream_spark.operators.clustering import pq_encode
    probe = corpus.select(F.size(vec_col).alias("d")).first()
    dims = probe["d"] if probe is not None else 0
    if dims % m != 0:
        raise ValueError(f"ivf_pq_topk: vector length {dims} not divisible by m={m}")
    sub = dims // m

    # spread: the quantizer learn + PQ encode are CPU-heavy per-row maps;
    # a 1-partition local input would serialize them (no-op on real
    # multi-file reads).
    corpus = spread(corpus)
    assignment, centroids = _learn_quantizer(corpus, id_col, vec_col, n_clusters)
    # r16 (guide §1.2): encode straight off the carried assignment with
    # the cluster id passed through the Arrow kernel -- the former
    # corpus re-scan inside pq_encode AND the codes-assignment attach
    # join are both gone (dims already probed above, no second probe).
    codes = pq_encode(
        assignment.select(
            id_col, vec_col, F.col("cluster_id").alias("__cluster")
        ),
        codebook_vectors,
        m=m,
        id_col=id_col,
        vec_col=vec_col,
        dims=dims,
        passthrough=["__cluster"],
    )

    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    q_scored = q.join(F.broadcast(centroids)).select(
        "q_id", "cluster", cosine(F.col("q_vec"), F.col("centroid")).alias("c_sim")
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("c_sim").desc(), F.col("cluster"))
    probed = (
        q_scored.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select(F.col("q_id").alias("__probe_q"), F.col("cluster").alias("__cluster"))
    )

    dtab = _pq_dtab(queries, codebook_vectors, m, sub, id_col, vec_col).select(
        F.col("q_id").alias("__pq_q"),
        F.col("sub_id").alias("__dt_sub"),
        F.col("code").alias("__dt_code"),
        "__d2",
    )
    scores = (
        codes.join(F.broadcast(probed), "__cluster")
        .join(
            F.broadcast(dtab),
            (F.col("__pq_q") == F.col("__probe_q"))
            & (F.col("__dt_sub") == F.col("sub_id"))
            & (F.col("__dt_code") == F.col("code")),
        )
        .filter(F.col("__pq_q") != F.col(id_col))
        .groupBy(
            F.col("__pq_q").alias("q_id"), F.col(id_col).alias("n_id")
        )
        .agg(F.sum("__d2").cast("long").alias("adc_d2_micro2"))
    )
    w = Window.partitionBy("q_id").orderBy("adc_d2_micro2", "n_id")
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "adc_d2_micro2", "rank")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook_vectors: DataFrame,
    m: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric distance computation (ADC) top-k -- the SERVING half
    of product quantization (Jegou et al. 2011): the corpus is reduced to
    its PQ codes (``clustering.pq_assign``), queries stay full-precision,
    and the approximate distance is a sum of per-subspace LOOKUPS into a
    precomputed (query, subspace, code) distance table:

        adc_d2(q, v) = sum_s d2(q_s, codebook[s][code_s(v)])

    Scale shape -- why billion-vector ANN serves this way: the corpus
    side of the scoring join carries only (id, sub_id, code) -- m small
    ints per vector instead of d floats -- and the distance table is
    (|queries| x m x codes) rows, broadcast.  The scoring join is
    map-side; one (query, vector) sum agg and a per-query top-k window
    follow.  All arithmetic is EXACT int64 micro-units (the PQ family
    convention, ``clustering._pq_quantize``): sums are
    order-independent, the ranking is on exact integers with the id as
    tiebreaker -- bit-reproducible by any engine.

    Output: (q_id, n_id, adc_d2_micro2, rank), rank <= k, self-matches
    excluded.
    """
    from functools import reduce

    from kcl_akka_stream_spark.operators.clustering import (
        _pq_idist2,
        _pq_quantize,
        pq_encode,
    )

    probe = corpus.select(F.size(vec_col).alias("d")).first()
    dims = probe["d"] if probe is not None else 0
    if dims % m != 0:
        raise ValueError(f"pq_adc_topk: vector length {dims} not divisible by m={m}")
    sub = dims // m
    # map-only Arrow encode (pytest-pinned identical to the relational
    # pq_assign): the corpus-sized code relation costs ZERO exchanges.
    # dims already probed above -- passing it skips pq_encode's own probe
    # job (r16, guide §1.2).
    codes = pq_encode(
        corpus, codebook_vectors, m=m, id_col=id_col, vec_col=vec_col,
        dims=dims,
    )
    dtab = _pq_dtab(queries, codebook_vectors, m, sub, id_col, vec_col)
    scores = (
        codes.join(F.broadcast(dtab), ["sub_id", "code"])
        .filter(F.col("q_id") != F.col(id_col))
        .groupBy("q_id", F.col(id_col).alias("n_id"))
        .agg(F.sum("__d2").cast("long").alias("adc_d2_micro2"))
    )
    w = Window.partitionBy("q_id").orderBy("adc_d2_micro2", "n_id")
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "adc_d2_micro2", "rank")
    )


def ivf_pq_build(
    corpus: DataFrame,
    index_dir: str,
    codebook_vectors: DataFrame,
    m: int = 4,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """OFFLINE IVF-PQ index build -- the persisted form of what
    ``ivf_pq_topk`` computes inline (the same build-once/probe-many split
    ``ivf_build`` gives plain IVF).  Persists under ``index_dir``:

    - ``centroids``: the learned coarse quantizer (k rows), broadcast at
      probe time;
    - ``codes``: (id, sub_id, code) PQ codes + cluster id, parquet
      PARTITIONED BY cluster -- the probe's equi-join on the partition
      column prunes the scan to the probed inverted lists, and each list
      stores m small ints per vector instead of d floats (the on-disk
      footprint win that makes billion-vector serving affordable);
    - ``codebook``: the raw codebook vectors, re-read at probe time to
      build the per-query ADC tables.

    Deterministic: same corpus -> byte-identical index, so the prebuilt
    probe matches inline ``ivf_pq_topk`` exactly."""
    from kcl_akka_stream_spark.operators.clustering import pq_encode
    corpus = spread(corpus)
    assignment, centroids = _learn_quantizer(corpus, id_col, vec_col, n_clusters)
    # r16: encode off the carried assignment with the cluster passed
    # through the kernel -- same (id, sub, code, d2, cluster) rows as the
    # former encode + attach join, one corpus pass fewer.
    codes = pq_encode(
        assignment.select(
            id_col, vec_col, F.col("cluster_id").alias("cluster")
        ),
        codebook_vectors,
        m=m,
        id_col=id_col,
        vec_col=vec_col,
        passthrough=["cluster"],
    )
    codes.write.mode("overwrite").partitionBy("cluster").parquet(
        f"{index_dir}/codes"
    )
    centroids.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    codebook_vectors.select(id_col, vec_col).write.mode("overwrite").parquet(
        f"{index_dir}/codebook"
    )


def ivf_pq_probe_prebuilt(
    spark,
    index_dir: str,
    queries: DataFrame,
    m: int = 4,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF-PQ index (see ``ivf_pq_build``): centroids
    broadcast to pick each query's nprobe lists, the codes scan joins the
    broadcast probe set on the PARTITION column (dynamic partition
    pruning -- only the probed lists' directories are read), distances
    come from the broadcast ADC table.  No corpus-sized relation ever
    shuffles; the scan reads m ints per vector from nprobe/n_clusters of
    the index."""
    codes = spark.read.parquet(f"{index_dir}/codes")
    centroids = spark.read.parquet(f"{index_dir}/centroids")
    codebook = spark.read.parquet(f"{index_dir}/codebook")

    probe = codebook.select(F.size(vec_col).alias("d")).first()
    dims = probe["d"] if probe is not None else 0
    if dims % m != 0:
        raise ValueError(
            f"ivf_pq_probe_prebuilt: vector length {dims} not divisible by m={m}"
        )
    sub = dims // m

    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    q_scored = q.join(F.broadcast(centroids)).select(
        "q_id", "cluster", cosine(F.col("q_vec"), F.col("centroid")).alias("c_sim")
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("c_sim").desc(), F.col("cluster"))
    probed = (
        q_scored.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select(F.col("q_id").alias("__probe_q"), "cluster")
    )

    dtab = _pq_dtab(queries, codebook, m, sub, id_col, vec_col).select(
        F.col("q_id").alias("__pq_q"),
        F.col("sub_id").alias("__dt_sub"),
        F.col("code").alias("__dt_code"),
        "__d2",
    )
    scores = (
        codes.join(F.broadcast(probed), "cluster")
        .join(
            F.broadcast(dtab),
            (F.col("__pq_q") == F.col("__probe_q"))
            & (F.col("__dt_sub") == F.col("sub_id"))
            & (F.col("__dt_code") == F.col("code")),
        )
        .filter(F.col("__pq_q") != F.col(id_col))
        .groupBy(F.col("__pq_q").alias("q_id"), F.col(id_col).alias("n_id"))
        .agg(F.sum("__d2").cast("long").alias("adc_d2_micro2"))
    )
    w = Window.partitionBy("q_id").orderBy("adc_d2_micro2", "n_id")
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "adc_d2_micro2", "rank")
    )


def integer_centroids(
    emb: DataFrame,
    group_cols: list[str],
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-group, per-dimension INTEGER centroids: each component is
    quantized to micro-units (``floor(x*scale + 0.5)``, float->double is
    exact so the quantization is engine-independent), summed as int64
    (order-independent -- the random_sign_projection discipline), and
    divided once via a double floor (sums stay far below 2^53, so the
    double path is exact).  The result hashes identically across
    engines and partitionings, unlike a float ``avg`` whose partial-agg
    order leaks into the low bits.

    Output: ``(*group_cols, pos, n, sq, cq)`` -- count, quantized sum,
    quantized centroid component.  Scale shape: the dim explode
    aggregates map-side to groups x dims rows; one combinable exchange.
    """
    # NO spread (r10 measured): tiny input, cheap explode -- spread cost
    # 1.8-2x task overhead (sf0.1 minibench); see SPREAD_AUDIT_ALLOW.
    e = emb.select(*group_cols, F.posexplode(vec_col).alias("pos", "x"))
    q = e.withColumn(
        "q",
        F.floor(F.col("x").cast("double") * scale + F.lit(0.5)).cast("long"),
    )
    agg = q.groupBy(*group_cols, "pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("sq"),
    )
    return agg.withColumn(
        "cq",
        F.floor(F.col("sq").cast("double") / F.col("n")).cast("long"),
    )


def nearest_centroid_classify(
    train: DataFrame,
    test: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification: assign each test
    vector to the training label whose INTEGER centroid has the highest
    cosine.  The production-scale counterpart of kNN (``sim_knn_classify``):
    the model is labels x dims rows (broadcastable forever), so
    classification is one broadcast join + one combinable agg + one
    per-vector argmax -- no test x train pair relation at any point.

    Determinism: centroids come from ``integer_centroids`` (micro-unit
    int64 sums -- partitioning-independent); the per-(vector, label)
    dot product and the label's norm are exact int64 sums; the score
    divides once (dot / sqrt(norm)) -- a single IEEE op from exact
    integers, identical cross-engine.  Ties break on smallest label.

    Output: ``(id_col, true_label, pred_label, score)`` per test vector.
    """
    cent = integer_centroids(train, [label_col], vec_col=vec_col, scale=scale)
    c = cent.select(
        F.col(label_col).alias("cand_label"), "pos", "cq"
    )
    # NO spread (r10 measured): 1.8x regression from task overhead on the
    # tiny test relation (sf0.1 minibench); see SPREAD_AUDIT_ALLOW.
    t = test.select(
        F.col(id_col),
        F.col(label_col).alias("true_label"),
        F.posexplode(vec_col).alias("pos", "x"),
    ).withColumn(
        "qa",
        F.floor(F.col("x").cast("double") * scale + F.lit(0.5)).cast("long"),
    )
    scored = (
        t.join(F.broadcast(c), "pos")
        .groupBy(id_col, "true_label", "cand_label")
        .agg(
            F.sum(F.col("qa") * F.col("cq")).cast("long").alias("dot_q"),
            F.sum(F.col("cq") * F.col("cq")).cast("long").alias("norm_c"),
        )
        .withColumn(
            "score",
            F.col("dot_q").cast("double")
            / F.sqrt(F.col("norm_c").cast("double")),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("cand_label").asc()
    )
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(
            id_col,
            "true_label",
            F.col("cand_label").alias("pred_label"),
            F.round("score", 6).alias("score"),
        )
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    """Exact cosine RANGE search (radius query): every corpus vector
    whose cosine with a query meets the threshold -- the retrieval
    primitive behind near-duplicate audits and recall-oriented RAG
    filters, where top-k's fixed k either truncates dense neighborhoods
    or pads sparse ones.

    Same scale shape as ``brute_force_topk``: the bounded query set is
    broadcast, each corpus partition scores map-side, and the threshold
    filter replaces the rank window -- so there is NO shuffle at all on
    the corpus side (output is filter-sized).  The cosine is rounded to
    6 dp BEFORE the comparison (the registry float convention), so the
    boundary set is identical cross-engine.  For corpus x corpus radius
    search at 100 TB, block with sign-LSH first (``emb_near_dup_lsh``'s
    machinery) and verify with this exact score.

    ID-SPACE CONTRACT (ADVICE r9): with the default
    ``include_self=False`` a match is excluded purely on ``q_id != n_id``
    across the two INDEPENDENT relations -- correct when ``queries`` is
    drawn from the corpus's id space (the audit/near-dup case), but a
    distinct corpus vector that merely shares an id with a query would be
    silently dropped.  When the query table's ids are NOT corpus ids (or
    self-matches are wanted for audit), pass ``include_self=True`` and
    filter downstream if needed.
    """
    scored = _exact_score(
        corpus, queries, id_col, vec_col, "cos_sim", include_self=include_self
    )
    return scored.filter(F.col("cos_sim") >= F.lit(threshold))


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    n_candidates: int = 20,
    k: int = 3,
    lambda_tenths: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998,
    public): greedily pick ``k`` results balancing relevance against
    redundancy -- step score = lambda*rel - (1-lambda)*max-sim-to-already-
    selected.  The diversity pass every RAG retriever runs after ANN.

    EXACT-integer greedy: relevance and pairwise similarity freeze to
    micro cosines first, the step score is
    ``lambda_tenths*rel_micro - (10-lambda_tenths)*sim_micro`` (scaled
    x10 -- ordering identical), every argmax tie-breaks on the id, so
    both engines select identical result SETS in identical order.

    The greedy loop unrolls: step i is one bounded join (candidates x
    selected-so-far, <= n_candidates*k rows per query) + one argmax
    window.  ``k`` is a loop over DataFrame ops -- fine for the k<=10
    of any reranker; candidates and their pairwise-sim relation are the
    only data-shaped inputs and both are (queries x n_candidates^2)-
    bounded.  Returns (q_id, n_id, rel_micro, step)."""
    # Every relation below is (queries x n_candidates^2)-bounded, but a
    # checkpoint keeps the scoring join's cross-product size estimate, so
    # the checkpointed blocks are broadcast explicitly.
    cand = F.broadcast(
        brute_force_topk(
            corpus, queries, k=n_candidates, id_col=id_col, vec_col=vec_col
        ).select(
            "q_id",
            "n_id",
            F.expr("cast(round(cos_sim * 1000000, 0) as bigint)").alias(
                "rel_micro"
            ),
        ).localCheckpoint(eager=True)  # feeds every unrolled step
    )

    vecs = corpus.select(
        F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v")
    )
    a = cand.select("q_id", F.col("n_id").alias("id_a"))
    b = cand.select("q_id", F.col("n_id").alias("id_b"))
    pair_sim = F.broadcast(
        a.join(b, "q_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .join(vecs.select(F.col("__vid").alias("id_a"), F.col("__v").alias("va")), "id_a")
        .join(vecs.select(F.col("__vid").alias("id_b"), F.col("__v").alias("vb")), "id_b")
        .select(
            "q_id",
            "id_a",
            "id_b",
            cosine_micro(F.col("va"), F.col("vb")).alias("sim_micro"),
        )
        .localCheckpoint(eager=True)  # reused by k-1 steps
    )

    lam, mu = lambda_tenths, 10 - lambda_tenths
    w = Window.partitionBy("q_id")
    picks = []
    selected = None
    for step in range(1, k + 1):
        if selected is None:
            scored = cand.select(
                "q_id", "n_id", "rel_micro",
                (F.col("rel_micro") * 10).alias("__score"),
            )
        else:
            max_sim = (
                selected.select("q_id", F.col("n_id").alias("id_b"))
                .join(pair_sim, ["q_id", "id_b"])
                .groupBy("q_id", F.col("id_a").alias("n_id"))
                .agg(F.max("sim_micro").alias("__ms"))
            )
            remaining = cand.join(
                selected.select("q_id", "n_id").withColumn("__t", F.lit(1)),
                ["q_id", "n_id"],
                "left_anti",
            )
            scored = remaining.join(max_sim, ["q_id", "n_id"], "left").select(
                "q_id", "n_id", "rel_micro",
                (
                    F.col("rel_micro") * lam
                    - F.coalesce(F.col("__ms"), F.lit(0)) * mu
                ).alias("__score"),
            )
        rk = F.row_number().over(
            w.orderBy(F.col("__score").desc(), F.col("n_id"))
        )
        pick = (
            scored.withColumn("__rk", rk)
            .filter(F.col("__rk") == 1)
            .select("q_id", "n_id", "rel_micro")
            .withColumn("step", F.lit(step).cast("long"))
            .localCheckpoint(eager=True)  # next step joins against it
        )
        picks.append(pick)
        selected = (
            pick if selected is None else selected.unionByName(pick)
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def kcenter_select(
    pool: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center / maximin DIVERSITY selection (Gonzalez 1985's
    2-approximation; the coreset-selection greedy of Sener & Savarese
    2018, public): seed with the lowest-id point, then repeatedly pick
    the pool point whose distance to the nearest already-selected point
    is LARGEST -- the diversity-sampling pass a curation pipeline runs
    to cover embedding space with k exemplars (where MMR diversifies a
    per-query result list, k-center diversifies the corpus itself).

    EXACT-integer greedy: distances freeze to micro cosine-distance
    (1e6 - round(cos*1e6)) BEFORE the min/argmax folds, every argmax
    tie-breaks on the id, so both engines select identical points in
    identical order.

    Scale shape: each of the k-1 unrolled steps is pool x selected
    (<= k broadcast rows) -> per-point min -> ONE global argmax via
    orderBy+limit(1) (TakeOrderedAndProject: per-partition top-1 + a
    1-row merge, never a single-task global window); every pick is a
    1-row eager localCheckpoint so no step replays the chain.  The pool
    itself is checkpointed once.  Contract: the pool is a CANDIDATE
    SET the caller has already bounded (per-shard samples, a stratified
    draw) -- the greedy is linear in pool size per step, k steps total.

    Returns (step, vec_id, maximin_micro) -- maximin_micro NULL for the
    seed, and for step i the exact maximin distance the pick achieved
    (monotonically non-increasing: the k-center coverage-radius curve).
    """
    dist = F.lit(1000000) - cosine_micro(F.col("__v"), F.col("__sv"))
    vecs = pool.select(
        F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v")
    ).localCheckpoint(eager=True)
    seed = (
        vecs.orderBy("__vid")
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("step"),
            F.col("__vid").alias("s_id"),
            F.col("__v").alias("__sv"),
            F.lit(None).cast("long").alias("maximin_micro"),
        )
        .localCheckpoint(eager=True)
    )
    picks = [seed]
    for step in range(2, k + 1):
        sel = picks[0].select("s_id", "__sv")
        for p in picks[1:]:
            sel = sel.unionByName(p.select("s_id", "__sv"))
        mind = (
            vecs.join(
                F.broadcast(sel.select("s_id")),
                F.col("__vid") == F.col("s_id"),
                "left_anti",
            )
            .crossJoin(F.broadcast(sel))
            .select("__vid", dist.alias("__d"))
            .groupBy("__vid")
            .agg(F.min("__d").alias("__md"))
        )
        pick = (
            mind.orderBy(F.col("__md").desc(), "__vid")
            .limit(1)
            .join(vecs, "__vid")
            .select(
                F.lit(step).cast("long").alias("step"),
                F.col("__vid").alias("s_id"),
                F.col("__v").alias("__sv"),
                F.col("__md").alias("maximin_micro"),
            )
            .localCheckpoint(eager=True)
        )
        picks.append(pick)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select("step", F.col("s_id").alias(id_col), "maximin_micro")


def int8_rescore_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 32,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval: GLOBAL-scale int8 prefilter, exact float
    rescoring -- the standard quantized-serving shape (scalar
    quantization + rerank; the SQ path every vector store ships,
    public).  Stage 1 ranks by the raw int8 dot product, which under a
    single corpus-wide scale is EXACTLY rank-preserving per query up to
    quantization error and is pure int64 arithmetic (127^2 * dims per
    pair, exact in both engines); the top ``m`` survivors per query are
    rescored with the exact double cosine and the top ``k`` served.

    At 100 TB the point is bytes: stage 1 touches 1/4 the memory
    bandwidth of float32 and never shuffles the corpus (queries
    broadcast); stage 2 touches only queries x m full vectors.

    Returns (q_id, n_id, dot_int, cos6, rank)."""
    scale = corpus.agg(
        F.max(
            F.expr(
                f"aggregate(transform({vec_col},"
                " x -> abs(cast(x as double))), 0D,"
                " (a, v) -> greatest(a, v))"
            )
        ).alias("__mx")
    ).select((F.col("__mx") / F.lit(127.0)).alias("__s"))
    q8 = (
        f"transform({vec_col}, x -> cast(round(cast(x as double) / __s)"
        " as bigint))"
    )
    c = corpus.crossJoin(F.broadcast(scale)).select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("__cv"),
        F.expr(q8).alias("__cq"),
    )
    qs = queries.crossJoin(F.broadcast(scale)).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("__qv"),
        F.expr(q8).alias("__qq"),
    )
    # stage 1: exact int64 dot of the quantized vectors
    dot_int = F.aggregate(
        F.zip_with(F.col("__cq"), F.col("__qq"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    ).alias("dot_int")
    stage1 = _rank_topk(
        _broadcast_score(c, qs, dot_int, keep=("__cv", "__qv")), "dot_int", m, "__rk"
    )
    cos6 = F.round(cosine(F.col("__cv"), F.col("__qv")), 6).alias("cos6")
    rescored = _rank_topk(stage1.select("q_id", "n_id", "dot_int", cos6), "cos6", k)
    return rescored.select(
        "q_id", "n_id", "dot_int", "cos6", F.col("rank").cast("long").alias("rank")
    )


def rocchio_expand_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k0: int = 10,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio 1971, the
    PRF recipe every classic IR stack ships, public): retrieve top-k0
    by the exact cosine, move the query toward the centroid of those
    pseudo-relevant results (alpha=1, beta=0.5), retrieve again with
    the expanded query.

    EXACT second round: the feedback centroid freezes per dimension to
    integer micro-units (the emb_centroid_outliers discipline) and the
    expanded query is held integer as q2 = 2*q_micro + centroid_micro
    (the x2 absorbs beta=1/2; scaling never moves a cosine), so the
    round-2 scores are single IEEE expressions over identical integers
    in both engines.  Round-1 relevance is the standard 6dp brute
    cosine with id tiebreaks.

    Scale shape: round 1 is the brute operator (queries broadcast,
    corpus never shuffles); the centroid/expansion relations are
    (queries x dims)-sized and BROADCAST back; round 2 is one more
    broadcast pass over the corpus.  Returns (q_id, n_id, cos6, rank,
    was_in_round1)."""
    # r1 is (queries x k0) rows, but a checkpoint keeps the scoring join's
    # cross-product size estimate, so it is broadcast explicitly
    r1 = F.broadcast(
        brute_force_topk(
            corpus, queries, k=k0, id_col=id_col, vec_col=vec_col
        ).select("q_id", "n_id").localCheckpoint(eager=True)
    )
    cvec = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("__cv")
    )
    # feedback centroid per (q_id, dim), frozen to micro ints
    fb = (
        r1.join(cvec, "n_id")
        .select("q_id", F.posexplode("__cv").alias("dim", "val"))
        .groupBy("q_id", "dim")
        .agg(
            F.expr(
                "cast(round(avg(cast(val as double)) * 1000000) as bigint)"
            ).alias("cmic")
        )
    )
    qm = queries.select(
        F.col(id_col).alias("q_id"), F.posexplode(vec_col).alias("dim", "qv")
    ).select(
        "q_id",
        "dim",
        F.expr("cast(round(cast(qv as double) * 1000000) as bigint)").alias(
            "qmic"
        ),
    )
    q2 = (
        qm.join(fb, ["q_id", "dim"])
        .select("q_id", "dim", F.expr("2 * qmic + cmic").alias("x"))
        .groupBy("q_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, x))),"
                " s -> s.x)"
            ).alias("__qx")
        )
    )
    cm = cvec.select(
        "n_id",
        F.expr(
            "transform(__cv, v -> cast(round(cast(v as double) * 1000000)"
            " as bigint))"
        ).alias("__cx"),
    )
    cos6 = F.round(cosine(F.col("__cx"), F.col("__qx")), 6).alias("cos6")
    scored = _rank_topk(_broadcast_score(cm, q2, cos6), "cos6", k)
    return scored.join(
        r1.withColumn("was_in_round1", F.lit(1)), ["q_id", "n_id"], "left"
    ).select(
        "q_id",
        "n_id",
        "cos6",
        F.col("rank").cast("long").alias("rank"),
        F.coalesce("was_in_round1", F.lit(0)).cast("long").alias(
            "was_in_round1"
        ),
    )
