"""Deduplication operators over the ``documents`` table.

Beyond-reference extension (no counterpart in /root/reference; the
BASELINE.json north star).  Exact + near-dup families for a 100 TB
training-data pipeline:

- exact: hash-groupBy on a content digest -- one shuffle on the digest;
- minhash LSH: shingle -> seeded-md5 minhash signature -> banded buckets ->
  candidate pairs only within buckets (never the O(n^2) cross join);
- simhash: 16-bit sign-sum fingerprint, collide on equal fingerprint;
- n-gram Jaccard: shingle-join candidate generation + exact Jaccard verify;
- embedding cosine near-dup lives in operators/similarity.py.

All hashing is md5-based (functions/hashing.py) so the DuckDB oracle can
reproduce every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kcl_akka_stream_spark.functions.hashing import md5_seeded
from kcl_akka_stream_spark.operators.text import bind_once as _bind_once
from kcl_akka_stream_spark.operators.text import tokens


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: per content digest keep the smallest id (the keeper) and
    the duplicate count.  Single hash-shuffle on the digest; at 100 TB the
    digest groupBy is the canonical map-side-combinable pattern."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingle_body(toks: Column, k: int) -> Column:
    size = F.size(toks)
    g = toks
    for j in range(1, k):
        g = F.zip_with(
            g, F.slice(toks, j + 1, size), lambda x, y: F.concat_ws(" ", x, y)
        )
    return F.array_distinct(
        F.when(size >= k, F.slice(g, 1, size - (k - 1))).otherwise(
            F.array(F.array_join(toks, " "))
        )
    )


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles as strings (distinct).

    Built by zipping the token array with its own shifted slices: the
    arrays are lambda ARGUMENTS, evaluated once per row.  The previous
    form — ``transform(sequence(...), i -> slice(toks, i + 1, k))`` —
    referenced ``toks`` inside the lambda body, where Catalyst
    re-evaluates the underlying regexp_extract_all PER ELEMENT (no CSE
    across lambda bodies), making shingling quadratic in document
    length; the zip form cut dedup_ngram_jaccard from ~9 s to ~2 s at
    sf0.1.  The token array itself is ``_bind_once``-bound so the
    regexp runs once per row, not once per reference."""
    return _bind_once(tokens(col), lambda toks: _shingle_body(toks, k))


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    from kcl_akka_stream_spark.plans.hygiene import spread

    return spread(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("shingle")
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 8, k: int = 3
) -> DataFrame:
    """Per-doc minhash signature: 8 independent hashes from TWO md5s per
    shingle (each 128-bit digest split into four 8-hex-digit chunks; the
    lexicographic min of a uniform hex chunk is a valid min-hash).

    Scale shape: explode shingles -> hash -> partial min-agg map-side ->
    shuffle only (doc_id, 8 mins) -- the shuffle volume is docs x signature,
    never the shingle count, and everything stays in whole-stage codegen
    (2 md5/shingle instead of 8 keeps the hash cost down)."""
    if num_hashes != 8:
        raise ValueError("signature layout is fixed at 8 hashes (2 md5 digests x 4 chunks)")
    ex = _exploded_shingles(df, text_col, id_col, k)
    h1 = F.md5(F.col("shingle"))
    h2 = md5_seeded(F.col("shingle"), 1)
    hashed = ex.select(F.col(id_col), h1.alias("__h1"), h2.alias("__h2"))
    mins = [
        F.min(F.substring(F.col("__h1" if s < 4 else "__h2"), (s % 4) * 8 + 1, 8)).alias(f"mh_{s}")
        for s in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*mins)


def _band_buckets(
    sig: DataFrame, num_hashes: int, bands: int, id_col: str
) -> DataFrame:
    """Banding over an existing signature frame (shared by
    minhash_lsh_buckets and minhash_estimate_vs_exact, which reuses one
    signature computation across banding and agreement scoring)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("bucket"))
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """LSH banding: signature split into `bands` bands of `num_hashes/bands`
    rows each; band bucket = md5 of the concatenated band slice.  Docs
    sharing any band bucket are near-dup candidates.  Output: one row per
    (doc, band) with its bucket id -- candidate pairs come from a self-join
    on (band, bucket), which only touches colliding groups."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, k)
    return _band_buckets(sig, num_hashes, bands, id_col)


def minhash_candidate_pairs(
    buckets: DataFrame, id_col: str = "doc_id", max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (a<b) from shared LSH buckets.

    No self-join: group ids per (band, bucket) and emit ordered pairs
    map-side from the sorted array (same shape as ngram_jaccard_pairs) --
    one shuffle to group, one for the final distinct.

    ``max_bucket_size`` is the 100 TB hot-bucket guard (the twin of
    ngram_jaccard_pairs' ``max_doc_freq``): a bucket with more than this
    many docs is boilerplate-driven and its pair fan-out is quadratic, so
    it is dropped whole before pair generation.  Near-identical docs
    collide in EVERY band, so the cap loses only dup clusters another band
    already found.  Deterministic -> oracle-mirrorable."""
    grouped = buckets.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("ds")
    ).filter(F.size("ds") > 1)
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ds") <= max_bucket_size)
    big = F.lit(1 << 30)
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ds"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ds"), i + 2, big),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")).distinct()


def verify_candidate_jaccard(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    df_b: DataFrame | None = None,
) -> DataFrame:
    """Stage 2 of the canonical MinHash pipeline: exact Jaccard computed
    ONLY for LSH candidate pairs (stage 1 = minhash_candidate_pairs).

    ``df_b`` (optional) makes this the CROSS-DATASET form: ``id_a``
    resolves against ``df`` and ``id_b`` against ``df_b``, so the two id
    spaces never share a table and may overlap freely (ADVICE r12 --
    the single-table form required the caller to guarantee disjoint
    ids when it unioned two datasets).

    Scale shape: the shingle sets ride as array columns and join to the
    candidate pairs by doc id -- two hash joins keyed on the id (Catalyst
    broadcasts the candidate side when it fits), then the set intersection
    is a map-side ``array_intersect``.  Cost is |candidates| * shingle-set
    size, never corpus x corpus; this is what makes LSH+verify the 100 TB
    near-dup recipe.

    Deliberately NOT checkpointed (r16 measured rejection): the shingle-
    array relation feeds both join sides, so one might expect the
    checkpoint-once win fingerprint_band_pairs got -- but interleaved
    ABBA on dedup_chain_audit measured the eager checkpoint SLOWER
    (3.71 s vs 3.27 s median at sf0.1): writing + twice reading the fat
    array<string> blocks costs more than streaming the whole-stage-
    codegen'd shingle compute a second time.  The fingerprint case wins
    because its materialized rows are two int64s; this one's are
    kilobyte arrays."""
    sh = df.select(F.col(id_col), shingles(F.col(text_col), k).alias("__shs"))
    sh_b = (
        sh
        if df_b is None
        else df_b.select(
            F.col(id_col), shingles(F.col(text_col), k).alias("__shs")
        )
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__shs").alias("__sh_a"))
    b = sh_b.select(
        F.col(id_col).alias("id_b"), F.col("__shs").alias("__sh_b")
    )
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - inter
    jac = inter / union
    return joined.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _bit_predicate(position: int):
    highs = ("8", "9", "a", "b", "c", "d", "e", "f")
    return lambda h: F.substring(h, position, 1).isin(*highs)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """16-bit simhash: per token take bits 1..16 from its md5 hex digits,
    sign-sum over the document, bit set iff the sum is positive.  Equal
    fingerprints = near-dups under small edits.  Integer-exact, so the
    oracle reproduces it.

    MAP-ONLY: token hashes stay an array column; per-bit sign-sum is
    ``2 * count(bit set) - n`` via array filter -- no explode, no shuffle.
    Docs with zero tokens produce no row (same as the exploded form).

    The zero-token filter is ``rlike('[a-z0-9]')`` -- exactly equivalent to
    ``size(tokens) > 0`` but cheap and scan-pushable; filtering on the
    computed array would push the whole token-hash transform below the
    exchange and evaluate it twice (once in the Filter, once in the
    Project)."""
    from kcl_akka_stream_spark.plans.hygiene import spread

    pre = df.select(id_col, text_col).filter(F.lower(F.col(text_col)).rlike("[a-z0-9]"))
    hashed = spread(pre).select(
        F.col(id_col),
        F.transform(tokens(F.col(text_col)), lambda t: F.md5(t)).alias("__hs"),
    )
    n = F.size(F.col("__hs"))
    fingerprint = None
    for i in range(bits):
        cnt1 = F.size(F.filter(F.col("__hs"), _bit_predicate(i + 1)))
        term = F.when(2 * cnt1 - n > 0, F.lit(2**i)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return hashed.select(F.col(id_col), fingerprint.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    containment: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle-join candidate
    generation: |A ∩ B| from the shingle equi-join (docs sharing no shingle
    never meet -- no cross product), |A ∪ B| = |A|+|B|-|A∩B|.

    Output: (id_a, id_b, jaccard) for pairs >= threshold, jaccard rounded to
    6 dp for stable cross-engine hashing.

    Plan shape: instead of the naive shingle self-join (shuffles the
    exploded table twice and collapses every hot shingle onto one reducer),
    group doc-ids per shingle ONCE, then emit the ordered pairs map-side
    from the sorted id array -- one shuffle of the exploded shingles, one
    shuffle of the pairs.  At 100 TB a df-cap (drop shingles appearing in
    > X docs) bounds the per-shingle pair fan-out; not applied here because
    the oracle is exact Jaccard.  The per-doc shingle count rides along
    with every exploded row (computed once from the shingle array before
    the explode), so no size-lookup join is needed -- the whole operator is
    one tokenization, two shuffles, zero joins."""
    from kcl_akka_stream_spark.plans.hygiene import spread

    sh_arr = spread(df.select(id_col, text_col)).select(
        F.col(id_col), shingles(F.col(text_col), k).alias("__shs")
    )
    ex = sh_arr.select(
        F.col(id_col), F.size("__shs").alias("n_sh"), F.explode("__shs").alias("shingle")
    )
    docs_per_shingle = (
        ex.groupBy("shingle")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("n_sh").alias("n")))
            ).alias("ds")
        )
        .filter(F.size("ds") > 1)
    )
    if max_doc_freq is not None:
        # df-cap guardrail: a shingle in more than max_doc_freq docs is a
        # boilerplate/stop-shingle whose pair fan-out is quadratic; dropping
        # it bounds the per-shingle explosion at 100 TB.  The cap is
        # deterministic, so the capped variant is still oracle-checkable
        # (intersection counts shrink -> jaccard becomes a lower bound).
        docs_per_shingle = docs_per_shingle.filter(F.size("ds") <= max_doc_freq)
    big = F.lit(1 << 30)
    pair_arrays = docs_per_shingle.select(
        F.flatten(
            F.transform(
                F.col("ds"),
                lambda x, i: F.transform(
                    F.slice(F.col("ds"), i + 2, big),
                    lambda y: F.struct(
                        x.getField("id").alias("id_a"),
                        y.getField("id").alias("id_b"),
                        x.getField("n").alias("n_a"),
                        y.getField("n").alias("n_b"),
                    ),
                ),
            )
        ).alias("pairs")
    )
    # Size-ratio prune (set-similarity-join length filter): jaccard(A,B)
    # <= min(|A|,|B|)/max(|A|,|B|), so pairs whose sizes differ too much
    # can NEVER reach the threshold -- drop them map-side, before the pair
    # shuffle.  Exact: no false negatives.  NOT valid for containment
    # (a tiny doc fully inside a huge one scores 1.0), so skipped there.
    if containment:
        pruned = pair_arrays
    else:
        pruned = pair_arrays.select(
            F.filter(
                F.col("pairs"),
                lambda p: F.least(p.getField("n_a"), p.getField("n_b"))
                >= F.lit(threshold) * F.greatest(p.getField("n_a"), p.getField("n_b")),
            ).alias("pairs")
        )
    inter = (
        pruned.select(F.explode("pairs").alias("p"))
        .groupBy(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            F.col("p.n_a").alias("n_a"),
            F.col("p.n_b").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if containment:
        # asymmetric measure: |A∩B| / min(|A|,|B|) -- catches quotes and
        # supersets Jaccard misses (full embedding scores 1.0)
        m = F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
        return inter.select(
            "id_a", "id_b", F.round(m, 6).alias("containment")
        ).filter(F.col("containment") >= threshold)
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return inter.select("id_a", "id_b", F.round(jac, 6).alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _mirrored_edge_base(pairs: DataFrame) -> DataFrame:
    """Checkpointed bidirectional edge base of ``connected_components``
    (VERDICT r8 #6 -- the graph.py:28 ``_edge_base`` discipline): the
    candidate-pair subtree (often a whole LSH pipeline) is materialized
    ONCE via an eager localCheckpoint, and the reverse direction is a
    cheap re-read of the checkpointed blocks, so neither the union's two
    branches nor any propagation round recomputes the pair pipeline.  The
    distinct rides the checkpointed relation (callers may feed
    non-normalized pairs)."""
    base = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint()
    return (
        base.union(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )


def _restrict_edges_to_nodes(
    edges: DataFrame, nodes: DataFrame, id_col: str
) -> DataFrame:
    """Drop every mirrored edge touching an endpoint absent from
    ``nodes`` (both directions go together: the semi-joins check src AND
    dst).  The opt-in guard behind ``validate_pairs`` -- costs one
    nodes-sized semi-join pass per CC call, so it is OFF by default for
    pipelines whose pairs derive from the node set by construction."""
    n = nodes.select(F.col(id_col)).distinct()
    return (
        edges.join(n.withColumnRenamed(id_col, "src"), "src", "left_semi")
        .join(n.withColumnRenamed(id_col, "dst"), "dst", "left_semi")
        .select("src", "dst")
        .localCheckpoint()
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    validate_pairs: bool = False,
) -> DataFrame:
    """Near-dup cluster assignment: connected components over the candidate
    -pair graph by iterative min-label propagation.  Returns
    ``(id_col, cluster_id)`` where cluster_id = the smallest node id
    reachable from the node (singletons keep their own id).

    Control flow is a driver-side loop, but every iteration is a
    distributed join+agg and the loop runs O(component diameter) times;
    near-dup graphs are shallow (dup clusters are cliques or near-cliques
    from LSH banding, diameter ~2-3).  localCheckpoint every iteration cuts
    the lineage so plans stay flat.

    Only edge-touched nodes iterate: a node with no candidate pair can
    never change label, so the iteration state is EDGE-sized
    (dup-involved docs), not corpus-sized, and singletons get
    ``cluster_id = id`` in one map-only projection at the end.

    ``max_iterations`` bounds the CHEAP phase, not the computation
    (ADVICE r15 #1): ``max_iterations`` plain rounds plus one confirmation
    round (labels that stabilize exactly on the last allowed round are a
    success).  If the labels still move -- a long near-dup chain, or a
    runaway candidate generator feeding giant components -- the loop
    continues from the current labels with POINTER-JUMPING rounds
    (``_cc_step_jump``, O(log remaining-diameter)) under the same budget:
    component depth is a property of the DATA, and a dedup pipeline must
    not hard-fail at production scale on one long chain.  The min-label
    fixpoint is identical either way (same semilattice, same edges), so
    shallow graphs pay only the cheaper plain rounds.  Only if even
    pointer jumping cannot converge (diameter > ~2^max_iterations) does
    the operator raise rather than silently returning HALF-MERGED
    clusters -- wrong cluster ids in a dedup pipeline mean silently
    dropping the wrong documents downstream.

    PRECONDITION (pairs subset of nodes): every pair endpoint must be
    drawn from ``nodes``'s id space.  By default a stray endpoint (stale
    or cross-batch candidate pair) PARTICIPATES in propagation and can
    become a component's min label, so ``cluster_id`` may then reference
    an id absent from ``nodes`` (output ROWS are always exactly
    ``nodes``).  LSH pipelines generate pairs from the node set, so the
    precondition holds by construction; callers that cannot prove it
    pass ``validate_pairs=True`` to semi-join stray edges out (both
    directions together) at the cost of one nodes-sized semi-join pass.
    Pinned by ``test_cc_stray_endpoint_contract``.
    """
    edges = _mirrored_edge_base(pairs)
    if validate_pairs:
        edges = _restrict_edges_to_nodes(edges, nodes, id_col)
    touched = edges.select(F.col("src").alias("id")).distinct().localCheckpoint()
    labels = touched.select("id", F.col("id").alias("label"))
    rounds = [_cc_step_plain] * (max_iterations + 1)
    rounds += [_cc_step_jump] * (max_iterations + 1)
    for step in rounds:
        labels, changed = step(edges, labels)
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"{max_iterations} plain and {max_iterations} pointer-jumping "
            f"iterations ({changed} nodes moved in the confirmation round) "
            f"-- component diameter exceeds the bound; raise max_iterations"
        )
    out = nodes.select(F.col(id_col)).join(
        labels.withColumnRenamed("id", id_col), id_col, "left"
    )
    return out.select(
        id_col,
        F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id"),
    )


def _cc_hop(edges, labels):
    """One min-label propagation hop; ``__old`` carries each node's label
    from before the hop.  Each node's own row and the labels its
    neighbours offer meet in ONE aggregate, a shuffle fewer per round
    than a neighbour-min aggregate joined back onto the labels (every
    edge source is a labelled node, so the id set never changes)."""
    offers = edges.join(labels, edges.dst == labels.id).select(
        F.col("src").alias("id"),
        F.col("label").alias("cand"),
        F.lit(None).cast(labels.schema["label"].dataType).alias("old"),
    )
    own = labels.select(
        "id", F.col("label").alias("cand"), F.col("label").alias("old")
    )
    return (
        own.unionByName(offers)
        .groupBy("id")
        .agg(F.min("cand").alias("label"), F.max("old").alias("__old"))
    )


def _cc_settle(staged):
    """Checkpoint one round's labels and count the nodes that moved.  The
    old label rode the projection into the checkpoint, so the convergence
    witness is a map-only scan of the materialized blocks, no self-join."""
    staged = staged.localCheckpoint()
    changed = staged.filter(F.col("label") != F.col("__old")).count()
    return staged.drop("__old"), changed


def _cc_step_plain(edges, labels):
    return _cc_settle(_cc_hop(edges, labels))


def _cc_step_jump(edges, labels):
    """A min-label hop followed by a label-of-label join
    (``L(u) <- L(L(u))``), which halves the remaining pointer-chain depth:
    O(log diameter) rounds instead of O(diameter), at the price of one
    extra self-join of the (id, label) table per round."""
    hopped = _cc_hop(edges, labels)
    # pointer jump: follow the label's own label (labels only ever
    # DECREASE toward the component min, so L(L(u)) <= L(u) and the
    # jump is always safe)
    parent = hopped.select(
        F.col("id").alias("p_id"), F.col("label").alias("p_label")
    )
    return _cc_settle(
        hopped.join(parent, hopped.label == parent.p_id, "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
            ).alias("label"),
            F.col("__old"),
        )
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    bands: int = 2,
) -> DataFrame:
    """SimHash near-dup PAIRS: band the fingerprint (two 8-bit halves by
    default), candidate docs share a band value, survivors verified by
    exact hamming distance (bit_count of xor).

    The banding is the same pigeonhole trade as MinHash-LSH: hamming
    <= bits/bands - 1 per band guarantees a shared band for distance
    <= bands - 1; larger distances are caught probabilistically.  Scale
    shape: fingerprints are one map-only pass (see ``simhash``); the
    band self-join is keyed by (band, value) -- fan-out bounded by
    bucket sizes, the verify is a row-local bit op, and the pair
    distinct collapses double-banded pairs map-side."""
    sh = simhash(df, text_col=text_col, id_col=id_col, bits=bits)
    return fingerprint_band_pairs(
        sh, id_col=id_col, fp_col="simhash", bits=bits, bands=bands,
        max_hamming=max_hamming,
    )


def fingerprint_band_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    bits: int = 16,
    bands: int = 2,
    max_hamming: int = 3,
) -> DataFrame:
    """The banding+verify half of simhash near-dup, factored so ANY
    bit-fingerprint relation reuses it (text simhash here; byte-gram
    payload simhash for binary multimodal columns in
    operators/multimodal.py).  Candidates share a band value; survivors
    verified by exact hamming (bit_count of xor); pair distinct collapses
    double-banded pairs map-side.

    The fingerprint input is eagerly checkpointed FIRST (r16, guide §1.2
    remove whole passes): the banded union references it once per band
    and the self-join once per side, so an un-materialized ``sh`` plan
    re-ran its fingerprint computation bands x 2 times per action --
    measured 4 full Arrow simhash passes on multimodal_phash_pairs
    (2.91 s full query vs 0.67 s for one pass).  (id, fp) is two int64s
    per doc -- the lightweight-proxy relation, safe to materialize at
    any scale."""
    sh = sh.localCheckpoint(eager=True)
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    banded = None
    for b in range(bands):
        part = sh.select(
            F.col(id_col),
            F.col(fp_col),
            F.lit(b).alias("band"),
            F.shiftright(F.col(fp_col), b * band_bits).bitwiseAND(mask).alias(
                "bv"
            ),
        )
        banded = part if banded is None else banded.unionByName(part)
    a = banded.select(
        "band", "bv", F.col(id_col).alias("id_a"), F.col(fp_col).alias("sh_a")
    )
    b_ = banded.select(
        "band", "bv", F.col(id_col).alias("id_b"), F.col(fp_col).alias("sh_b")
    )
    pairs = (
        a.join(b_, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def verify_candidate_edit_distance(
    docs: DataFrame,
    cands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 200,
    max_dist_per_5_chars: int = 1,
) -> DataFrame:
    """Edit-distance verification of LSH candidate pairs: keep pairs whose
    Levenshtein distance over the first ``prefix_len`` characters is at
    most ``max_dist_per_5_chars`` per 5 characters of the longer prefix
    (the default keeps pairs within 20% relative edit distance).

    The complement of verify_candidate_jaccard for REORDER-sensitive
    near-dup detection: Jaccard over shingle sets is blind to segment
    order, edit distance is not.  Levenshtein is O(len_a * len_b) per
    pair, so at 100 TB it is never run on whole documents -- the prefix
    cap bounds the DP matrix (200x200 here) and the candidate set bounds
    the pair count; both caps are explicit arguments, not defaults
    buried in code.  The acceptance test is integer-exact
    (dist * 5 <= max_dist_per_5_chars * max_len), so no float boundary
    can disagree across engines.  (Cross-engine caveat: Spark's
    levenshtein counts unicode codepoints while DuckDB's counts BYTES --
    identical on ASCII corpora like the fixture, divergent beyond.)
    """
    a = docs.select(
        F.col(id_col).alias("id_a"),
        F.substring(F.col(text_col), 1, prefix_len).alias("pa"),
    )
    b = docs.select(
        F.col(id_col).alias("id_b"),
        F.substring(F.col(text_col), 1, prefix_len).alias("pb"),
    )
    j = cands.join(a, "id_a").join(b, "id_b")
    dist = F.levenshtein(F.col("pa"), F.col("pb"))
    max_len = F.greatest(F.length("pa"), F.length("pb"))
    return (
        j.select(
            "id_a",
            "id_b",
            dist.cast("long").alias("edit_dist"),
            max_len.cast("long").alias("max_len"),
        )
        .filter(
            F.col("edit_dist") * 5 <= F.lit(max_dist_per_5_chars) * F.col("max_len")
        )
    )


def minhash_estimate_vs_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    dup_threshold_micro: int = 500_000,
) -> DataFrame:
    """Sketch acceptance contract for the MinHash-LSH family -- the twin
    of the ANN recall report (queries/pipeline.py::sim_ivf_recall_report):
    for every LSH candidate pair, score the SIGNATURE-estimated
    similarity (count of agreeing minhash components, 0..num_hashes)
    against the TRUE shingle-set Jaccard (integer micro-units), and
    aggregate into a calibration table keyed by agreement count.

    At 100 TB nobody re-verifies a dedup sweep by computing exact
    Jaccard corpus-wide; a calibration table over the candidate set
    (est agreement vs measured truth) is how production dedup tracks
    whether its banding threshold still separates dups from collisions.
    Everything is integer (agreement counts, micro-Jaccard via
    truncating div, pair counters), so an external engine reproduces
    the table bit-for-bit.

    Scale shape: ONE signature computation is checkpointed and shared by
    banding and both agreement joins (the data-sized shingle explode
    runs once); candidate pairs are bucket-local (never corpus x
    corpus); the exact-Jaccard verify touches only candidates.  Output:
    (n_agree, n_pairs, sum_jaccard_micro, n_true_dups).
    """
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, k
    ).localCheckpoint(eager=True)
    pairs = minhash_candidate_pairs(
        _band_buckets(sig, num_hashes, bands, id_col), id_col
    )
    sa = sig.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{s}").alias(f"__a_{s}") for s in range(num_hashes)],
    )
    sb = sig.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{s}").alias(f"__b_{s}") for s in range(num_hashes)],
    )
    agree = sum(
        (F.col(f"__a_{s}") == F.col(f"__b_{s}")).cast("long")
        for s in range(num_hashes)
    )
    est = pairs.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", agree.alias("n_agree")
    )
    sh = df.select(F.col(id_col), shingles(F.col(text_col), k).alias("__shs"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__shs").alias("__sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__shs").alias("__sh_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - inter
    scored = (
        est.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__i", inter.cast("long"))
        .withColumn("__u", union.cast("long"))
        .select(
            "n_agree",
            F.expr("(__i * 1000000) div __u").alias("jac_micro"),
        )
    )
    return scored.groupBy("n_agree").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("jac_micro").cast("long").alias("sum_jaccard_micro"),
        F.sum(
            (F.col("jac_micro") >= dup_threshold_micro).cast("long")
        ).alias("n_true_dups"),
    )


def bloom_prune_known(
    incoming: DataFrame,
    existing_digests: DataFrame,
    digest_col: str = "digest",
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """Two-phase exact membership check against a historical corpus with a
    Bloom-filter prune: flag each ``incoming`` row as already present in
    ``existing_digests`` WITHOUT joining the full history against the
    full batch.

    Phase 1 (prune): the history compresses to its set of Bloom bit
    positions -- ``k_hashes`` md5-derived positions per digest, distinct,
    so the relation is bounded by ``m_bits`` ROWS no matter how many
    billions of documents the history holds.  That bounded set broadcasts
    to every executor, and each incoming row checks its own k positions
    against it map-side.  A row missing ANY position is definitively
    absent (Bloom filters have no false negatives) and never reaches
    phase 2.

    Phase 2 (verify): only the Bloom-positive candidates -- the true
    matches plus the false-positive tail governed by the standard
    (1 - e^(-kn/m))^k rate -- are exactly joined against the history
    digests.  The result is therefore EXACT; the Bloom stage is purely a
    work-pruner, the shape that keeps daily-ingest dedup affordable when
    the history is 1000x the batch.

    The position hash is md5-based and integer-exact
    (``conv(substr(md5(digest || '|i'), 1, 8), 16, 10) % m``), so an
    external engine can replicate the filter bit-for-bit -- including
    which rows are false positives (surfaced as
    ``bloom_candidate = 1, is_known = 0``).

    Output: incoming's columns plus ``bloom_candidate`` and ``is_known``
    (int 0/1 -- cross-engine hash stability).  ROW-PRESERVING: duplicate
    incoming rows each come back once (the k-position regroup keys on an
    internal per-row id, not on the value columns), matching the
    streaming twin ``stream_bloom_dedup``'s chained-join semantics.
    """
    def _positions(col: Column) -> list[Column]:
        return [
            (
                F.conv(
                    F.substring(F.md5(F.concat(col, F.lit(f"|{i}"))), 1, 8),
                    16,
                    10,
                ).cast("long")
                % m_bits
            )
            for i in range(k_hashes)
        ]

    digest = F.col(digest_col)
    bits = (
        existing_digests.select(
            F.explode(F.array(*_positions(digest))).alias("bit")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # The per-row id (assigned BEFORE the k-position explode) is the
    # regroup key, so duplicate incoming rows survive as duplicates --
    # grouping on the value columns would silently collapse them and
    # change output multiplicity.  Uniqueness within one evaluation is
    # all the id is used for; it never leaves this function.
    # NO spread (r10 measured, 1.06x): the k-hash explode is 3 md5s/row
    # over the (small) daily incoming slice; see SPREAD_AUDIT_ALLOW.
    inc_pos = incoming.withColumn(
        "__row_id", F.monotonically_increasing_id()
    ).select(
        "__row_id",
        *incoming.columns,
        F.explode(F.array(*_positions(digest))).alias("pos"),
    )
    cand = (
        inc_pos.join(F.broadcast(bits), F.col("pos") == F.col("bit"), "left")
        .groupBy("__row_id", *incoming.columns)
        .agg(
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) == k_hashes)
            .cast("int")
            .alias("bloom_candidate")
        )
    )
    known = (
        existing_digests.select(digest.alias("__known_digest"))
        .distinct()
        .withColumn("__is_known", F.lit(1))
    )
    # Single-pass verify: a LEFT join whose condition includes
    # bloom_candidate = 1 resolves candidates exactly and leaves
    # negatives unmatched (is_known -> 0) WITHOUT the
    # filter-positives/union-negatives split, which would re-execute the
    # whole upstream candidate aggregation once per branch.  When the
    # history digest relation outgrows broadcast range, split + cache the
    # candidate frame instead so bloom-negative rows never enter the
    # shuffled verify join.
    return (
        cand.join(
            F.broadcast(known),
            (F.col(digest_col) == F.col("__known_digest"))
            & (F.col("bloom_candidate") == 1),
            "left",
        )
        .select(
            *incoming.columns,
            "bloom_candidate",
            F.coalesce(F.col("__is_known"), F.lit(0)).cast("int").alias("is_known"),
        )
    )


def minhash_incremental_pairs(
    buckets: DataFrame,
    new_col: str = "is_new",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental LSH candidate generation: given banded buckets where
    each row carries an ``is_new`` flag (this batch vs the standing
    store), emit only the candidate pairs that INVOLVE a new doc --
    new x store and new x new.  Store x store pairs were found when
    those docs arrived, so they never materialize again: per-batch pair
    work is |new signatures| x bucket-hit fan-out, independent of
    corpus history size -- the property that makes LSH dedup runnable
    as a daily delta job over a 100 TB corpus (the minhash twin of
    ``bloom_prune_known``'s exact-dup increment).

    ``max_bucket_size`` is the hot-bucket guard on the PROBE join
    (VERDICT r8 #7 -- the batch path's ``minhash_candidate_pairs`` cap
    applied to the incremental shape): a (band, bucket) whose TOTAL
    membership (store + batch) exceeds the cap is boilerplate-driven
    and its per-batch fan-out is |new-in-bucket| x |bucket|, so the
    bucket is dropped whole before the join.  Same loss contract as the
    batch cap: near-identical docs collide in every band, so only
    pairs whose EVERY shared band is oversized are lost.  The
    membership count rides the same (band, bucket) exchange the probe
    join needs.

    Scale shape: the new side of the (band, bucket) join is
    batch-sized; the store side is the bucket index the batch probes.
    Pairs normalize to (id_a < id_b) and dedup map-side.
    """
    if max_bucket_size is not None:
        sz = Window.partitionBy("band", "bucket")
        buckets = (
            buckets.withColumn("__bsz", F.count(F.lit(1)).over(sz))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    new_b = buckets.filter(F.col(new_col)).select(
        "band", "bucket", F.col(id_col).alias("__n")
    )
    all_b = buckets.select("band", "bucket", F.col(id_col).alias("__o"))
    pairs = new_b.join(all_b, ["band", "bucket"]).filter(
        F.col("__n") != F.col("__o")
    )
    return pairs.select(
        F.least("__n", "__o").alias("id_a"),
        F.greatest("__n", "__o").alias("id_b"),
    ).distinct()


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    w: int = 3,
    band_expr: Column | None = None,
    validate_bands: bool = False,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs (Hernandez & Stolfo 1995,
    public) with BANDED sort partitioning -- VERDICT r10 #4's de-skew.

    Semantics: every unordered id pair whose rows sit within ``w``
    positions of each other in the per-``block_col`` sort order on
    ``(key_col, id_col)`` -- EXACTLY the candidate set one global
    per-block sort produces.  The r10 implementation ran that sort as
    ``Window.partitionBy(block_col)``, which on a monolingual 100 TB
    corpus is a single-partition global sort (the classic SN trade).

    De-skewed plan: the sort partitions on ``(block, band)`` where the
    band is a PREFIX of the sort key (default: first character), so
    band ranges are contiguous in sort order and in-band ``lead()``
    pairs are exactly the in-band subset of the global pairs.  Pairs
    that cross band boundaries are stitched from an edge relation --
    the first/last ``w`` rows of every band (<= 2w x bands x blocks
    rows, bounded) -- carrying each row's EXACT global rank
    (band-offset + in-band rank; offsets come from a broadcast
    (block, band) size rollup).  Edge rows are re-paired within
    ``block`` and kept iff their global-rank gap is <= w, which makes
    the stitched set provably identical to the global-sort set:

    - a cross-band pair with global gap <= w has both endpoints in the
      edge set (the left row is within w of its band's end, the right
      within w of a band's start), and every intermediate row is an
      edge row too, so its edge-order distance EQUALS its global gap;
    - any same-band or far pair the edge window over-generates fails
      the exact global-rank filter (or dedups against the in-band set).

    tests/test_pipeline_ops.py pins set equality against the naive
    global-sort plan, boundary pairs included.  Parallelism becomes
    #blocks x #bands instead of #blocks; band_expr widens it (e.g.
    2-char prefix) when one band dominates.

    ``band_expr`` CONTRACT (ADVICE r11): the band must be a SORT-ORDER
    PREFIX of ``key_col`` -- band values must sort in the same order as
    the key ranges they cover, with no two bands' key ranges
    interleaving (any key-prefix of fixed length qualifies; a hash or
    mod bucket does NOT).  The boundary-stitch offsets window orders
    bands BY BAND VALUE, so a non-prefix band silently produces a wrong
    candidate set.  Pass ``validate_bands=True`` (debug; one extra
    bands-x-blocks-bounded aggregate) to verify the contract on the
    actual data and raise on violation instead."""
    blk = F.col(block_col) if block_col else F.lit("")
    band = (
        band_expr
        if band_expr is not None
        else F.coalesce(F.substring(F.col(key_col), 1, 1), F.lit(""))
    )
    keyed = df.select(
        F.col(id_col).alias("__id"),
        blk.alias("__blk"),
        F.col(key_col).alias("__k"),
        band.alias("__band"),
    )
    if validate_bands:
        # Debug contract check: within each block, band order must equal
        # key-range order with no interleaving (see band_expr CONTRACT).
        # The relation is bands x blocks -- the same bounded rollup the
        # offsets window consumes -- so the collect is metadata-sized.
        rng_rows = (
            keyed.groupBy("__blk", "__band")
            .agg(F.min("__k").alias("__lo"), F.max("__k").alias("__hi"))
            .collect()
        )
        per_blk: dict = {}
        for r in rng_rows:
            per_blk.setdefault(r["__blk"], []).append(
                (r["__band"], r["__lo"], r["__hi"])
            )
        for blk_v, bands in per_blk.items():
            # A NULL band is its own contract violation (and would be
            # ordered NULLS FIRST by the offsets window while a
            # None-last python sort validated a DIFFERENT order --
            # ADVICE r12): raise distinctly rather than mis-validate.
            if any(b is None for b, _lo, _hi in bands):
                raise ValueError(
                    "sorted_neighborhood_pairs: band_expr produced NULL "
                    f"band values in block {blk_v!r}; bands must be "
                    "non-null sort-order prefixes of the key (wrap the "
                    "expression in coalesce(..., ''))"
                )
            # Spark's ascending window order is NULLS FIRST; with NULLs
            # excluded above, plain value order matches it exactly.
            bands.sort(key=lambda t: t[0])
            for (b1, _lo1, hi1), (b2, lo2, _hi2) in zip(bands, bands[1:]):
                if hi1 is None or lo2 is None or not (hi1 < lo2):
                    raise ValueError(
                        "sorted_neighborhood_pairs: band_expr is not a "
                        f"sort-order prefix of {key_col!r}: in block "
                        f"{blk_v!r}, band {b1!r} (key range up to {hi1!r}) "
                        f"interleaves with band {b2!r} (key range from "
                        f"{lo2!r}); use a key-prefix band"
                    )
    wb = Window.partitionBy("__blk", "__band").orderBy("__k", "__id")
    ranked = keyed.select(
        "__id",
        "__blk",
        "__band",
        "__k",
        F.row_number().over(wb).alias("__rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("__blk", "__band"))
        .alias("__cnt"),
        # all w successors in ONE array so the pair fan-out is a single
        # explode consumer of this window -- a per-i filtered-union re-ran
        # the whole window subtree per branch (16 exchanges, caught by
        # test_shuffle_budgets when the banded rewrite landed)
        F.array(
            *[F.lead("__id", i).over(wb) for i in range(1, w + 1)]
        ).alias("__ns"),
    )
    in_band = (
        ranked.select("__id", F.explode("__ns").alias("__n"))
        .filter(F.col("__n").isNotNull())
        .select(
            F.least("__id", "__n").alias("id_a"),
            F.greatest("__id", "__n").alias("id_b"),
        )
    )

    sizes = keyed.groupBy("__blk", "__band").agg(F.count(F.lit(1)).alias("__sz"))
    woff = (
        Window.partitionBy("__blk")
        .orderBy("__band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "__blk",
        "__band",
        F.coalesce(F.sum("__sz").over(woff), F.lit(0)).alias("__off"),
    )
    edges = (
        ranked.filter((F.col("__rn") <= w) | (F.col("__rn") > F.col("__cnt") - w))
        .join(F.broadcast(offsets), ["__blk", "__band"])
        .select(
            "__id",
            "__blk",
            "__k",
            "__band",
            (F.col("__off") + F.col("__rn")).alias("__grank"),
        )
    )
    we = Window.partitionBy("__blk").orderBy("__k", "__id")
    eleads = edges.select(
        "__id",
        "__band",
        "__grank",
        F.array(
            *[
                F.lead(F.struct("__id", "__band", "__grank"), i).over(we)
                for i in range(1, w + 1)
            ]
        ).alias("__es"),
    )
    cross = (
        eleads.select("__id", "__band", "__grank", F.explode("__es").alias("__e"))
        .filter(
            F.col("__e").isNotNull()
            & (F.col("__e.__band") != F.col("__band"))
            & (F.col("__e.__grank") - F.col("__grank") <= w)
        )
        .select(
            F.least("__id", F.col("__e.__id")).alias("id_a"),
            F.greatest("__id", F.col("__e.__id")).alias("id_b"),
        )
    )
    return in_band.unionByName(cross).distinct()


def verify_candidate_containment(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Stage-2 verification by CONTAINMENT (Broder 1997's second
    resemblance measure, public): ``|A ∩ B| / min(|A|, |B|)`` -- the
    asymmetric complement of Jaccard verification.  A short document
    quoted wholesale inside a long one scores containment ~1.0 but
    Jaccard ~|A|/|B| (arbitrarily low), so Jaccard-gated dedup keeps
    exactly the quote-inclusion / boilerplate-wrapper dups a training
    corpus most wants gone; containment catches them from the SAME LSH
    candidate stream.

    Same scale shape as verify_candidate_jaccard: shingle sets ride as
    array columns, two id-keyed hash joins, map-side array_intersect;
    cost is |candidates| x shingle-set size, never corpus x corpus.
    Output keeps both set sizes so the caller can tell subset direction
    (n_a == n_common -> A inside B)."""
    sh = df.select(F.col(id_col), shingles(F.col(text_col), k).alias("__shs"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__shs").alias("__sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__shs").alias("__sh_b"))
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    cont = inter / F.least(F.size("__sh_a"), F.size("__sh_b"))
    return joined.select(
        "id_a",
        "id_b",
        F.size("__sh_a").cast("long").alias("n_a"),
        F.size("__sh_b").cast("long").alias("n_b"),
        inter.cast("long").alias("n_common"),
        F.round(cont, 6).alias("containment"),
    ).filter(F.col("containment") >= threshold)


def chain_audit(ver_pairs: DataFrame) -> DataFrame:
    """Cluster-transitivity acceptance report over a VERIFIED near-dup
    edge relation: connected components (the production cluster build),
    then per cluster size the verified-edge density -- a full clique has
    density 1.0; anything lower is a CHAIN, i.e. members merged
    transitively whose direct similarity never passed verification, which
    is exactly how keep-best drops a non-duplicate.  Columns:
    cluster_size, n_clusters, total_edges, min_density_ppm (exact int),
    n_chained (clusters with e < m(m-1)/2).

    Scale shape: edges checkpointed once (they feed CC, the edge count
    and the node set); every relation after CC is cluster- or
    cluster-size-bounded; density math is exact int64.  Chaining is
    exactly the pathology this audit measures, so a deep chain must
    converge: ``connected_components`` finishes it with pointer jumping
    once its plain rounds run out (ADVICE r12)."""
    ver = ver_pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    nodes = (
        ver.select(F.col("id_a").alias("doc_id"))
        .unionByName(ver.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # Plain rounds settle the shallow fixture graph; a 60-hop verified
    # chain runs out of them and converges under pointer jumping (pinned
    # by test_chain_audit_deep_chain_converges).
    lab = connected_components(ver, nodes)
    members = lab.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("m"))
    epc = (
        ver.join(
            lab.select(F.col("doc_id").alias("id_a"), "cluster_id"), "id_a"
        )
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("e"))
    )
    per_cluster = (
        members.filter(F.col("m") >= 2)
        .join(epc, "cluster_id", "left")
        .select(
            "m",
            F.coalesce("e", F.lit(0)).alias("e"),
            F.expr("m * (m - 1) div 2").alias("possible"),
        )
    )
    return per_cluster.groupBy(
        F.col("m").cast("long").alias("cluster_size")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("e").cast("long").alias("total_edges"),
        F.min(F.expr("e * 1000000 div possible")).cast("long").alias(
            "min_density_ppm"
        ),
        F.sum((F.col("e") < F.col("possible")).cast("long"))
        .cast("long")
        .alias("n_chained"),
    )


def positional_windows(col: Column, k: int) -> Column:
    """ALL k-token windows of a text in order (NOT distinct -- positions
    matter): the zip-with construction of ``shingles`` without the
    dedup/fallback, empty array for texts shorter than k tokens.
    Token array ``_bind_once``-bound like ``shingles`` (one regexp per
    row)."""

    def body(toks: Column) -> Column:
        size = F.size(toks)
        g = toks
        for j in range(1, k):
            g = F.zip_with(
                g, F.slice(toks, j + 1, size), lambda x, y: F.concat_ws(" ", x, y)
            )
        return F.when(size >= k, F.slice(g, 1, size - (k - 1))).otherwise(
            F.array().cast("array<string>")
        )

    return _bind_once(tokens(col), body)


def duplicate_span_coverage(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication coverage (the distributable core of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", public -- their suffix-array dedup finds substrings repeated
    in the corpus; the k-token-window form is the standard approximation):
    for every document, the fraction of its tokens covered by at least
    one k-token window that occurs MORE THAN ONCE in the corpus
    (cross-doc or within-doc).  This is the span-level signal document-
    level MinHash is blind to: a unique article quoting one boilerplate
    paragraph scores low doc-Jaccard everywhere but high span coverage.

    Output per doc: n_tokens, n_dup_windows, covered_tokens (exact
    interval-union length of the duplicated [pos, pos+k) spans),
    coverage_ppm.

    Scale shape: windows explode map-side (spread parallelism floor);
    window frequency is ONE combinable count agg keyed by the gram; the
    hit join rides the same gram partitioning; the interval union is a
    RUNNING max over each doc's hit positions (streaming window frame,
    never a per-row re-scan -- the agg_quantile_normalize O(n^2) lesson);
    per-doc fold + left join back are id-keyed.  At 100 TB the gram key
    would be hashed (md5) to shrink shuffle width; the fixture keeps the
    string so the oracle joins on identical keys."""
    from kcl_akka_stream_spark.plans.hygiene import spread

    base = spread(df.select(id_col, text_col))
    # Checkpoint the exploded window relation ONCE (r16, guide §1.2): it
    # feeds BOTH the gram-frequency aggregate and the hit join's probe
    # side, and un-materialized each consumer re-ran the tokenize regexp
    # + k-way zip explode (measured at sf0.1: full query swung 1.8-35 s
    # run-to-run on the double-explode plan vs a steady 1.4-1.9 s on the
    # checkpointed one; results collect-compared identical).  Same
    # discipline as the prefix-filter family's _exploded_shingles
    # checkpoint.  A count-over-gram-partition window variant measured
    # equal locally (1.45 vs 1.51 s) but was REJECTED for scale: a hot
    # boilerplate gram would buffer its whole partition in one window
    # task, where this groupBy combines map-side (guide §2.5).
    ex = base.select(
        F.col(id_col),
        F.posexplode(positional_windows(F.col(text_col), k)).alias(
            "pos", "gram"
        ),
    ).localCheckpoint(eager=True)
    dup = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("__n")).filter(
        F.col("__n") > 1
    )
    hits = ex.join(dup.select("gram"), "gram").select(id_col, "pos")
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + k).over(w)
    contrib = F.greatest(
        F.lit(0),
        (F.col("pos") + k)
        - F.greatest(F.coalesce(prev_end, F.col("pos")), F.col("pos")),
    )
    per_doc = hits.select(id_col, contrib.alias("__c")).groupBy(id_col).agg(
        F.sum("__c").cast("long").alias("covered_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_dup_windows"),
    )
    all_docs = df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    joined = all_docs.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias(
            "n_dup_windows"
        ),
        F.coalesce("covered_tokens", F.lit(0)).cast("long").alias(
            "covered_tokens"
        ),
    )
    # integer division (div), mirrored by // in the oracle -- a double
    # divide + cast would round differently at ppm boundaries
    return joined.withColumn(
        "coverage_ppm",
        F.expr(
            "case when n_tokens > 0"
            " then covered_tokens * 1000000 div n_tokens else 0 end"
        ).cast("long"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 -- the MOSS algorithm, public): hash every positional k-token
    window, then keep the MINIMUM hash of every w-consecutive-hash
    window.  The selected fingerprints are a tiny, position-robust
    subset with the paper's GUARANTEE: any shared token run of length
    >= w + k - 1 contributes at least one shared fingerprint -- local
    dedup sensitivity the global MinHash signature cannot give, at
    ~1/w the density of the full k-gram set.

    EXACT + relational: the k-gram hash is the 7-hex-digit md5 prefix
    (< 2^28), packed with its position into ONE int64
    (key = h * 2^32 + pos -- the pack makes the per-window argmin a
    plain ``min`` over a BOUNDED w-row following frame, and ties break
    toward the earlier position for free).  h < 2^28 leaves 32 position
    bits inside int64 (key < 2^60 + 2^32), so position bleed into
    fp_hash needs a single >4.29-billion-token document -- ~17 GB of
    text in ONE row, impossible long before the pack overflows (ADVICE
    r13: the previous 2^20 pack documented but did not enforce its
    ~1.05M-token bound).  Docs shorter than k tokens contribute
    nothing.

    Output: (id, fp_hash, pos) distinct -- fingerprint relation ~n/w
    rows per doc.  Shape: map-side explode + one bounded-frame window
    per doc + distinct; no joins."""
    from pyspark.sql import Window as W

    from kcl_akka_stream_spark.plans.hygiene import spread

    toks_df = spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.posexplode(positional_windows(F.col(text_col), k)).alias(
            "pos", "gram"
        ),
    )
    keyed = toks_df.select(
        id_col,
        "pos",
        F.expr(
            "cast(conv(substring(md5(gram), 1, 7), 16, 10) as bigint)"
            " * 4294967296 + pos"
        ).alias("key"),
    )
    frame = (
        W.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    )
    # every window start yields its min packed key; distinct collapses
    # the overlapping windows that select the same fingerprint
    fps = (
        keyed.select(
            id_col,
            F.min("key").over(frame).alias("mkey"),
            F.count(F.lit(1)).over(W.partitionBy(id_col)).alias("__n"),
            F.col("pos").alias("__start"),
        )
        .filter(F.col("__start") <= F.col("__n") - w)
        .select(
            id_col,
            F.expr("mkey div 4294967296").alias("fp_hash"),
            F.expr("mkey % 4294967296").alias("pos"),
        )
        .distinct()
    )
    return fps


def cdc_chunks(
    df: DataFrame,
    k: int = 8,
    mod: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Content-defined chunking (the Rabin-anchor scheme of LBFS /
    Venti, public -- the storage-dedup classic): split each document at
    ANCHOR tokens, where a token anchors iff the k-token window starting
    at it hashes to 0 mod ``mod`` (8-hex md5 prefix).  Because anchors
    depend only on LOCAL content, an insertion re-chunks only the
    neighborhood of the edit -- every downstream chunk keeps its
    identity (the shift-invariance fixed-size chunking lacks, pinned by
    pytest) -- so identical passages in different documents yield
    byte-identical chunk hashes.  Expected chunk length = ``mod`` tokens.

    EXACT + relational: one posexplode carrying the token array, the
    anchor flag computed INLINE from a slice of the carried array (no
    gram join), chunk index = running count of anchors per doc (one
    bounded window), chunk content re-assembled order-exactly via
    array_sort over (pos, token) structs.

    Output: one row per (id, chunk_idx, [keep_cols]) with ``chunk_hash``
    (md5 of the space-joined chunk) and ``chunk_len`` tokens."""
    from pyspark.sql import Window as W

    from kcl_akka_stream_spark.operators.text import tokens as _tokens
    from kcl_akka_stream_spark.plans.hygiene import spread

    keep = list(keep_cols or [])
    base = spread(df.select(id_col, text_col, *keep)).select(
        id_col,
        *keep,
        _tokens(F.col(text_col)).alias("__t"),
    )
    ex = base.select(
        id_col,
        *keep,
        "__t",
        F.posexplode("__t").alias("pos", "tok"),
    )
    anchor = F.expr(
        f"case when pos + {k} <= size(__t) and"
        f" cast(conv(substring(md5(array_join(slice(__t, pos + 1, {k}),"
        f" ' ')), 1, 8), 16, 10) as bigint) % {mod} = 0"
        " then 1 else 0 end"
    )
    w = (
        W.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    idx = ex.select(
        id_col,
        *keep,
        "pos",
        "tok",
        F.sum(anchor).over(w).alias("chunk_idx"),
    )
    return (
        idx.groupBy(id_col, *keep, "chunk_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("chunk_len"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "tok"))
                        ),
                        lambda x: x["tok"],
                    ),
                    " ",
                )
            ).alias("chunk_hash"),
        )
    )
