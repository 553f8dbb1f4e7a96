"""Unit tests for the training-data-pipeline operators (dedup, similarity,
text, multimodal)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from kcl_akka_stream_spark.operators.dedup import (
    exact_dedup,
    minhash_candidate_pairs,
    minhash_lsh_buckets,
    ngram_jaccard_pairs,
    simhash,
)
from kcl_akka_stream_spark.operators.multimodal import (
    documents_as_media,
    extract_features,
    frame_sample,
)
from kcl_akka_stream_spark.operators.similarity import brute_force_topk, ivf_topk
from kcl_akka_stream_spark.operators.text import fingerprint, lang_id, quality_score, token_count


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def test_exact_dedup_counts(spark):
    df = _docs(spark, ["same text", "same text", "other"])
    got = {r.keeper_id: r.n_copies for r in exact_dedup(df).collect()}
    assert got == {0: 2, 2: 1}


def test_minhash_identical_docs_collide(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = _docs(spark, [text, text, "completely different content with other words entirely present"])
    pairs = minhash_candidate_pairs(minhash_lsh_buckets(df)).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}


def test_simhash_close_for_similar(spark):
    a = "the quick brown fox jumps over the lazy dog"
    b = "the quick brown fox jumps over the lazy cat"
    c = "entirely unrelated words appear in this sentence structure"
    got = {r.doc_id: r.simhash for r in simhash(_docs(spark, [a, b, c])).collect()}
    ham_ab = bin(got[0] ^ got[1]).count("1")
    ham_ac = bin(got[0] ^ got[2]).count("1")
    assert ham_ab < ham_ac


def test_ngram_jaccard_exact_value(spark):
    # doc0: shingles {a b c, b c d}; doc1: {a b c}; jaccard = 1/2
    df = _docs(spark, ["a b c d", "a b c"])
    rows = ngram_jaccard_pairs(df, k=3, threshold=0.1).collect()
    assert len(rows) == 1
    assert rows[0].id_a == 0 and rows[0].id_b == 1
    assert abs(rows[0].jaccard - 0.5) < 1e-9


def test_brute_force_topk_finds_identical_vector(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [1.0, 0.001, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 1),
        (3, [-1.0, 0.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    ranked = [r.n_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [1, 2, 3]
    assert abs(sorted(out, key=lambda r: r.rank)[0].cos_sim - 1.0) < 1e-5


def test_ivf_restricts_to_cluster(spark):
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [0.0, 1.0], 1),
        (3, [0.1, 0.9], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    # trusted-partitioning path: query 0 assigns to label-cluster 0 ->
    # only neighbor 1 is searched
    out = ivf_topk(df, df.filter(F.col("vec_id") == 0), k=5, cluster_col="label")
    assert [r.n_id for r in out.collect()] == [1]

    # learned-quantizer path (default): seeds 0,1 -> one Lloyd step puts
    # {1,2,3} in seed-1's cluster and leaves 0 alone; query 2 probes only
    # its own cluster, so neighbor 0 (cos=0, but a legitimate brute-force
    # top-5 member) is EXCLUDED by the cluster restriction
    out2 = ivf_topk(df, df.filter(F.col("vec_id") == 2), k=5, n_clusters=2)
    assert [r.n_id for r in out2.collect()] == [3, 1]


def test_lsh_topk_probes_own_bucket_only(spark):
    from kcl_akka_stream_spark.operators.similarity import lsh_topk

    rows = [
        (0, [1.0, 1.0], 0),
        (1, [0.9, 0.8], 0),
        (2, [-1.0, 1.0], 1),  # different sign bucket on dim 0
        (3, [-0.9, 0.8], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = lsh_topk(df, df.filter(F.col("vec_id") == 0), k=5, bucket_dims=2).collect()
    # query 0's bucket (+,+) contains only neighbor 1
    assert [r.n_id for r in out] == [1]


def test_token_count_and_quality(spark):
    df = _docs(spark, ["Hello, World! This is a test."])
    tc = token_count(df).collect()[0]
    assert tc.ws_tokens == 6
    assert tc.re_tokens == 6
    q = quality_score(df).collect()[0]
    assert q.n_tokens == 6
    assert abs(q.punct_ratio - 3 / 29) < 1e-9
    assert q.stopword_ratio > 0  # 'is' and 'a'... 'is' is a marker


def test_lang_id(spark):
    df = _docs(
        spark,
        [
            "the cat and the dog of the house is big",
            "der hund und die katze ist nicht hier",
            "xyzzy qwerty",
        ],
    )
    got = {r.doc_id: r.pred_lang for r in lang_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "und"}


def test_fingerprint_collides_on_word_order(spark):
    df = _docs(spark, ["b a c", "c b a", "a b d"])
    got = {r.doc_id: r.fingerprint for r in fingerprint(df).collect()}
    assert got[0] == got[1]
    assert got[0] != got[2]


def test_multimodal_feature_extraction(spark):
    docs = spark.createDataFrame([(1, "payload one"), (2, "payload two")], "doc_id long, text string")
    media = documents_as_media(docs)
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert feats[1].n_bytes == len(b"payload one")
    assert feats[1].digest == hashlib.sha256(b"payload one").hexdigest()
    assert len(feats[1].feature) == 8
    assert all(0.0 <= v <= 1.0 for v in feats[1].feature)


def test_frame_sample(spark):
    media = spark.createDataFrame([(1, 25), (2, 5)], "media_id long, nf int").select(
        "media_id",
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.col("nf").alias("n_frames"),
        ).alias("meta"),
    )
    got = sorted((r.media_id, r.frame_idx) for r in frame_sample(media, every_n=10).collect())
    assert got == [(1, 0), (1, 10), (1, 20), (2, 0)]


def test_connected_components_chain_and_singleton(spark):
    from kcl_akka_stream_spark.operators.dedup import connected_components

    # chain 1-2-3 (diameter 2, needs >1 iteration) + pair 10-11 + singleton 99
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long")
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_iteration_guard(spark):
    # A pathological long chain propagates the min label ONE hop per
    # iteration.  ADVICE r15 #1: exhausting the plain budget is a DATA
    # property, not a bug -- the operator now continues with pointer
    # jumping (O(log remaining-diameter)) from the current labels and
    # returns the SAME min-label fixpoint instead of hard-failing.
    import pytest

    from kcl_akka_stream_spark.operators.dedup import connected_components

    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    # plain budget 3 << diameter 11: the fallback must converge it anyway
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, nodes, max_iterations=3).collect()
    }
    assert got == {i: 0 for i in range(n)}
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, nodes, max_iterations=n + 2).collect()
    }
    assert got == {i: 0 for i in range(n)}
    # the loud guard still exists where even pointer jumping cannot
    # converge within budget (diameter >> 2^max_iterations): two plain
    # and two jumping rounds leave this chain unsettled, and the operator
    # raises rather than returning half-merged labels
    with pytest.raises(RuntimeError, match="still changing"):
        connected_components(pairs, nodes, max_iterations=1)


def test_exact_scoring_matches_sequential_numpy_fold(spark):
    # brute_force_topk, mips_topk and range_search against a numpy
    # reference that folds each dot product dimension by dimension in
    # float64 (the JVM fold's order of additions) and rounds HALF_UP to
    # 6 dp like Spark's round.  The corpus plants exact ties: duplicate
    # vectors (equal cosine and inner product under different ids) and
    # vectors doubled exactly (equal cosine, doubled inner product), so
    # the (score desc, n_id) tiebreak decides ranks.
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from kcl_akka_stream_spark.operators.similarity import (
        brute_force_topk,
        mips_topk,
        range_search,
    )

    rng = np.random.default_rng(11)
    base = rng.uniform(-1, 1, size=(30, 12)).astype(np.float32)
    vecs = np.concatenate([base, base[:6], base[6:12] * 2])  # ids 30-35, 36-41
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    qids = [0, 1, 2, 6, 7]
    qs = df.filter(F.col("vec_id").isin(qids))

    v = vecs.astype(np.float64)
    dots = np.zeros((len(qids), len(v)))
    sq = np.zeros(len(v))
    for d in range(v.shape[1]):
        dots += np.outer(v[qids, d], v[:, d])
        sq += v[:, d] * v[:, d]
    norms = np.sqrt(sq)
    cos = dots / np.outer(norms[qids], norms)

    def r6(x):
        return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    def ref_topk(score, k):
        out = set()
        for qi, q in enumerate(qids):
            cands = sorted((-r6(score[qi, n]), n) for n in range(len(v)) if n != q)
            out |= {(q, n, -s, r) for r, (s, n) in enumerate(cands[:k], start=1)}
        return out

    for k in (1, 5, 8):
        got = {tuple(r) for r in brute_force_topk(df, qs, k=k).collect()}
        assert got == ref_topk(cos, k), k
        got = {tuple(r) for r in mips_topk(df, qs, k=k).collect()}
        assert got == ref_topk(dots, k), k
    # the planted ties are really there: query 0's duplicate (id 30)
    # scores 1.0, and 6 and 36 tie for query 7
    top = {(r.q_id, r.n_id): r.cos_sim for r in brute_force_topk(df, qs, k=41).collect()}
    assert top[(0, 30)] == 1.0 and top[(7, 6)] == top[(7, 36)]

    for include_self in (False, True):
        got = {
            tuple(r)
            for r in range_search(df, qs, 0.25, include_self=include_self).collect()
        }
        want = {
            (q, n, r6(cos[qi, n]))
            for qi, q in enumerate(qids)
            for n in range(len(v))
            if (include_self or n != q) and r6(cos[qi, n]) >= 0.25
        }
        assert got == want, include_self


def test_rolling_fingerprint_matches_reference(spark):
    import hashlib
    import re as _re
    from functools import reduce

    from kcl_akka_stream_spark.operators.text import rolling_fingerprint

    def py_ref(text, window=4):
        toks = _re.findall("[a-z0-9]+", text.lower())
        codes = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
        fold = lambda cs: reduce(lambda a, t: (a * 257 + t) % 2147483647, cs, 0)
        wins = [fold(codes[i : i + window]) for i in range(max(len(codes) - window + 1, 1))]
        return fold(codes), min(wins)

    texts = [
        "intro words alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta theta closing words here",
        "short",
    ]
    df = _docs(spark, texts)
    got = {r.doc_id: (r.rolling_hash, r.winnow_min) for r in rolling_fingerprint(df, window=4).collect()}
    assert got == {i: py_ref(t) for i, t in enumerate(texts)}


def test_embedding_near_dup_lsh_blocks_by_sign_bucket(spark):
    # r2 "What's missing" #5: with lsh_dims the blocking key is derived from
    # the vector (sign_lsh_bucket), no semantic label column required --
    # cross-bucket pairs are never scored, same-bucket near-dups are found.
    from kcl_akka_stream_spark.operators.similarity import embedding_near_dup_pairs

    rows = [
        (0, [1.0, 1.0]),
        (1, [0.9, 0.95]),   # same (+,+) bucket as 0, near-identical
        (2, [-1.0, 1.0]),   # (-,+) bucket
        (3, [-0.9, 0.95]),  # same (-,+) bucket as 2, near-identical
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(df, threshold=0.9, lsh_dims=2).collect()
    }
    assert got == {(0, 1), (2, 3)}


def test_minhash_hot_bucket_cap(spark):
    # r2 "What's missing" #4: buckets larger than max_bucket_size are
    # dropped whole before pair generation.
    from kcl_akka_stream_spark.operators.dedup import minhash_candidate_pairs

    rows = (
        [(i, 0, "hot") for i in range(5)]      # hot bucket: 5 docs -> 10 pairs
        + [(10, 1, "cold"), (11, 1, "cold")]   # cold bucket: 1 pair
    )
    buckets = spark.createDataFrame(rows, "doc_id long, band int, bucket string")
    uncapped = minhash_candidate_pairs(buckets).count()
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(buckets, max_bucket_size=3).collect()
    }
    assert uncapped == 11
    assert capped == {(10, 11)}


def test_verify_candidate_jaccard_only_scores_candidates(spark):
    # Stage-2 verification: exact jaccard restricted to the candidate
    # pairs; non-candidate pairs are never scored even when similar.
    from kcl_akka_stream_spark.operators.dedup import verify_candidate_jaccard

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "the quick brown fox jumps over the lazy dog"),  # identical to 1
            (4, "completely different text entirely here now"),
        ],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame([(1, 2), (1, 4)], "id_a long, id_b long")
    got = {(r.id_a, r.id_b): r.jaccard for r in
           verify_candidate_jaccard(docs, cands, threshold=0.3).collect()}
    assert (1, 2) in got and 0.5 < got[(1, 2)] < 1.0  # one-word edit
    assert (1, 4) not in got      # candidate but dissimilar -> filtered
    assert (1, 3) not in got      # identical but NOT a candidate -> never scored


def test_redact_pii(spark):
    from kcl_akka_stream_spark.operators.corpus import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or call 12345678901 now"),
            (2, "clean text, short number 123 kept"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert got[1].redacted_text == "mail me at <EMAIL> or call <NUM> now"
    assert (got[1].n_emails, got[1].n_numbers) == (1, 1)
    assert got[2].redacted_text == "clean text, short number 123 kept"
    assert (got[2].n_emails, got[2].n_numbers) == (0, 0)


def test_pack_token_budget_strata_and_boundaries(spark):
    from kcl_akka_stream_spark.operators.corpus import pack_token_budget

    docs = spark.createDataFrame(
        [
            (1, "en", "a b c d"),        # 4 tokens, before=0  -> pack 0
            (2, "en", "e f g"),          # 3 tokens, before=4  -> pack 0
            (3, "en", "h i j k l"),      # 5 tokens, before=7  -> pack 1
            (4, "de", "x y z"),          # separate stratum restarts at 0
        ],
        "doc_id long, lang string, text string",
    )
    got = {r.doc_id: (r.tokens_before, r.pack_id) for r in
           pack_token_budget(docs, budget=5, stratum_col="lang").collect()}
    assert got == {1: (0, 0), 2: (4, 0), 3: (7, 1), 4: (0, 0)}


def test_decontaminate_flags_only_overlapping_docs(spark):
    from kcl_akka_stream_spark.operators.corpus import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different document about spark plans"),
            (3, "quick brown fox jumps over the lazy dog again"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_shared_grams for r in decontaminate(corpus, eval_df, k=5).collect()}
    assert 1 in got and 3 in got  # doc 3 shares the 5-gram window tail
    assert 2 not in got


def test_kmv_distinct_exact_below_k_and_estimates_above(spark):
    from kcl_akka_stream_spark.operators.sketches import kmv_distinct

    rows = [("small", v) for v in range(10) for _ in range(3)] + [
        ("big", v) for v in range(5000)
    ]
    df = spark.createDataFrame(rows, "grp string, val long")
    got = {r.grp: r for r in kmv_distinct(df, "grp", "val", k=64).collect()}
    # below k the sketch IS the exact distinct count (duplicates collapse)
    assert got["small"].n_exact_kept == 10
    assert got["small"].est_distinct == 10.0
    # above k: (k-1)/kth_min lands within ~25% of 5000 for k=64
    assert got["big"].n_exact_kept == 64
    assert 3750 < got["big"].est_distinct < 6250


def test_kmv_merge_equals_direct_global_sketch(spark):
    # The closure property: merging per-group sketch states must reproduce
    # the global sketch exactly (partial-aggregate validity).
    from kcl_akka_stream_spark.operators.sketches import (
        kmv_distinct,
        kmv_merge_estimate,
        kmv_sketch,
    )

    rows = [(f"g{v % 3}", v % 700) for v in range(4000)]
    df = spark.createDataFrame(rows, "grp string, val long")
    direct = kmv_distinct(df.withColumn("grp", F.lit("all")), "grp", "val", k=32).collect()[0]
    merged = kmv_merge_estimate(kmv_sketch(df, "grp", "val", k=32), k=32).collect()[0]
    assert (merged.n_exact_kept, merged.kth_min, merged.est_distinct) == (
        direct.n_exact_kept,
        direct.kth_min,
        direct.est_distinct,
    )


def test_repetition_metrics_exact_values(spark):
    from kcl_akka_stream_spark.operators.quality import repetition_metrics

    df = _docs(spark, ["a b a b a b"])
    row = repetition_metrics(df).collect()[0]
    # bigrams: 'a b' x3, 'b a' x2 -> top covers 2*3/6 = 1.0 of tokens
    assert row.top_bigram_frac == 1.0
    # trigrams: 'a b a' x2, 'b a b' x2 -> 2 of 4 occurrences are repeats
    assert row.dup_trigram_frac == 0.5


def test_gopher_quality_flags_split(spark):
    from kcl_akka_stream_spark.operators.quality import gopher_quality_flags

    good = " ".join(f"word{i} thing{i} item{i}" for i in range(12))  # 36 words
    short = "too short to pass the gate"
    spammy = " ".join(["spam ham"] * 20)  # top bigram dominates
    df = _docs(spark, [good, short, spammy])
    got = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    assert got[0].gopher_pass == 1
    assert got[1].gopher_pass == 0 and got[1].n_words < 30
    assert got[2].gopher_pass == 0 and got[2].top_bigram_frac > 0.15


def test_dedup_segments_drops_boilerplate_keeps_order(spark):
    from kcl_akka_stream_spark.operators.corpus import dedup_segments

    # 'common seg ment' occurs in 3 docs (> max_doc_freq=2) -> dropped;
    # unique heads/tails survive in original order.
    df = _docs(
        spark,
        [
            "alpha one two common seg ment beta tail here",
            "gamma three four common seg ment delta tail also",
            "epsilon five six common seg ment zeta tail too",
            "totally unique document text nothing shared anywhere at all",
        ],
    )
    got = {r.doc_id: r for r in dedup_segments(df, seg_tokens=3, max_doc_freq=2).collect()}
    assert got[0].clean_text == "alpha one two beta tail here"
    assert got[0].n_seg_total == 3 and got[0].n_seg_kept == 2
    assert got[3].clean_text == "totally unique document text nothing shared anywhere at all"
    assert got[3].n_seg_kept == 3


def test_dedup_segments_short_doc_single_segment(spark):
    from kcl_akka_stream_spark.operators.corpus import dedup_segments

    df = _docs(spark, ["just two", "completely different words here now yes"])
    got = {r.doc_id: r for r in dedup_segments(df, seg_tokens=3, max_doc_freq=2).collect()}
    assert got[0].n_seg_total == 1 and got[0].clean_text == "just two"


def test_cms_never_underestimates(spark):
    from kcl_akka_stream_spark.operators.sketches import cms_estimate, cms_state

    df = spark.createDataFrame(
        [(i % 7,) for i in range(200)], "k long"
    )
    state = cms_state(df, "k", depth=3, width=4)  # tiny width forces collisions
    keys = df.select("k").distinct()
    est = {r.k: r.cms_count for r in cms_estimate(state, keys, "k", depth=3, width=4).collect()}
    exact = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
    assert all(est[k] >= exact[k] for k in exact)
    assert sum(est.values()) > sum(exact.values())  # collisions actually happened


def test_cms_exact_without_collisions(spark):
    from kcl_akka_stream_spark.operators.sketches import cms_estimate, cms_state

    df = spark.createDataFrame([(i % 3,) for i in range(30)], "k long")
    state = cms_state(df, "k", depth=4, width=4096)
    est = {r.k: r.cms_count for r in
           cms_estimate(state, df.select("k").distinct(), "k", depth=4, width=4096).collect()}
    assert est == {0: 10, 1: 10, 2: 10}


def test_cms_merge_equals_global_state(spark):
    from kcl_akka_stream_spark.operators.sketches import cms_merge, cms_state

    df = spark.createDataFrame(
        [(i % 5, "g%d" % (i % 2)) for i in range(100)], "k long, g string"
    )
    merged = {(r.row, r.bucket): r.cnt
              for r in cms_merge(cms_state(df, "k", depth=3, width=8, group_col="g")).collect()}
    direct = {(r.row, r.bucket): r.cnt
              for r in cms_state(df, "k", depth=3, width=8).collect()}
    assert merged == direct


def test_stratified_topk_sample_deterministic_and_sized(spark):
    from kcl_akka_stream_spark.operators.sampling import stratified_topk_sample

    df = spark.createDataFrame(
        [(i, "s%d" % (i % 3)) for i in range(60)], "doc_id long, lang string"
    )
    a = sorted(map(tuple, stratified_topk_sample(df, k=5).collect()))
    b = sorted(map(tuple, stratified_topk_sample(df, k=5).collect()))
    assert a == b  # deterministic
    per = {}
    for _, s, r in a:
        per.setdefault(s, []).append(r)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per.values())


def test_rebalance_rates_and_missing_stratum_dropped(spark):
    from kcl_akka_stream_spark.operators.sampling import rebalance_summary

    df = spark.createDataFrame(
        [(i, "big" if i < 80 else "small") for i in range(100)],
        "doc_id long, lang string",
    )
    # big: rate = 0.25*100/80 = 0.3125; small: no weight -> rate 0, kept row
    got = {r.lang: r for r in rebalance_summary(df, {"big": 0.25}).collect()}
    assert got["big"].rate == 0.3125 and 0 < got["big"].n_after < 80
    assert got["small"].rate == 0.0 and got["small"].n_after == 0
    assert got["small"].n_before == 20


def test_rebalance_rate_capped_at_one(spark):
    from kcl_akka_stream_spark.operators.sampling import rebalance_summary

    df = spark.createDataFrame(
        [(i, "a" if i < 90 else "b") for i in range(100)],
        "doc_id long, lang string",
    )
    got = {r.lang: r for r in rebalance_summary(df, {"a": 0.5, "b": 0.5}).collect()}
    # b is under target (10 < 50) -> rate caps at 1, keeps everything
    assert got["b"].rate == 1.0 and got["b"].n_after == 10


def test_kmeans_objective_decreases_and_deterministic(spark):
    import random

    from pyspark.sql import functions as F

    from kcl_akka_stream_spark.operators.clustering import kmeans, kmeans_assign

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(c * 5.0, 1.0) for _ in range(4)])
        for i, c in ((i, i % 3) for i in range(90))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    a1, c1 = kmeans(df, k=3, iters=1)
    a3, c3 = kmeans(df, k=3, iters=3)
    obj1 = a1.agg(F.sum("dist2")).collect()[0][0]
    obj3 = a3.agg(F.sum("dist2")).collect()[0][0]
    assert obj3 <= obj1  # Lloyd's never increases the objective

    # deterministic: re-run reproduces the same assignment
    a3b, _ = kmeans(df, k=3, iters=3)
    assert sorted(map(tuple, a3.collect())) == sorted(map(tuple, a3b.collect()))

    # clusters separate the three generating modes after 3 iters
    final = {r.vec_id: r.cluster_id for r in a3.collect()}
    groups = {}
    for vid, cid in final.items():
        groups.setdefault(vid % 3, set()).add(cid)
    assert all(len(s) == 1 for s in groups.values())


def test_kmeans_update_elementwise_mean(spark):
    from kcl_akka_stream_spark.operators.clustering import kmeans_update

    vecs = spark.createDataFrame(
        [(0, [0.0, 2.0]), (1, [2.0, 4.0]), (2, [10.0, 10.0])],
        "vec_id long, embedding array<double>",
    )
    asg = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1)], "vec_id long, cluster_id long"
    )
    got = {r.cluster_id: r.centroid for r in kmeans_update(vecs, asg, assignment_has_vector=False).collect()}
    assert got[0] == [1.0, 3.0] and got[1] == [10.0, 10.0]


def test_quantize_int8_checksums_and_zero_vector(spark):
    from kcl_akka_stream_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(0, [127.0, -127.0, 63.5]), (1, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r for r in quantize_int8(df).collect()}
    # scale = 127/127 = 1 -> q = [127, -127, 64(round half up)]
    assert got[0].scale == 1.0
    assert got[0].q_sum == 64 and got[0].q_l1 == 318
    # zero vector: scale 0, quantized to zeros, no NaN/inf
    assert got[1].q_sum == 0 and got[1].q_l1 == 0 and got[1].l2_norm == 0.0


def test_containment_catches_embedded_doc(spark):
    from kcl_akka_stream_spark.operators.dedup import ngram_jaccard_pairs

    small = "alpha beta gamma delta epsilon"
    big = small + " zeta eta theta iota kappa lam mu nu xi omicron pi rho"
    df = _docs(spark, [small, big])
    cont = ngram_jaccard_pairs(df, threshold=0.9, containment=True).collect()
    assert len(cont) == 1 and cont[0].containment == 1.0
    # plain jaccard misses the same pair at the same threshold
    jac = ngram_jaccard_pairs(df, threshold=0.9).collect()
    assert jac == []


def test_simhash_pairs_identical_docs_zero_hamming(spark):
    from kcl_akka_stream_spark.operators.dedup import simhash_near_dup_pairs

    text = "the quick brown fox jumps over the lazy dog repeatedly today"
    df = _docs(spark, [text, text, "entirely different content with other words"])
    got = simhash_near_dup_pairs(df, max_hamming=0).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(0, 1, 0)]


def test_kmeans_assign_ties_break_on_lower_cluster_id(spark):
    from kcl_akka_stream_spark.operators.clustering import kmeans_assign

    vecs = spark.createDataFrame([(10, [0.0, 0.0])], "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0]), (0, [0.0, 1.0])], "cluster_id long, centroid array<double>"
    )
    row = kmeans_assign(vecs, cents).collect()[0]
    assert row.cluster_id == 0  # equal distance -> lower id wins


def test_connected_components_deep_chain_converges(spark):
    # A 60-deep chain exhausts a budget of 10 plain rounds (+1
    # confirmation); pointer jumping from the current labels converges it
    # in ~log2 of the remaining depth to the same fixpoint instead of
    # hard-failing (ADVICE r15 #1).
    from kcl_akka_stream_spark.operators.dedup import connected_components

    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, nodes, max_iterations=10).collect()
    }
    assert got == {i: 0 for i in range(n)}


def _union_find_clusters(pairs, nodes, validate_pairs):
    """Reference CC: union-find with the smaller root always winning, so
    every root is its component's min id."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if validate_pairs and (a not in nodes or b not in nodes):
            continue
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


def _random_cc_graph(rng):
    """Chains, cliques and singletons over shuffled ids, plus pairs with a
    stray endpoint (an id outside the node set, sometimes the smallest)."""
    ids = rng.sample(range(1, 10_000), 150)
    nodes, pairs = set(), []
    while len(ids) > 20:
        kind = rng.choice(["chain", "clique", "singleton"])
        if kind == "chain":
            part = [ids.pop() for _ in range(rng.randint(2, 14))]
            pairs += list(zip(part, part[1:]))
        elif kind == "clique":
            part = [ids.pop() for _ in range(rng.randint(3, 6))]
            pairs += [(a, b) for i, a in enumerate(part) for b in part[i + 1:]]
        else:
            part = [ids.pop()]
        nodes.update(part)
    members = sorted(nodes)
    for stray in (0, *ids[:3]):  # never in `nodes`; 0 undercuts every id
        pairs.append((stray, rng.choice(members)))
    rng.shuffle(pairs)
    return pairs, nodes


def test_connected_components_matches_union_find(spark):
    import random

    from kcl_akka_stream_spark.operators.dedup import connected_components

    # seed 3 with a budget of 4 runs out of plain rounds and settles
    # under pointer jumping
    for seed, max_iterations in ((1, 20), (2, 20), (3, 4)):
        pairs, nodes = _random_cc_graph(random.Random(seed))
        pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
        ndf = spark.createDataFrame([(v,) for v in nodes], "doc_id long")
        for validate_pairs in (False, True):
            got = {
                r.doc_id: r.cluster_id
                for r in connected_components(
                    pdf, ndf, max_iterations=max_iterations,
                    validate_pairs=validate_pairs,
                ).collect()
            }
            want = _union_find_clusters(pairs, nodes, validate_pairs)
            assert got == want, (seed, validate_pairs)


def test_weighted_sample_prefers_heavy_rows(spark):
    # Integer-exact Efraimidis-Spirakis: weight-8 rows keep the min of 8
    # md5 keys, so they dominate a k-sample over weight-1 rows ~8:1 in
    # expectation.  Deterministic seed -> deterministic selected set.
    from kcl_akka_stream_spark.operators.sampling import weighted_sample_topk

    rows = [(i, 8 if i < 100 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w int")
    sel = weighted_sample_topk(df, weight_col=F.col("w"), k=50, max_weight=8).collect()
    heavy = sum(1 for r in sel if r.doc_id < 100)
    assert len(sel) == 50
    assert heavy > 35, heavy  # expectation ~ 44 of 50
    # weights clamped and reported faithfully
    assert {r.weight for r in sel} <= {1, 8}


def test_connected_components_converges_on_last_allowed_round(spark):
    # An n-chain stabilizes after n-1 propagation rounds; with
    # max_iterations = n-1 the loop exits mid-change and a CONFIRMATION
    # round must accept the (complete) result rather than raising.
    from kcl_akka_stream_spark.operators.dedup import connected_components

    n = 6
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, nodes, max_iterations=n - 1).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_near_dup_capped_handles_ragged_vectors(spark):
    # sign_lsh_bucket tolerates vectors shorter than its dims, so a block
    # can mix lengths; the Arrow pair scorer must not crash on the ragged
    # block (ADVICE r5) and must match the expression path, which drops
    # cross-length pairs via NULL cosines.
    from kcl_akka_stream_spark.operators.similarity import embedding_near_dup_pairs

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0, 0.0]),
        (3, [1.0, 0.0]),  # short vector, same sign bucket
        (4, [1.0, 0.0005, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.9, lsh_dims=2, max_block_size=10
        ).collect()
    }
    expr = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(df, threshold=0.9, lsh_dims=2).collect()
    }
    assert capped == expr == {(1, 2), (1, 4), (2, 4)}


def test_semantic_dedup_elects_one_representative_per_group(spark):
    # Two tight duplicate groups anchored on the quantizer seeds (lowest
    # ids) plus a far-away singleton: each group collapses to its lowest
    # id, the singleton represents itself.
    from kcl_akka_stream_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (11, [0.999, 0.01, 0.0]),  # dup of 1
        (13, [0.01, 0.999, 0.0]),  # dup of 3
        (20, [0.0, 0.0, 1.0]),  # singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r
        for r in semantic_dedup(df, threshold=0.95, n_clusters=2).collect()
    }
    assert len(out) == 5
    assert out[1].dup_group == 1 and out[1].is_rep
    assert out[11].dup_group == 1 and not out[11].is_rep
    assert out[3].dup_group == 3 and out[3].is_rep
    assert out[13].dup_group == 3 and not out[13].is_rep
    assert out[20].dup_group == 20 and out[20].is_rep
    kept = [i for i, r in out.items() if r.is_rep]
    assert sorted(kept) == [1, 3, 20]


def test_chunk_documents_edges(spark):
    from kcl_akka_stream_spark.operators.corpus import chunk_documents
    import pytest as _pytest

    rows = [
        (1, ""),                          # empty -> no chunks
        (2, "a b c"),                     # shorter than window -> 1 chunk
        (3, "a b c d"),                   # exactly window -> 1 chunk
        (4, "a b c d e"),                 # window+1 -> 2 chunks (tail 3 tokens)
        (5, "a b c d e f g h i j"),       # 10 tokens -> 4 chunks
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens)
        for r in chunk_documents(df, window=4, stride=2).collect()
    }
    assert not any(k[0] == 1 for k in got)
    assert got[(2, 0)] == ("a b c", 3)
    assert got[(3, 0)] == ("a b c d", 4)
    assert got[(4, 0)] == ("a b c d", 4) and got[(4, 1)] == ("c d e", 3)
    assert [got[(5, i)][0] for i in range(4)] == [
        "a b c d", "c d e f", "e f g h", "g h i j",
    ]
    assert max(k[1] for k in got if k[0] == 5) == 3  # no empty tail chunk
    with _pytest.raises(ValueError):
        chunk_documents(df, window=4, stride=5)


def test_snapshot_diff_statuses(spark):
    from kcl_akka_stream_spark.operators.corpus import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "C"), (4, "d")], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_observe_collects_audit_metrics_inline(spark, sf_dir):
    # df.observe(): audit counters ride the SAME job as the query --
    # at 100 TB a separate count() for monitoring doubles the scan, so
    # pipelines should attach observations instead (the batch analogue
    # of streaming/stats.py's ConsumerStats listener).
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from kcl_akka_stream_spark.queries.registry import tbl

    docs = tbl(spark, sf_dir, "documents")
    obs = Observation("corpus_audit")
    gated = docs.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum((F.col("n_chars") >= 100).cast("long")).alias("rows_passing"),
    ).filter(F.col("n_chars") >= 100)
    kept = gated.count()  # one job: scan + observe + filter + count
    m = obs.get
    assert m["rows_in"] == docs.count()
    assert m["rows_passing"] == kept


def test_operators_tolerate_empty_and_unicode_input(spark):
    # 100 TB pipelines constantly hand operators EMPTY slices (a lang
    # partition with no docs, a filter that matched nothing) and text
    # far outside [a-z0-9].  Every library operator must return an
    # empty/defined result, never raise.
    from pyspark.sql import functions as F

    from kcl_akka_stream_spark.operators import corpus as C
    from kcl_akka_stream_spark.operators import dedup as D
    from kcl_akka_stream_spark.operators import quality as Q
    from kcl_akka_stream_spark.operators import text as X

    empty = spark.createDataFrame([], "doc_id long, text string")
    uni = spark.createDataFrame(
        [(1, "😀😀😀"), (2, "漢字テキスト"), (3, "mixed ascii 漢字 tail")],
        "doc_id long, text string",
    )

    ops = {
        "exact_dedup": lambda d: D.exact_dedup(d),
        "simhash": lambda d: D.simhash(d),
        "minhash_pairs": lambda d: D.minhash_candidate_pairs(
            D.minhash_lsh_buckets(d)
        ),
        "tfidf_topk": lambda d: X.tfidf_topk(d),
        "chunk": lambda d: C.chunk_documents(d, window=4, stride=2),
        "quality_flags": lambda d: Q.gopher_quality_flags(d),
        "snapshot_diff": lambda d: C.snapshot_diff(d, d),
        "token_count": lambda d: X.token_count(d),
        "lang_id": lambda d: X.lang_id(d),
    }
    for name, op in ops.items():
        assert op(empty).count() == 0, f"{name} on empty"
        op(uni).collect()  # defined, no crash

    # the [a-z0-9] tokenizer treats pure-CJK/emoji docs as zero-token:
    # chunking emits nothing for them, only the mixed doc chunks.
    chunked = C.chunk_documents(uni, window=4, stride=2)
    assert sorted({r.doc_id for r in chunked.collect()}) == [3]


def test_train_val_split_proportions_and_stability(spark, sf_dir):
    from kcl_akka_stream_spark.queries import QUERIES

    rows = {(r.split, r.lang): r.n_docs for r in QUERIES[
        "pipeline_train_val_split"
    ](spark, sf_dir).collect()}
    total = sum(rows.values())
    train = sum(v for (s, _), v in rows.items() if s == "train")
    # 80% +- generous binomial slack at fixture size
    assert 0.70 <= train / total <= 0.90, train / total
    # determinism: a second run assigns identically
    again = {(r.split, r.lang): r.n_docs for r in QUERIES[
        "pipeline_train_val_split"
    ](spark, sf_dir).collect()}
    assert rows == again


def test_bloom_prune_known_is_exact_at_any_parameters(spark):
    # The Bloom stage is a work-pruner, never a correctness knob: even a
    # pathologically tiny filter (m=8 -> nearly everything is a
    # candidate) must yield the same is_known flags as the plain exact
    # join, because candidates are verified and non-candidates are
    # guaranteed absent (no false negatives).
    from kcl_akka_stream_spark.operators.dedup import bloom_prune_known

    existing = spark.createDataFrame(
        [(f"digest-{i}",) for i in range(0, 40, 2)], "digest string"
    )
    incoming = spark.createDataFrame(
        [(i, f"digest-{i}") for i in range(30)], "id long, digest string"
    )
    truth = {i: int(i % 2 == 0 and i < 40) for i in range(30)}
    for m_bits, k_hashes in ((8, 2), (1 << 10, 3), (1 << 20, 4)):
        out = bloom_prune_known(
            incoming, existing, m_bits=m_bits, k_hashes=k_hashes
        ).collect()
        assert len(out) == 30
        assert {r.id: r.is_known for r in out} == truth, (m_bits, k_hashes)
        # no false negatives ever: every known row is also a candidate
        assert all(r.bloom_candidate == 1 for r in out if r.is_known == 1)
    # and the big filter actually prunes: most unknown rows are negative
    big = bloom_prune_known(incoming, existing, m_bits=1 << 20, k_hashes=4)
    neg = big.filter("bloom_candidate = 0").count()
    assert neg == 15  # all odd ids pruned without touching the exact join


def test_bloom_prune_known_preserves_duplicate_rows(spark):
    # ADVICE r7: the operator contract is "incoming's columns plus
    # flags" -- duplicate incoming rows must each come back once (the
    # regroup keys on an internal per-row id, never on the value
    # columns), matching the streaming twin's chained-join semantics.
    from kcl_akka_stream_spark.operators.dedup import bloom_prune_known

    existing = spark.createDataFrame([("dup",)], "digest string")
    incoming = spark.createDataFrame(
        [("dup",)] * 3 + [("miss",)] * 2, "digest string"
    )
    out = bloom_prune_known(incoming, existing, m_bits=1 << 10, k_hashes=3)
    rows = [(r.digest, r.is_known) for r in out.collect()]
    assert sorted(rows) == [("dup", 1)] * 3 + [("miss", 0)] * 2
    assert out.columns == ["digest", "bloom_candidate", "is_known"]


def test_cc_stray_endpoint_contract(spark):
    # ADVICE r9: a pair endpoint absent from `nodes` participates in
    # propagation by default (and can become the component's min label
    # -- a cluster_id referencing an id not in nodes), while output ROWS
    # are always exactly `nodes`.  validate_pairs=True semi-joins stray
    # edges out, so every cluster_id is then drawn from nodes.
    from kcl_akka_stream_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(2,), (3,), (4,)], "doc_id long")
    # pair (1, 2): endpoint 1 is NOT a node; pair (3, 4) is clean
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")

    default = {
        r.doc_id: r.cluster_id for r in connected_components(pairs, nodes).collect()
    }
    # documented default: the stray min label 1 leaks into node 2's
    # cluster_id; rows are still exactly the node set
    assert default == {2: 1, 3: 3, 4: 3}
    strict = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, nodes, validate_pairs=True).collect()
    }
    # validated: the stray edge drops entirely (both directions),
    # node 2 is a singleton, every cluster_id is a node id
    assert strict == {2: 2, 3: 3, 4: 3}
    assert set(strict.values()) <= {2, 3, 4}


def test_range_search_include_self_contract(spark):
    # ADVICE r9: by default q_id != n_id across two INDEPENDENT
    # relations -- a corpus vector merely sharing an id with a query is
    # dropped.  include_self=True keeps it (external-id query tables /
    # self-match audits).
    from kcl_akka_stream_spark.operators.similarity import range_search

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    # query id 1 collides with a DIFFERENT corpus vector's id
    queries = spark.createDataFrame(
        [(1, [1.0, 0.05])], "vec_id long, embedding array<double>"
    )
    dflt = {(r.q_id, r.n_id) for r in range_search(corpus, queries, 0.9).collect()}
    assert (1, 1) not in dflt and (1, 3) in dflt
    incl = {
        (r.q_id, r.n_id)
        for r in range_search(corpus, queries, 0.9, include_self=True).collect()
    }
    assert (1, 1) in incl and (1, 3) in incl


def _naive_sn_pairs(spark, keyed, w=3):
    # The reference plan the banded operator must reproduce EXACTLY:
    # one global per-block sort, lead(1..w) pairs.
    from pyspark.sql import Window

    import pyspark.sql.functions as F

    win = Window.partitionBy("lang").orderBy("k", "doc_id")
    leads = keyed.select(
        "doc_id",
        *[F.lead("doc_id", i).over(win).alias(f"n{i}") for i in range(1, w + 1)],
    )
    out = set()
    for r in leads.collect():
        for i in range(1, w + 1):
            n = getattr(r, f"n{i}")
            if n is not None:
                out.add((min(r.doc_id, n), max(r.doc_id, n)))
    return out


def test_sorted_neighborhood_banded_equals_global_sort(spark, sf_dir):
    # VERDICT r10 #4: the (lang, band)-partitioned sort + boundary
    # stitching must produce EXACTLY the global per-lang sort's pairs.
    import pyspark.sql.functions as F

    from kcl_akka_stream_spark.operators.dedup import sorted_neighborhood_pairs
    from kcl_akka_stream_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", "lang", F.lower(F.substring("text", 1, 24)).alias("k")
    )
    banded = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(keyed, key_col="k", w=3).collect()
    }
    naive = _naive_sn_pairs(spark, keyed, w=3)
    assert banded == naive and len(naive) > 0


def test_sorted_neighborhood_boundary_pairs_not_lost(spark):
    # Synthetic monolingual corpus engineered so pairs CROSS first-char
    # band boundaries (keys a9->b0, b9->c0 are adjacent in the global
    # sort but in different bands), including a 1-row band ('q5') whose
    # neighbors span TWO boundaries, and an in-band pair in a band
    # larger than 2w whose distant rows must NOT pair.
    rows = []
    for i, key in enumerate(
        ["a1", "a5", "a9", "b0", "b9", "c0", "c1", "q5", "r2"]
        + [f"z{j}" for j in range(10)]
    ):
        rows.append((i, "en", key))
    keyed = spark.createDataFrame(rows, "doc_id long, lang string, k string")

    from kcl_akka_stream_spark.operators.dedup import sorted_neighborhood_pairs

    banded = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(keyed, key_col="k", w=3).collect()
    }
    naive = _naive_sn_pairs(spark, keyed, w=3)
    assert banded == naive
    # spot-pin the cross-band pairs the skew fix must keep:
    assert (2, 3) in banded  # a9-b0 crosses the a|b boundary
    assert (4, 5) in banded  # b9-c0 crosses the b|c boundary
    assert (7, 8) in banded  # q5-r2: the 1-row band pairs across it
    # and the far ends of the 10-row 'z' band must NOT pair (gap 9 > w)
    assert (9, 18) not in banded


def test_sorted_neighborhood_band_contract_validation(spark):
    # ADVICE r11: band_expr must be a sort-order PREFIX of the key --
    # the offsets window orders bands by band value, so a hash/mod
    # band silently yields a wrong candidate set.  validate_bands=True
    # greens a legitimate 2-char prefix band and reds a mod bucket.
    import pyspark.sql.functions as F
    import pytest

    from kcl_akka_stream_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(i, "en", f"{c}{i % 10}") for i, c in enumerate("aabbccddeeff")]
    keyed = spark.createDataFrame(rows, "doc_id long, lang string, k string")

    good = sorted_neighborhood_pairs(
        keyed,
        key_col="k",
        w=2,
        band_expr=F.substring("k", 1, 2),
        validate_bands=True,
    )
    naive = _naive_sn_pairs(spark, keyed, w=2)
    assert {(r.id_a, r.id_b) for r in good.collect()} == naive

    with pytest.raises(ValueError, match="sort-order prefix"):
        sorted_neighborhood_pairs(
            keyed,
            key_col="k",
            w=2,
            band_expr=(F.col("doc_id") % 2).cast("string"),
            validate_bands=True,
        ).collect()
