"""Round-16 hardening tests (ADVICE r15 items folded into the second
optimization round; none change any declared query's results)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_stream_merge_multiway_four_epochs(spark, sf_dir, monkeypatch):
    # N_EPOCHS=2 means every twin exercises a single cross-batch state
    # merge; a merge bug that only manifests with >2 states (a
    # non-associative fold order) would not be caught.  Three twins whose
    # merges differ in kind -- KMV bottom-k closure, additive histogram
    # counts, keyed (ts, event_id) argmax upsert -- re-run here with a
    # FOUR-epoch fixture: each merge law says the result must not depend
    # on how many batches the stream is split into.
    from kcl_akka_stream_spark.queries import streaming_q as sq

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    twins = ("stream_kmv_merge", "stream_ks_merge", "stream_cdc_upsert")
    base = {t: rows(getattr(sq, t)(spark, sf_dir)) for t in twins}  # 2 epochs

    staged = []

    def four_epochs(df, src, n=4):
        staged.append(src)
        df.repartition(4, F.xxhash64(*df.columns)).write.mode(
            "overwrite"
        ).parquet(src)

    monkeypatch.setattr(sq, "_write_epoch_fixture", four_epochs)
    for t in twins:
        before = len(staged)
        assert rows(getattr(sq, t)(spark, sf_dir)) == base[t], t
        assert len(staged) == before + 1, f"{t}: four-epoch fixture unused"


def test_kmeans_assign_keep_vector_carries_input_unchanged(spark):
    # r16 IVF fusion: keep_vector rides the existing per-id argmin agg.
    # The carried array must be the INPUT vector bit-for-bit and every
    # pre-existing output column must be unchanged vs keep_vector=False.
    from kcl_akka_stream_spark.operators.clustering import (
        kmeans_assign,
        kmeans_update,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [0.1, 0.8])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])],
        "cluster_id long, centroid array<double>",
    )
    plain = {
        r.vec_id: (r.cluster_id, r.dist2)
        for r in kmeans_assign(vecs, cents).collect()
    }
    kept = kmeans_assign(vecs, cents, keep_vector=True)
    assert kept.columns == ["vec_id", "cluster_id", "dist2", "embedding"]
    by_id = {r.vec_id: r for r in kept.collect()}
    src = {r.vec_id: r.embedding for r in vecs.collect()}
    for vid, (cid, d2) in plain.items():
        assert by_id[vid].cluster_id == cid
        assert by_id[vid].dist2 == d2
        assert by_id[vid].embedding == src[vid]
    # kmeans_update's join-free fast path (assignment carries the vector)
    # must produce the identical centroids as the join path
    slow = {
        r.cluster_id: r.centroid
        for r in kmeans_update(
            vecs, kept.select("vec_id", "cluster_id"), assignment_has_vector=False
        ).collect()
    }
    fast = {
        r.cluster_id: r.centroid
        for r in kmeans_update(vecs, kept, assignment_has_vector=True).collect()
    }
    assert fast == slow


def test_pq_encode_passthrough_and_dims(spark):
    # r16 IVF-PQ fusion: passthrough columns ride the Arrow kernel onto
    # every output row (replacing the former attach join), and a caller-
    # supplied dims skips the probe without changing the codes.
    from kcl_akka_stream_spark.operators.clustering import pq_encode

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.5, 0.25], 7), (2, [0.0, 1.0, 0.25, 0.5], 9)],
        "vec_id long, embedding array<double>, clu long",
    )
    cb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.5, 0.25]), (1, [0.0, 1.0, 0.25, 0.5])],
        "vec_id long, embedding array<double>",
    )
    base = sorted(
        tuple(r)
        for r in pq_encode(
            vecs.select("vec_id", "embedding"), cb, m=2
        ).collect()
    )
    got = pq_encode(vecs, cb, m=2, dims=4, passthrough=["clu"])
    assert got.columns == ["vec_id", "sub_id", "code", "d2_micro2", "clu"]
    rows = got.collect()
    assert sorted((r.vec_id, r.sub_id, r.code, r.d2_micro2) for r in rows) == base
    clu = {r.vec_id: r.clu for r in rows}
    assert clu == {1: 7, 2: 9}
    for r in rows:  # every (vec, subspace) row carries its vec's value
        assert r.clu == clu[r.vec_id]


def test_payload_simhash_vectorized_matches_scalar(spark, sf_dir):
    # r16 guide-§4.2 rewrite: md5 once per DISTINCT byte gram + numpy
    # sign-sum folds must reproduce the old per-window scalar loop
    # bit-for-bit on the real fixture payloads.
    import hashlib

    from kcl_akka_stream_spark.operators.multimodal import (
        documents_as_media,
        payload_simhash,
    )

    # binary payloads with NUL bytes: a trailing-NUL gram and an all-NUL
    # payload must hash their full bytes, not a NUL-stripped prefix
    nul = spark.createDataFrame(
        [(-1, bytearray(b"abcdab\0\0")), (-2, bytearray(12))],
        "media_id long, payload binary",
    )
    media = (
        documents_as_media(spark.read.parquet(f"{sf_dir}/documents.parquet"))
        .select("media_id", "payload")
        .unionByName(nul)
    )
    got = {
        r.media_id: r.simhash
        for r in payload_simhash(media, gram=4, stride=4, bits=16).collect()
    }

    def scalar(data: bytes, gram=4, stride=4, bits=16):
        highs = set(b"89abcdef")
        counts = [0] * bits
        n = 0
        for off in range(0, len(data) - gram + 1, stride):
            h = hashlib.md5(data[off:off + gram]).hexdigest().encode()
            n += 1
            for i in range(bits):
                if h[i] in highs:
                    counts[i] += 1
        if n == 0:
            return None
        return sum(1 << i for i in range(bits) if 2 * counts[i] - n > 0)

    rows = media.select("media_id", "payload").collect()
    want = {
        r.media_id: fp
        for r in rows
        if (fp := scalar(bytes(r.payload))) is not None
    }
    assert got == want
    # short payloads (< gram bytes) emit nothing in either form
    assert set(got) == {r.media_id for r in rows if len(bytes(r.payload)) >= 4}


def test_graph_iteration_count_contract(spark):
    # ADVICE r15 #3: the r15 round-1 specialization assigns the score
    # frame inside the loop, so iterations=0 used to surface as an
    # AttributeError on the final select.  Contract error now.
    from kcl_akka_stream_spark.operators.graph import (
        label_propagation,
        pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1)], "src long, dst long, w long"
    )
    with pytest.raises(ValueError, match="pagerank.*must be >= 1"):
        pagerank(edges, iterations=0)
    with pytest.raises(ValueError, match="label_propagation.*must be >= 1"):
        label_propagation(edges, iterations=0)
    # and >= 1 still works end to end
    assert pagerank(edges, iterations=1).count() == 2
    assert label_propagation(edges, iterations=1).count() == 2
