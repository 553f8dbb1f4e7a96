"""Round-8 wave-3 operator semantics: SCD2 compaction, exact power-sum
states, full IVF-PQ serving, path mining, degree histograms."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_scd2_compact_folds_runs_and_closes_ranges(spark):
    from kcl_akka_stream_spark.operators.cdc import scd2_compact

    rows = [
        # user 1: A A B A  -> versions A, B, A (middle A-run compacted)
        (1, _ts("2024-01-01T00:00:00"), 1, "A"),
        (1, _ts("2024-01-01T01:00:00"), 2, "A"),
        (1, _ts("2024-01-01T02:00:00"), 3, "B"),
        (1, _ts("2024-01-01T03:00:00"), 4, "A"),
        # user 2: single state -> one current row
        (2, _ts("2024-01-01T00:30:00"), 5, "X"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = scd2_compact(df).collect()
    by_user = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.version)):
        by_user.setdefault(r.user_id, []).append(r)

    u1 = by_user[1]
    assert [r.state for r in u1] == ["A", "B", "A"]
    assert [r.version for r in u1] == [1, 2, 3]
    # half-open chain: each valid_to equals the next valid_from
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    assert [r.is_current for r in u1] == [0, 0, 1]
    assert u1[2].valid_to is None
    # the compacted run's version opens at its FIRST observation
    assert u1[0].valid_from == _ts("2024-01-01T00:00:00")
    assert u1[1].valid_from == _ts("2024-01-01T02:00:00")

    u2 = by_user[2]
    assert len(u2) == 1 and u2[0].is_current == 1 and u2[0].state == "X"


def test_scd2_equal_timestamps_break_on_tiebreak(spark):
    from kcl_akka_stream_spark.operators.cdc import scd2_compact

    t = _ts("2024-01-01T00:00:00")
    df = spark.createDataFrame(
        [(1, t, 2, "B"), (1, t, 1, "A")],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    out = sorted(scd2_compact(df).collect(), key=lambda r: r.version)
    assert [r.state for r in out] == ["A", "B"]
    assert out[1].is_current == 1


def test_power_sums_merge_equals_direct(spark, sf_dir):
    from kcl_akka_stream_spark.operators.aggregations import power_sums
    from kcl_akka_stream_spark.queries.registry import tbl

    ev = tbl(spark, sf_dir, "events")
    direct = {
        r.event_type: (r.n, r.s1, r.s2, r.s3)
        for r in power_sums(ev, "event_type", "value").collect()
    }
    # three arbitrary disjoint splits fold independently, then merge
    parts = [
        power_sums(ev.filter(F.col("event_id") % 3 == i), "event_type", "value")
        for i in range(3)
    ]
    states = parts[0].unionByName(parts[1]).unionByName(parts[2])
    # the merge, written inline: plain addition per component
    summed = states.groupBy("event_type").agg(
        *[F.sum(c).cast("long").alias(c) for c in ("n", "s1", "s2", "s3")]
    )
    merged = {
        r.event_type: (r.n, r.s1, r.s2, r.s3) for r in summed.collect()
    }
    assert merged == direct and len(direct) > 0


def test_ivf_pq_full_probe_equals_plain_adc(spark, sf_dir):
    # Probing EVERY inverted list removes the IVF narrowing entirely --
    # the result must equal pq_adc_topk over the whole corpus, rank for
    # rank (same codes, same integer ADC distances, same tiebreak).
    from kcl_akka_stream_spark.operators.similarity import ivf_pq_topk, pq_adc_topk
    from kcl_akka_stream_spark.queries.registry import tbl

    emb = tbl(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3)
    cb = emb.filter(F.col("vec_id") < 8)
    full = ivf_pq_topk(emb, qs, cb, m=4, k=5, n_clusters=4, nprobe=4)
    plain = pq_adc_topk(emb, qs, cb, m=4, k=5)
    a = {(r.q_id, r.rank): (r.n_id, r.adc_d2_micro2) for r in full.collect()}
    b = {(r.q_id, r.rank): (r.n_id, r.adc_d2_micro2) for r in plain.collect()}
    assert a == b and len(a) == 15


def test_ivf_pq_narrow_probe_is_subset_of_probed_lists(spark, sf_dir):
    # nprobe=1 results must come only from each query's nearest list --
    # every returned neighbor shares the query's coarse cluster.
    from kcl_akka_stream_spark.operators.similarity import (
        _learn_quantizer,
        ivf_pq_topk,
    )
    from kcl_akka_stream_spark.queries.registry import tbl

    emb = tbl(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3)
    cb = emb.filter(F.col("vec_id") < 8)
    out = ivf_pq_topk(emb, qs, cb, m=4, k=5, n_clusters=4, nprobe=1).collect()
    assignment, _ = _learn_quantizer(emb, "vec_id", "embedding", 4)
    cl = {r.vec_id: r.cluster_id for r in assignment.collect()}
    assert len(out) > 0
    for r in out:
        assert cl[r.n_id] == cl[r.q_id], (r.q_id, r.n_id)


def test_top_paths_counts_and_tiebreak(spark):
    from kcl_akka_stream_spark.operators.windows import top_paths

    rows = []
    # user 1: A B C D -> paths A>B>C, B>C>D
    for i, t in enumerate("ABCD"):
        rows.append((1, _ts(f"2024-01-01T0{i}:00:00"), i, t))
    # user 2: A B C -> A>B>C (now count 2)
    for i, t in enumerate("ABC"):
        rows.append((2, _ts(f"2024-01-01T0{i}:00:00"), 10 + i, t))
    # user 3: too short for depth 3
    rows.append((3, _ts("2024-01-01T00:00:00"), 20, "Z"))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = top_paths(
        df, "user_id", "ts", "event_id", "event_type", depth=3, k=10
    ).collect()
    got = {r.path: r.n_paths for r in out}
    assert got == {"A>B>C": 2, "B>C>D": 1}
    # ordering: count desc then path asc
    assert [r.path for r in out] == ["A>B>C", "B>C>D"]


def test_degree_histogram_counts_distinct_neighbors(spark):
    from kcl_akka_stream_spark.operators.graph import degree_histogram

    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 10), (2, 10), (3, 12)], "src long, dst long"
    )
    out = {(r.degree): r.n_nodes for r in degree_histogram(edges).collect()}
    # node 1 has TWO distinct neighbors (duplicate edge collapsed),
    # nodes 2 and 3 one each
    assert out == {2: 1, 1: 2}
    lab = degree_histogram(edges, label="left").collect()
    assert all(r.side == "left" for r in lab)


def test_payload_simhash_matches_char_gram_construction(spark):
    # ASCII payload: byte windows == char windows, so the fingerprint is
    # reproducible by hand with the text-simhash bit convention.
    import hashlib

    from kcl_akka_stream_spark.operators.multimodal import payload_simhash

    text = "abcdefghijklmnop"  # 4 full grams at stride 4
    df = spark.createDataFrame(
        [(1, bytearray(text.encode()))], "media_id long, payload binary"
    )
    got = payload_simhash(df, gram=4, stride=4, bits=16).collect()
    grams = [text[i : i + 4] for i in range(0, len(text) - 3, 4)]
    hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
    fp = 0
    for i in range(16):
        cnt = sum(1 for h in hs if h[i] in "89abcdef")
        if 2 * cnt - len(hs) > 0:
            fp |= 1 << i
    assert len(got) == 1 and got[0].simhash == fp
    # payload shorter than one gram -> no row (mirrors zero-token docs)
    short = spark.createDataFrame(
        [(2, bytearray(b"ab"))], "media_id long, payload binary"
    )
    assert payload_simhash(short).count() == 0


def test_fingerprint_band_pairs_identical_payloads_hamming_zero(spark):
    from kcl_akka_stream_spark.operators.dedup import fingerprint_band_pairs
    from kcl_akka_stream_spark.operators.multimodal import payload_simhash

    base = b"the quick brown fox jumps over the lazy dog" * 4
    near = base[:-4] + b"cat!"  # tail perturbation
    far = bytes(reversed(base))
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(base)), (3, bytearray(near)),
         (4, bytearray(far))],
        "media_id long, payload binary",
    )
    sh = payload_simhash(df)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in fingerprint_band_pairs(
            sh, id_col="media_id", max_hamming=3
        ).collect()
    }
    assert pairs[(1, 2)] == 0  # identical payloads always pair at distance 0


def test_canonical_url_normalizes_variants(spark):
    from kcl_akka_stream_spark.operators.corpus import canonical_url
    from pyspark.sql import functions as F

    urls = [
        "https://www.example.org/docs/en/5?lang=en",
        "HTTPS://WWW.Example.ORG/docs/en/5?lang=en",
        "https://www.example.org:443/docs/en/5?lang=en",
        "https://www.example.org/docs/en/5/?lang=en",
        "https://www.example.org/docs/en/5?lang=en&utm_source=feed",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = [r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert len(set(out)) == 1
    assert out[0] == "https://www.example.org/docs/en/5?lang=en"


def test_hashing_vectorize_buckets_bounded_and_deterministic(spark):
    from kcl_akka_stream_spark.operators.text import hashing_vectorize

    df = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "alpha beta")],
        "doc_id long, text string",
    )
    out = hashing_vectorize(df, n_buckets=8)
    rows = out.collect()
    assert all(0 <= r.bucket < 8 for r in rows)
    # same token -> same bucket in both docs; counts reflect multiplicity
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.bucket] = r.n_tokens
    assert sum(by_doc[1].values()) == 4 and sum(by_doc[2].values()) == 2
    # doc 2's buckets are a subset of doc 1's (same tokens)
    assert set(by_doc[2]).issubset(set(by_doc[1]))


def test_ivf_pq_prebuilt_probe_matches_inline(spark, sf_dir, tmp_path):
    # Deterministic build: the persisted-index probe must reproduce the
    # inline ivf_pq_topk result exactly (same quantizer, codes, ADC).
    from kcl_akka_stream_spark.operators.similarity import (
        ivf_pq_build,
        ivf_pq_probe_prebuilt,
        ivf_pq_topk,
    )
    from kcl_akka_stream_spark.queries.registry import tbl

    emb = tbl(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3)
    cb = emb.filter(F.col("vec_id") < 8)
    idx = str(tmp_path / "ivfpq")
    ivf_pq_build(emb, idx, cb, m=4, n_clusters=4)
    pre = ivf_pq_probe_prebuilt(spark, idx, qs, m=4, k=5, nprobe=2)
    inline = ivf_pq_topk(emb, qs, cb, m=4, k=5, n_clusters=4, nprobe=2)
    a = {(r.q_id, r.rank): (r.n_id, r.adc_d2_micro2) for r in pre.collect()}
    b = {(r.q_id, r.rank): (r.n_id, r.adc_d2_micro2) for r in inline.collect()}
    assert a == b and len(a) == 15


def test_scd2_merge_absorbs_extends_and_appends(spark):
    from kcl_akka_stream_spark.operators.cdc import scd2_compact, scd2_merge

    schema = "user_id long, ts timestamp, event_id long, event_type string"
    hist_rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "A"),
        (1, _ts("2024-01-02T00:00:00"), 2, "B"),   # open: B
        (2, _ts("2024-01-01T00:00:00"), 3, "X"),   # open: X, untouched
        (3, _ts("2024-01-01T00:00:00"), 4, "P"),   # open: P, all-absorbed batch
    ]
    new_rows = [
        (1, _ts("2024-01-03T00:00:00"), 10, "B"),  # absorbed (extends open B)
        (1, _ts("2024-01-04T00:00:00"), 11, "C"),  # closes B, appends v3
        (3, _ts("2024-01-05T00:00:00"), 12, "P"),  # absorbed entirely
        (4, _ts("2024-01-03T00:00:00"), 13, "N"),  # brand-new key
    ]
    hist = scd2_compact(spark.createDataFrame(hist_rows, schema))
    merged = scd2_merge(hist, spark.createDataFrame(new_rows, schema))
    full = scd2_compact(
        spark.createDataFrame(hist_rows + new_rows, schema)
    )

    def snap(df):
        return sorted(
            (r.user_id, r.state, r.version,
             r.valid_from, r.valid_to, r.is_current)
            for r in df.collect()
        )

    assert snap(merged) == snap(full)
    rows = {(r.user_id, r.version): r for r in merged.collect()}
    # user 1: B closed at C's start, C current v3
    assert rows[(1, 2)].is_current == 0
    assert rows[(1, 2)].valid_to == _ts("2024-01-04T00:00:00")
    assert rows[(1, 3)].state == "C" and rows[(1, 3)].is_current == 1
    # user 2 untouched, user 3 fully absorbed -> still 1 open version
    assert rows[(2, 1)].is_current == 1
    assert rows[(3, 1)].is_current == 1 and len(
        [k for k in rows if k[0] == 3]
    ) == 1
    # brand-new key 4 builds a fresh history
    assert rows[(4, 1)].state == "N" and rows[(4, 1)].is_current == 1


def test_mixture_weights_allocations_sum_exactly_to_budget(spark, sf_dir):
    # The entire point of largest-remainder apportionment: integer
    # allocations proportional to availability that sum EXACTLY to the
    # budget, no float drift.
    from kcl_akka_stream_spark.queries import QUERIES

    out = QUERIES["pipeline_mixture_weights"](spark, sf_dir).collect()
    assert sum(r.alloc for r in out) == 1_000_000
    # monotone: a language with more tokens never gets fewer units
    # than one with fewer tokens, beyond the 1-unit remainder step
    rows = sorted(out, key=lambda r: r.avail)
    for a, b in zip(rows, rows[1:]):
        assert b.alloc >= a.alloc - 1
