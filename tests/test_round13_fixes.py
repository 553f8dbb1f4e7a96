"""Round-13 ADVICE-r12 pins: variant multimodal headers must land in the
counted bad bucket (not mis-parse), NULL bands raise distinctly,
chain_audit survives deep chains, decontaminate_fuzzy tolerates
overlapping corpus/eval id spaces."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F


def _wav16(sr, ch, bits, data_sz):
    ba = ch * bits // 8
    return (
        b"RIFF" + struct.pack("<I", 36 + data_sz) + b"WAVE" + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, ch, sr, sr * ba, ba, bits)
        + b"data" + struct.pack("<I", data_sz)
    )


def test_wav_variant_layouts_counted_bad_not_misparsed(spark):
    # ADVICE r12 (medium): an 18-byte-fmt PCM WAV (cbSize=0 extension)
    # and a LIST-chunk WAV are VALID files the fixed 44-byte offsets
    # cannot parse -- they must get riff_ok=0 (counted, not poisoning),
    # never riff_ok=1 with data_bytes read from the wrong offsets.
    from kcl_akka_stream_spark.operators.multimodal import parse_wav_header

    def wav18(sr, ch, bits, data_sz):  # 18-byte fmt chunk, cbSize=0
        ba = ch * bits // 8
        return (
            b"RIFF" + struct.pack("<I", 38 + data_sz) + b"WAVE" + b"fmt "
            + struct.pack("<IHHIIHHH", 18, 1, ch, sr, sr * ba, ba, bits, 0)
            + b"data" + struct.pack("<I", data_sz)
        )

    def wav_list(sr, ch, bits, data_sz):  # LIST chunk between fmt and data
        ba = ch * bits // 8
        lst = b"LIST" + struct.pack("<I", 4) + b"INFO"
        return (
            b"RIFF" + struct.pack("<I", 36 + len(lst) + data_sz) + b"WAVE"
            + b"fmt "
            + struct.pack("<IHHIIHH", 16, 1, ch, sr, sr * ba, ba, bits)
            + lst + b"data" + struct.pack("<I", data_sz)
        )

    rows = [
        (1, bytearray(_wav16(8000, 1, 16, 16000))),   # canonical: parses
        (2, bytearray(wav18(8000, 1, 16, 16000))),    # 18-byte fmt: bad
        (3, bytearray(wav_list(8000, 1, 16, 16000))),  # LIST chunk: bad
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: r for r in parse_wav_header(df).collect()}
    assert got[1].riff_ok == 1 and got[1].duration_us == 1_000_000
    assert got[2].riff_ok == 0 and got[2].data_bytes is None
    assert got[3].riff_ok == 0 and got[3].data_bytes is None


def test_mp4_version1_mvhd_counted_bad_not_misparsed(spark):
    # ADVICE r12 (medium): a version-1 mvhd stores 64-bit times, so the
    # v0 offsets would read timescale/duration out of the creation-time
    # bytes -- it must get mp4_ok=0, never a garbage timescale.
    from kcl_akka_stream_spark.operators.multimodal import parse_mp4_header

    def mp4(ts, dur, version=0):
        ftyp = (
            struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 0)
        )
        if version == 0:
            body = struct.pack(">IIIII", 0, 0, 0, ts, dur) + b"\x00" * 80
        else:  # v1: 64-bit creation/modification/duration, 32-bit ts
            body = (
                struct.pack(">I", 1 << 24)
                + struct.pack(">QQIQ", 0, 0, ts, dur) + b"\x00" * 80
            )
        mvhd = struct.pack(">I", 8 + len(body)) + b"mvhd" + body
        return ftyp + struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd

    rows = [
        (1, bytearray(mp4(600, 1800, version=0))),
        (2, bytearray(mp4(600, 1800, version=1))),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: r for r in parse_mp4_header(df).collect()}
    assert got[1].mp4_ok == 1 and got[1].duration_ms == 3000
    assert got[2].mp4_ok == 0 and got[2].timescale is None


def test_validate_bands_null_band_raises_distinctly(spark):
    # ADVICE r12 (low): a NULL band used to be python-sorted LAST while
    # the offsets window orders NULLS FIRST (validating a different
    # order than the one used) and surfaced as a misleading
    # 'not a sort-order prefix' error.  It now raises its own message.
    from kcl_akka_stream_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, None)], "doc_id long, k string"
    )
    band = F.substring(F.col("k"), 1, 1)  # NULL key -> NULL band
    with pytest.raises(ValueError, match="NULL band"):
        sorted_neighborhood_pairs(
            df, "k", block_col=None, band_expr=band, validate_bands=True
        ).collect()
    # and a valid prefix band still validates clean
    ok = sorted_neighborhood_pairs(
        df.filter("k is not null"),
        "k",
        block_col=None,
        band_expr=F.substring(F.col("k"), 1, 1),
        validate_bands=True,
    )
    assert ok.count() == 1  # (alpha, beta) within w=3


def test_chain_audit_deep_chain_converges(spark):
    # ADVICE r12 (low): chaining is exactly the pathology the audit
    # measures, so a 60-hop verified chain must converge (pointer
    # jumping, O(log diameter)) -- the plain CC's 20-round guard would
    # have raised here.  Density of a pure n-node chain is
    # (n-1)/(n(n-1)/2) = 2/n exactly.
    from kcl_akka_stream_spark.operators.dedup import chain_audit

    n = 60
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    rows = chain_audit(edges).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.cluster_size == n and r.n_clusters == 1
    assert r.total_edges == n - 1
    assert r.min_density_ppm == (n - 1) * 1_000_000 // (n * (n - 1) // 2)
    assert r.n_chained == 1


def test_decontaminate_fuzzy_overlapping_id_spaces(spark):
    # ADVICE r12 (low): corpus and eval ids used to be unioned raw, so a
    # shared id duplicated rows through the id-keyed shingle join.  The
    # verify stage is now two-table (id_a resolves against corpus, id_b
    # against eval); a corpus doc and an UNRELATED eval item sharing
    # id=1 must not cross-contaminate it.
    from kcl_akka_stream_spark.operators.corpus import decontaminate_fuzzy

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated corpus text about spark shuffles"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in decontaminate_fuzzy(
            corpus, ev, num_hashes=8, bands=8, k=3, threshold=0.3
        ).collect()
    }
    # corpus doc 1 flagged against eval item 1 (near-identical text),
    # exactly once, with a sane jaccard; doc 2 untouched
    assert set(got) == {1}
    assert got[1].n_matched_evals == 1
    assert 0.3 <= got[1].max_jaccard <= 1.0
    # dtype restored: long in, long out
    assert isinstance(got[1].doc_id, int)


def test_jpeg_walk_is_real_and_bounded(spark):
    # The SOF offset must come from WALKING the marker-length chain: a
    # file with 3 variable-length filler segments still parses (walked,
    # not templated), one whose SOF sits beyond max_segments lands in
    # the counted bad bucket (bounded, never a wrong-offset read).
    from kcl_akka_stream_spark.operators.multimodal import parse_jpeg_header

    def jpeg(w, h, kind=0xC0, fillers=0, ncomp=3):
        b = b"\xff\xd8"
        b += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        for _ in range(fillers):
            b += b"\xff\xdb" + struct.pack(">H", 5) + b"\x01\x02\x03"
        comp = (b"\x01\x11\x00" b"\x02\x21\x01" b"\x03\x11\x01")[: 3 * ncomp]
        b += (
            bytes([0xFF, kind]) + struct.pack(">H", 8 + 3 * ncomp) + b"\x08"
            + struct.pack(">HH", h, w) + bytes([ncomp]) + comp
        )
        return b

    rows = [
        (1, bytearray(jpeg(640, 480, 0xC0, fillers=0))),
        (2, bytearray(jpeg(320, 240, 0xC2, fillers=3, ncomp=1))),
        (3, bytearray(b"notajpeg" * 4)),
        (4, bytearray(jpeg(100, 100, 0xC0, fillers=9))),  # beyond bound
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: r for r in parse_jpeg_header(df).collect()}
    assert (got[1].sof_kind, got[1].width, got[1].height, got[1].n_pixels) == (
        "baseline", 640, 480, 307200,
    )
    assert (got[2].sof_kind, got[2].n_components) == ("progressive", 1)
    assert got[3].jpeg_ok == 0 and got[3].width is None
    assert got[4].jpeg_ok == 0 and got[4].width is None


def test_jpeg_mp3_queries_nonvacuous(spark, sf_dir):
    from kcl_akka_stream_spark.queries import QUERIES

    jp = QUERIES["multimodal_jpeg_dims"](spark, sf_dir).collect()
    good = [r for r in jp if r.sof_kind is not None]
    bad = [r for r in jp if r.sof_kind is None]
    assert {r.sof_kind for r in good} == {"baseline", "progressive"}
    assert {r.n_components for r in good} == {1, 3}
    assert all(r.total_pixels > 0 for r in good)
    assert len(bad) == 1 and bad[0].n_bad == bad[0].n_files > 0

    mp = QUERIES["multimodal_mp3_header"](spark, sf_dir).collect()
    goodm = [r for r in mp if r.sample_rate is not None]
    badm = [r for r in mp if r.sample_rate is None]
    assert {r.sample_rate for r in goodm} <= {44100, 48000, 32000}
    assert len({r.bitrate_kbps for r in goodm}) >= 5
    assert all(r.total_duration_ms > 0 for r in goodm)
    assert len(badm) == 1 and badm[0].n_bad == badm[0].n_files > 0


def test_mp3_reserved_indexes_counted_bad(spark):
    # Engineered red: valid sync but reserved sample-rate index (3) or
    # 'free'/'bad' bitrate indexes (0/15) must be counted, not parsed
    # with a NULL-propagating table lookup.
    from kcl_akka_stream_spark.operators.multimodal import parse_mp3_header

    def hdr(b2):
        return bytearray(bytes([0xFF, 0xFB, b2, 0xC0]) + b"\x00" * 412)

    rows = [
        (1, hdr((9 << 4) | (3 << 2))),   # sr_idx=3 reserved
        (2, hdr((0 << 4) | (0 << 2))),   # br_idx=0 'free'
        (3, hdr((15 << 4) | (0 << 2))),  # br_idx=15 'bad'
        (4, hdr((9 << 4) | (0 << 2))),   # valid control
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r.id: r for r in parse_mp3_header(df).collect()}
    assert got[1].mp3_ok == 0 and got[2].mp3_ok == 0 and got[3].mp3_ok == 0
    assert got[4].mp3_ok == 1 and got[4].bitrate_kbps == 128


def test_quality_model_recovers_engineered_signal(spark, sf_dir):
    # Green floor for the wave-58 acceptance contract: the injected
    # marker signal must be RECOVERED on the held-out split (precision
    # and recall far above the ~500000 ppm chance line), and the
    # symmetric-marker noise docs keep the report non-degenerate.
    from kcl_akka_stream_spark.queries import QUERIES

    r = QUERIES["text_quality_model_report"](spark, sf_dir).collect()[0]
    assert r.n_test > 50 and r.tp > 0 and r.tn > 0
    assert r.precision_ppm >= 800_000
    assert r.recall_ppm >= 800_000
    assert r.accuracy_ppm >= 850_000


def test_quality_model_chance_on_decoupled_labels(spark, sf_dir):
    # Engineered red: fit on labels DECOUPLED from the marker injection
    # (markers follow doc_id % 2, labels follow doc_id % 5 < 3 --
    # nearly independent) -- the same machinery must now score ~chance,
    # proving the green report measures the model, not the harness.
    from kcl_akka_stream_spark.operators.quality import (
        hashed_logodds_fit_score,
    )
    from kcl_akka_stream_spark.queries.pipeline import _qmodel_fixture
    from kcl_akka_stream_spark.queries.registry import tbl

    fx = _qmodel_fixture(tbl(spark, sf_dir, "documents")).select(
        "doc_id",
        F.expr("CASE WHEN doc_id % 5 < 3 THEN 1 ELSE 0 END").alias("label"),
        "text",
    )
    scored = hashed_logodds_fit_score(fx)
    row = scored.agg(
        F.expr(
            "cast(sum(CASE WHEN label = pred THEN 1 ELSE 0 END)"
            " * 1000000 div count(*) as bigint)"
        ).alias("acc")
    ).collect()[0]
    # decoupled labels: accuracy must sit near the base rate (60% here),
    # far below the coupled fixture's 85%+ floor
    assert row.acc < 750_000


def test_kcenter_greedy_is_exact_maximin(spark):
    # Hand-computable pool: seed = lowest id (1,0); the greedy must then
    # pick the antipode (cos -1 -> dist 2e6), then the orthogonal point
    # (min-dist to selected = 1e6), then the near-duplicate last -- and
    # the maximin curve must be non-increasing.
    from kcl_akka_stream_spark.operators.similarity import kcenter_select

    pool = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),   # near the seed
            (2, [-1.0, 0.0]),  # antipode
            (3, [0.0, 1.0]),   # orthogonal
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {r.step: r for r in kcenter_select(pool, k=4).collect()}
    assert [rows[s].vec_id for s in (1, 2, 3, 4)] == [0, 2, 3, 1]
    assert rows[1].maximin_micro is None
    assert rows[2].maximin_micro == 2_000_000
    assert rows[3].maximin_micro == 1_000_000
    assert rows[2].maximin_micro >= rows[3].maximin_micro >= rows[4].maximin_micro


def test_bloom_merge_idempotent_and_nonvacuous(spark, sf_dir):
    # The 20th family's lattice property at the query level: the
    # 4-batch OR-merge equals the oracle's direct build (gated), and
    # here the operational signals -- bits set, bounded constant state
    # (n_words <= 16384/63 + 1 per type), a live FP panel, and the
    # cardinality inversion landing within 25% of truth at fixture
    # load factors.
    from kcl_akka_stream_spark.queries import QUERIES

    rows = QUERIES["stream_bloom_merge"](spark, sf_dir).collect()
    assert len(rows) >= 3
    for r in rows:
        assert 0 < r.n_words <= 16384 // 63 + 1
        assert r.n_bits_set > 0 and r.n_true_keys > 0
        assert 0 <= r.fp_probe_hits <= 200
        est = r.est_keys_micro / 1_000_000
        assert abs(est - r.n_true_keys) <= 0.25 * r.n_true_keys


def test_spearman_exact_on_engineered_ranks(spark):
    # Perfect monotone (with one x-tie) must give rho exactly 1.0 on
    # tie-free y... engineered: x has a tie, y strictly increasing.
    # Average-rank Spearman for x=(1,2,2,4), y=(1,2,3,4):
    # r2x=(2,5,5,8), r2y=(2,4,6,8) -> rho = 0.94868 (=3/sqrt(10)).
    from kcl_akka_stream_spark.operators import text  # noqa: F401 (session warm)
    from kcl_akka_stream_spark.queries.core import agg_spearman_corr  # noqa: F401

    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 2), ("a", 2, 3), ("a", 4, 4)],
        "event_type string, x long, y long",
    )
    r = df.selectExpr(
        "event_type",
        "2 * rank() OVER (PARTITION BY event_type ORDER BY x)"
        " + count(*) OVER (PARTITION BY event_type, x) - 1 AS rx",
        "2 * rank() OVER (PARTITION BY event_type ORDER BY y)"
        " + count(*) OVER (PARTITION BY event_type, y) - 1 AS ry",
    )
    rows = {(x.rx, x.ry) for x in r.collect()}
    assert rows == {(2, 2), (5, 4), (5, 6), (8, 8)}


def test_kendall_tau_exact_on_engineered_cells(spark, sf_dir):
    # Query-level: tau_ppm must equal (C-D)*1e6 div pairs exactly and
    # stay within [-1e6, 1e6]; n_pairs = n_hours*(n_hours-1)/2.
    from kcl_akka_stream_spark.queries import QUERIES

    for r in QUERIES["agg_kendall_tau"](spark, sf_dir).collect():
        assert r.n_pairs == r.n_hours * (r.n_hours - 1) // 2
        assert r.concordant + r.discordant <= r.n_pairs
        q = (r.concordant - r.discordant) * 1_000_000
        # Spark div / DuckDB // truncate toward zero; python // floors
        assert r.tau_ppm == (abs(q) // r.n_pairs) * (1 if q >= 0 else -1)
        assert -1_000_000 <= r.tau_ppm <= 1_000_000


def test_theil_sen_resists_engineered_outlier(spark):
    # The point of Theil-Sen: inject one wild hour into a perfect
    # slope-1000000 (1 count per hour step) series -- the median slope
    # must stay exactly 1000000 micro while the OLS slope would not.
    from kcl_akka_stream_spark.operators import text  # noqa: F401

    rows = [("a", h, 100 + h) for h in range(10)]
    rows[5] = ("a", 5, 100000)  # the outlier hour
    h = spark.createDataFrame(rows, "event_type string, hr long, c long")
    a = h.selectExpr("event_type", "hr as h1", "c as c1")
    b = h.selectExpr("event_type", "hr as h2", "c as c2")
    p = a.join(b, "event_type").filter("h1 < h2").selectExpr(
        "event_type", "h1", "h2",
        "(c2 - c1) * 1000000 div (h2 - h1) as slope_micro",
    )
    med = p.selectExpr(
        "event_type", "slope_micro",
        "row_number() OVER (PARTITION BY event_type"
        " ORDER BY slope_micro, h1, h2) AS rn",
        "count(*) OVER (PARTITION BY event_type) AS n",
    ).groupBy("event_type").agg(
        F.expr("min(CASE WHEN 2 * rn >= n + 1 THEN slope_micro END)").alias(
            "m"
        )
    )
    assert med.collect()[0].m == 1_000_000


def test_good_turing_exact_on_tiny_corpus(spark):
    # 'a a b c' -> N=4 tokens, V=3 types, N1=2 (b,c), N2=1 (a),
    # unseen mass = 2/4 = 500000 ppm, hapax fraction = 2/3 = 666666 ppm.
    from kcl_akka_stream_spark.queries.registry import QUERIES  # noqa: F401
    import tempfile, os, shutil

    d = tempfile.mkdtemp(prefix="kcl_gt_")
    try:
        spark.createDataFrame(
            [(1, "a a b c", "en", "src0", 7)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        from kcl_akka_stream_spark.queries import QUERIES as Q

        r = Q["text_good_turing"](spark, d).collect()[0]
        assert (r.n_tokens, r.vocab_size, r.n1, r.n2) == (4, 3, 2, 1)
        assert r.unseen_mass_ppm == 500_000
        assert r.hapax_frac_ppm == 666_666
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_doremi_upweights_divergent_domain(spark, sf_dir):
    # The excess-loss signal: a lang whose unigram distribution
    # diverges most from the global mixture must carry the largest
    # weight, weights sum to ~1e6 ppm, and every excess is >= 0.
    from kcl_akka_stream_spark.queries import QUERIES

    rows = QUERIES["pipeline_doremi_weights"](spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r.excess_micro >= 0 for r in rows)
    assert all(r.nll_global_micro >= r.nll_lang_micro for r in rows)
    total = sum(r.weight_ppm for r in rows)
    assert 999_990 <= total <= 1_000_000  # div truncation, never over


def test_winnowing_guarantee_on_engineered_quote(spark):
    # The Schleimer et al. guarantee: two docs sharing a token run of
    # length >= w + k - 1 (= 8 here) MUST share a fingerprint; two docs
    # with no shared k-gram must share none.
    from kcl_akka_stream_spark.operators.dedup import winnowing_fingerprints

    quote = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, "intro words here " + quote + " trailing text one"),
            (2, "completely different opening " + quote + " and a tail"),
            (3, "no overlap at all with anything else whatsoever here"),
        ],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(docs, k=4, w=5)
    rows = fps.collect()
    sets: dict = {}
    for r in rows:
        sets.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert sets[1] & sets[2], "shared 8-token run must share a fingerprint"
    assert not (sets[1] & sets[3]) and not (sets[2] & sets[3])
    # density: fingerprints per doc ~ n/w, far below the k-gram count
    n_grams_1 = len(docs.filter("doc_id = 1").collect()[0].text.split()) - 3
    assert len(sets[1]) < n_grams_1


def test_int8_recall_green_and_starved_prefilter_red(spark, sf_dir):
    # Green: m=32 prefilter keeps recall@10 >= 0.9 at fixture scale.
    # Red: starving the prefilter to m=1 caps hits at n_queries, so the
    # same report collapses -- the gate measures the prefilter, not the
    # harness.
    from kcl_akka_stream_spark.operators.similarity import (
        brute_force_topk,
        int8_rescore_topk,
    )
    from kcl_akka_stream_spark.queries import QUERIES
    from kcl_akka_stream_spark.queries.registry import tbl

    r = QUERIES["sim_int8_recall_report"](spark, sf_dir).collect()[0]
    assert r.n_queries == 5 and r.recall_ppm >= 900_000

    emb = tbl(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    starved = int8_rescore_topk(emb, qs, m=1, k=10).select("q_id", "n_id")
    brute = brute_force_topk(emb, qs, k=10).select("q_id", "n_id")
    hits = brute.join(starved, ["q_id", "n_id"]).count()
    assert hits <= 5  # at most one survivor per query can land in top-10


def test_cramers_v_bounds_and_identity(spark, sf_dir):
    # V must land in [0,1]; and a perfectly-associated engineered table
    # (each type fires in exactly one distinct hour) must give V = 1.
    from kcl_akka_stream_spark.queries import QUERIES

    r = QUERIES["agg_cramers_v"](spark, sf_dir).collect()[0]
    assert r.n > 0 and r.min_dof >= 1
    assert 0.0 <= r.cramers_v <= 1.0

    # dense 2x2 (chi2 over OBSERVED cells needs no empty cells):
    # t0: 9@h0 1@h1, t1: 1@h0 9@h1 -> chi2 = 20*(81-1)^2/10^4 = 12.8,
    # V = sqrt(12.8 / (20*1)) = 0.8 exactly
    rows = (
        [("t0", 0)] * 9 + [("t0", 1)] * 1
        + [("t1", 0)] * 1 + [("t1", 1)] * 9
    )
    df = spark.createDataFrame(rows, "event_type string, hr long")
    m = df.groupBy("event_type", "hr").count().selectExpr(
        "event_type", "hr", "count AS o"
    ).selectExpr(
        "o",
        "sum(o) OVER (PARTITION BY event_type) AS r",
        "sum(o) OVER (PARTITION BY hr) AS c",
        "sum(o) OVER () AS n",
        "event_type", "hr",
    )
    v = m.selectExpr(
        "round(sqrt(cast(sum(cast(floor((cast(o as double) * n"
        " - cast(r as double) * c) * (cast(o as double) * n"
        " - cast(r as double) * c) * 1000000.0"
        " / (cast(n as double) * r * c)) as bigint)) as double) / 1000000.0"
        " / (max(n) * least(count(DISTINCT event_type) - 1,"
        " count(DISTINCT hr) - 1))), 6) AS v"
    ).collect()[0].v
    assert abs(v - 0.8) < 1e-4  # known 2x2 association -> V = 0.8


def test_centroid_outliers_flags_engineered_outlier(spark):
    # A vector far from its class centroid must rank first.
    from kcl_akka_stream_spark.queries import QUERIES  # noqa: F401
    from kcl_akka_stream_spark.queries.registry import tbl  # noqa: F401
    import os, shutil, tempfile

    d = tempfile.mkdtemp(prefix="kcl_cent_")
    try:
        rows = [(i, [1.0, 0.0, 0.0, 0.0], 0) for i in range(9)]
        rows.append((9, [-1.0, 0.0, 0.0, 0.0], 0))  # the outlier
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(
            os.path.join(d, "embeddings.parquet")
        )
        from kcl_akka_stream_spark.queries import QUERIES as Q

        out = Q["emb_centroid_outliers"](spark, d).collect()
        top = [r for r in out if r.rank == 1][0]
        assert top.vec_id == 9
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_textrank_hub_outranks_leaf(spark):
    # A word adjacent to every other word (the hub) must out-rank the
    # leaves after 3 damped iterations, and every rank stays positive.
    from kcl_akka_stream_spark.queries import QUERIES  # noqa: F401
    import os, shutil, tempfile

    d = tempfile.mkdtemp(prefix="kcl_tr_")
    try:
        # star graph: 'hub leaf1 hub leaf2 hub leaf3 ...'
        text = " ".join(f"hub leaf{i}" for i in range(1, 7))
        spark.createDataFrame(
            [(1, text, "en", "src0", len(text))],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        from kcl_akka_stream_spark.queries import QUERIES as Q

        rows = Q["text_textrank_keywords"](spark, d).collect()
        assert rows[0].word == "hub"
        assert all(r.rank_micro > 0 for r in rows)
        assert rows[0].rank_micro > rows[1].rank_micro
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_hodges_lehmann_exact_tiny(spark):
    # counts {1, 2, 10}: Walsh sums (i<=j) sorted = [2,3,4,11,12,20],
    # n=6; the repo's rank-pick convention (first rn with 2*rn >= n+1)
    # selects rn=4 -> hl_twice = 11 (deterministic in both engines).
    rows = [("a", 0, 1), ("a", 1, 2), ("a", 2, 10)]
    h = spark.createDataFrame(rows, "event_type string, hr long, c long")
    a = h.selectExpr("event_type", "hr AS h1", "c AS c1")
    b = h.selectExpr("event_type", "hr AS h2", "c AS c2")
    p = a.join(b, "event_type").filter("h1 <= h2").selectExpr(
        "event_type", "h1", "h2", "c1 + c2 AS s2"
    )
    med = p.selectExpr(
        "event_type", "s2",
        "row_number() OVER (PARTITION BY event_type ORDER BY s2, h1, h2)"
        " AS rn",
        "count(*) OVER (PARTITION BY event_type) AS n",
    ).groupBy("event_type").agg(
        F.expr("min(CASE WHEN 2 * rn >= n + 1 THEN s2 END)").alias("m")
    )
    assert med.collect()[0].m == 11


def test_kcenter_weights_cover_pool(spark, sf_dir):
    # Weights must partition the pool exactly; the reported radius is
    # the max assigned distance (non-negative, <= 2e6 for cosine).
    from kcl_akka_stream_spark.queries import QUERIES
    from kcl_akka_stream_spark.queries.registry import tbl

    rows = QUERIES["sample_kcenter_weights"](spark, sf_dir).collect()
    n_pool = tbl(spark, sf_dir, "embeddings").count()
    assert len(rows) == 4
    assert sum(r.weight for r in rows) == n_pool
    assert all(0 <= r.radius_micro <= 2_000_000 for r in rows)
    assert all(r.sum_dist_micro >= 0 for r in rows)


def test_tukey_fences_exact_engineered(spark, sf_dir):
    # Fences must be consistent: q1 <= q3, iqr = q3 - q1, outlier
    # counts bounded by n, and on the fixture at least one type carries
    # a non-degenerate IQR.
    from kcl_akka_stream_spark.queries import QUERIES

    rows = QUERIES["agg_tukey_fences"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.q1_cents <= r.q3_cents
        assert r.iqr_cents == r.q3_cents - r.q1_cents
        assert 0 <= r.n_low_outliers + r.n_high_outliers < r.n
    assert any(r.iqr_cents > 0 for r in rows)


def test_burstiness_separates_clumped_from_uniform(spark):
    # 'burst' dumps 20 copies in ONE doc; 'even' appears once in each
    # of 20 docs.  Population VMR over N=20 docs: burst -> (400*20 -
    # 400)/(20*20) = 19.0; even -> (20*20 - 400)/(20*20) = 0 exactly.
    import os, shutil, tempfile

    d = tempfile.mkdtemp(prefix="kcl_burst_")
    try:
        rows = []
        for i in range(20):
            text = "even filler" + (" burst" * 20 if i == 0 else "")
            rows.append((i, text, "en", "src0", len(text)))
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        from kcl_akka_stream_spark.queries import QUERIES as Q

        got = {r.tok: r for r in Q["text_burstiness"](spark, d).collect()}
        assert got["burst"].vmr_micro == 19_000_000
        assert got["even"].vmr_micro == 0
        assert got["burst"].df == 1 and got["even"].df == 20
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_rocchio_expansion_moves_the_ranking(spark, sf_dir):
    # PRF must produce a full ranked list per query with the round-1
    # flag populated both ways somewhere in the fleet (expansion
    # admits new entrants), and ranks dense 1..10 per query.
    from kcl_akka_stream_spark.queries import QUERIES

    rows = QUERIES["sim_rocchio_expansion"](spark, sf_dir).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert len(by_q) == 5
    for q, rs in by_q.items():
        assert sorted(x.rank for x in rs) == list(range(1, 11))
    flags = {r.was_in_round1 for r in rows}
    assert flags <= {0, 1} and 1 in flags  # carryovers always exist
