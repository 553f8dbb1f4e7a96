"""Training-data-pipeline queries: dedup, text analysis, similarity search,
multimodal plumbing (BASELINE.json north star).

Every hash used (minhash/simhash/fingerprints) is md5-based so the DuckDB
oracle reproduces values bit-for-bit; cosine math follows the
float64-fold + round(6) convention (operators/similarity.py docstring).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kcl_akka_stream_spark.operators import dedup as D
from kcl_akka_stream_spark.operators import similarity as S
from kcl_akka_stream_spark.operators import text as X
from kcl_akka_stream_spark.plans.hygiene import spread
from kcl_akka_stream_spark.queries.registry import ORACLES, query, tbl

TOK = X.TOKEN_PATTERN  # '[a-z0-9]+'

#: Shared DuckDB CTE: distinct word 3-shingles per document (mirror of
#: operators/dedup.py::shingles with k=3).
_SH_CTE = f"""
    toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, unnest(
        CASE WHEN len(t) >= 3
             THEN [array_to_string(list_slice(t, i, i + 2), ' ')
                   FOR i IN generate_series(1, len(t) - 2)]
             ELSE [array_to_string(t, ' ')] END) AS shingle
      FROM toks
    )
"""


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    """
    SELECT md5(text) AS digest, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(tbl(spark, sf_dir, "documents"))


def _minhash_band_sql(num_hashes: int, bands: int) -> tuple[str, str]:
    """The signature's select list (``mh_0`` ..) and the UNION ALL of its
    per-band ``(doc_id, band, bucket)`` selects over ``mh``."""
    # Mirror of operators/dedup.py::minhash_signatures: two md5 digests per
    # shingle, each split into four 8-hex chunks -> 8 independent min-hashes.
    rows = num_hashes // bands
    mins = ",\n        ".join(
        f"min(substr({'h1' if s < 4 else 'h2'}, {(s % 4) * 8 + 1}, 8)) AS mh_{s}"
        for s in range(num_hashes)
    )
    band_selects = []
    for b in range(bands):
        parts = " || '|' || ".join(f"mh_{b * rows + r}" for r in range(rows))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({parts}) AS bucket FROM mh"
        )
    return mins, "\n      UNION ALL ".join(band_selects)


def _minhash_oracle(
    num_hashes: int = 8, bands: int = 4, max_bucket_size: int | None = None
) -> str:
    mins, bands_sql = _minhash_band_sql(num_hashes, bands)
    cap_cte = ""
    cap_join = ""
    if max_bucket_size is not None:
        cap_cte = f""",
    kept AS (
      SELECT band, bucket FROM b
      GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND {max_bucket_size}
    )"""
        cap_join = "JOIN kept k ON k.band = a.band AND k.bucket = a.bucket"
    return f"""
    WITH {_SH_CTE},
    h AS (
      SELECT doc_id, md5(shingle) AS h1, md5(shingle || '#1') AS h2 FROM sh
    ),
    mh AS (
      SELECT doc_id,
        {mins}
      FROM h GROUP BY doc_id
    ),
    b AS (
      {bands_sql}
    ){cap_cte}
    SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
    FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket
    {cap_join}
    WHERE a.doc_id < b2.doc_id
    """


@query("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MinHash+LSH near-dup candidates: shingle -> 8 seeded-md5 minhashes ->
    # 4 bands -> pairs sharing a band bucket.  Never materializes O(n^2).
    docs = tbl(spark, sf_dir, "documents")
    buckets = D.minhash_lsh_buckets(docs, num_hashes=8, bands=4, k=3)
    return D.minhash_candidate_pairs(buckets)


@query("dedup_minhash_lsh_capped", _minhash_oracle(max_bucket_size=3))
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 100 TB guardrail variant: buckets holding more than
    # max_bucket_size docs are dropped whole before pair generation,
    # bounding the quadratic fan-out of boilerplate-driven hot buckets
    # (minhash_candidate_pairs docstring; twin of the jaccard df-cap).
    docs = tbl(spark, sf_dir, "documents")
    buckets = D.minhash_lsh_buckets(docs, num_hashes=8, bands=4, k=3)
    return D.minhash_candidate_pairs(buckets, max_bucket_size=3)


def _simhash_fp_sql(bits: int) -> str:
    """SimHash fingerprint of the md5 hex list ``hs``: bit i is set when
    most hashes have a high nibble at hex digit i."""
    highs = "('8','9','a','b','c','d','e','f')"
    return " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, x -> substr(x, {i + 1}, 1) IN {highs}))"
        f" - len(hs) > 0 THEN {2**i} ELSE 0 END)"
        for i in range(bits)
    )


def _simhash_oracle(bits: int = 16) -> str:
    fp = _simhash_fp_sql(bits)
    return f"""
    WITH t AS (
      SELECT doc_id,
             [md5(x) FOR x IN regexp_extract_all(lower(text), '{TOK}')] AS hs
      FROM documents
    )
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM t WHERE len(hs) > 0
    """


@query("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(tbl(spark, sf_dir, "documents"), bits=16)


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SH_CTE},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(tbl(spark, sf_dir, "documents"), k=3, threshold=0.5)


# ---------------------------------------------------------------------------
# Text analysis family
# ---------------------------------------------------------------------------
@query(
    "text_token_count",
    f"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '{TOK}')) AS BIGINT) AS re_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = X.token_count(tbl(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("ws_tokens").cast("bigint").alias("ws_tokens"),
        F.col("re_tokens").cast("bigint").alias("re_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


_STOPS = "['the','and','of','to','is']"


@query(
    "text_quality",
    f"""
    WITH t AS (
      SELECT doc_id, text,
             regexp_extract_all(lower(text), '{TOK}') AS toks,
             length(text) AS nc
      FROM documents)
    SELECT doc_id,
           CAST(nc AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / greatest(nc, 1) AS punct_ratio,
           CAST(len(list_filter(toks, x -> list_contains({_STOPS}, x))) AS DOUBLE)
             / greatest(len(toks), 1) AS stopword_ratio,
           CAST(nc AS DOUBLE) / greatest(len(toks), 1) AS mean_token_len,
           CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / greatest(nc, 1) AS caps_ratio
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = X.quality_score(tbl(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "punct_ratio",
        "stopword_ratio",
        "mean_token_len",
        "caps_ratio",
    )


def _langid_oracle() -> str:
    langs = sorted(X.LANG_MARKERS)
    score_cols = ",\n        ".join(
        "CAST(len(list_filter(toks, x -> list_contains(["
        + ",".join(f"'{m}'" for m in X.LANG_MARKERS[lang])
        + f"], x))) AS BIGINT) AS score_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    cases = " ".join(f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs)
    return f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS toks FROM documents),
    s AS (
      SELECT doc_id,
        {score_cols}
      FROM t)
    SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)},
           CASE WHEN {best} <= 0 THEN 'und' {cases} END AS pred_lang
    FROM s
    """


@query("text_langid", _langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = X.lang_id(tbl(spark, sf_dir, "documents"))
    casts = [F.col(f"score_{lang}").cast("bigint").alias(f"score_{lang}") for lang in sorted(X.LANG_MARKERS)]
    return out.select("doc_id", *casts, "pred_lang")


@query(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '{TOK}'))), ' ')
             AS canonical,
           md5(array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '{TOK}'))), ' '))
             AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.fingerprint(tbl(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Similarity search family
# ---------------------------------------------------------------------------
_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


_BRUTE_TOPK_ORACLE = f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_vec FROM embeddings),
         scored AS (
           SELECT q_id, n_id,
                  round({_COS.format(a="q_vec", b="n_vec")}, 6) AS cos_sim
           FROM c, q WHERE q_id <> n_id)
    SELECT q_id, n_id, cos_sim, rank FROM (
      SELECT q_id, n_id, cos_sim,
             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """


@query("sim_topk_bruteforce", _BRUTE_TOPK_ORACLE)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return S.brute_force_topk(emb, queries_df, k=5).select("q_id", "n_id", "cos_sim", "rank")


def _ivf_assign_ctes(n_clusters: int = 8, where: str = "") -> str:
    # Shared CTE chunk mirroring operators/similarity.py::_learn_quantizer:
    # seeds = the n_clusters lowest-id vectors, one Lloyd step (squared-L2
    # argmin with cluster-id tie-break -- identical to
    # operators/clustering.py).  Used by the IVF oracles and the semantic
    # dedup oracle.  No fixture `label` column anywhere.
    d2 = (
        "list_sum([(v_vec[i] - c_vec[i]) * (v_vec[i] - c_vec[i])"
        " FOR i IN generate_series(1, len(v_vec))])"
    )
    return f"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v_vec
           FROM embeddings{where}),
    c0 AS (SELECT vec_id AS cluster_id, v_vec AS c_vec FROM v
           ORDER BY vec_id LIMIT {n_clusters}),
    scored0 AS (
      SELECT vec_id, cluster_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY {d2}, cluster_id) AS rn
      FROM v CROSS JOIN c0),
    assign AS (SELECT vec_id, cluster_id FROM scored0 WHERE rn = 1)"""


def _ivf_oracle(n_clusters: int = 8, nprobe: int = 1) -> str:
    # Mirror of operators/similarity.py::ivf_topk's LEARNED quantizer
    # (assign CTEs shared via _ivf_assign_ctes), then element-wise cluster
    # means; each query probes only its nearest centroid's cluster; exact
    # top-5 within the cluster slice.
    cos_qc = _COS.format(a="q.q_vec", b="c.centroid")
    cos_qn = _COS.format(a="qa.q_vec", b="e.v")
    return f"""
    WITH {_ivf_assign_ctes(n_clusters)},
    dims0 AS (
      SELECT a.cluster_id,
             [{{'dim': i, 'val': v_vec[i]}}
              FOR i IN generate_series(1, len(v_vec))] AS dv
      FROM assign a JOIN v USING (vec_id)),
    dims AS (
      SELECT cluster_id, s.dim AS dim, avg(s.val) AS mval
      FROM (SELECT cluster_id, unnest(dv) AS s FROM dims0)
      GROUP BY cluster_id, s.dim),
    cent AS (SELECT cluster_id, list(mval ORDER BY dim) AS centroid
             FROM dims GROUP BY cluster_id),
    e AS (SELECT v.vec_id, v.v_vec AS v, a.cluster_id AS cl
          FROM v JOIN assign a USING (vec_id)),
    q AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 5),
    qa AS (
      SELECT q_id, q_vec, cluster FROM (
        SELECT q.q_id, q.q_vec, c.cluster_id AS cluster,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {cos_qc} DESC, c.cluster_id) AS r
        FROM q, cent c)
      WHERE r <= {nprobe}
    ),
    scored AS (
      SELECT qa.q_id, e.vec_id AS n_id, round({cos_qn}, 6) AS cos_sim
      FROM qa JOIN e ON e.cl = qa.cluster AND e.vec_id <> qa.q_id
    )
    SELECT q_id, n_id, cos_sim, rank FROM (
      SELECT q_id, n_id, cos_sim,
             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """


@query("sim_topk_ivf", _ivf_oracle())
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF with a LEARNED coarse quantizer (default ivf_topk path): seeds =
    # 8 lowest-id vectors, one Lloyd step builds the centroids, the corpus
    # joins its learned cluster id (the offline index-build cost), and each
    # query scans only its nearest centroid's slice.
    emb = tbl(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return S.ivf_topk(emb, queries_df, k=5).select("q_id", "n_id", "cos_sim", "rank")


@query("sim_topk_ivf_nprobe", _ivf_oracle(nprobe=2))
def sim_topk_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The IVF recall lever: probe the TWO nearest clusters per query
    # (boundary queries stop missing neighbors just across the seam);
    # scan cost doubles but stays cluster-pruned -- the standard
    # nprobe/recall trade every IVF index exposes.
    emb = tbl(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return S.ivf_topk(emb, queries_df, k=5, nprobe=2).select(
        "q_id", "n_id", "cos_sim", "rank"
    )


def _ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture) and return the on-disk IVF index dir: the
    learned quantizer's centroids plus the corpus parquet PARTITIONED BY
    cluster (operators/similarity.py::ivf_build).  Keyed by the fixture
    file's (size, mtime) so a driver-side testdata regeneration
    invalidates the cache automatically.  Shared by the prebuilt IVF
    probe and semantic dedup -- cluster once, reuse everywhere, the
    offline-index shape every 100 TB deployment runs."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    key = hashlib.sha1(
        f"{src}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:12]
    index_dir = os.path.join(tempfile.gettempdir(), f"kcl_ivf_index_{key}")
    marker = os.path.join(index_dir, "_BUILT")
    if not os.path.exists(marker):
        S.ivf_build(tbl(spark, sf_dir, "embeddings"), index_dir)
        with open(marker, "w"):
            pass
    return index_dir


@query("sim_topk_ivf_prebuilt", _ivf_oracle())
def sim_topk_ivf_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Build-once / probe-many IVF (VERDICT r5 #4): first call per fixture
    # builds the persisted index, every subsequent call runs only the
    # probe -- 3 exchanges (vs 8 inline) and dynamic partition pruning on
    # the corpus scan.  Same oracle as sim_topk_ivf: the build is
    # deterministic, so the prebuilt probe returns the identical result.
    index_dir = _ensure_ivf_index(spark, sf_dir)
    queries_df = tbl(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return S.ivf_probe_prebuilt(spark, index_dir, queries_df, k=5).select(
        "q_id", "n_id", "cos_sim", "rank"
    )


def _semantic_dedup_oracle(threshold: float = 0.4, n_clusters: int = 8) -> str:
    # Same learned-quantizer assign as IVF, then within-cluster pairs at
    # round(cos,6) >= threshold, transitive closure (recursive CTE), dup
    # group = min reachable id; representatives = their own group min.
    cos = _COS.format(a="a.v", b="b.v")
    return f"""
    WITH RECURSIVE {_ivf_assign_ctes(n_clusters)},
    e AS (SELECT v.vec_id, v.v_vec AS v, a.cluster_id AS cl
          FROM v JOIN assign a USING (vec_id)),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.cl = b.cl AND a.vec_id < b.vec_id
      WHERE round({cos}, 6) >= {threshold}),
    edges AS (
      SELECT id_a AS ea, id_b AS eb FROM pairs
      UNION ALL
      SELECT id_b AS ea, id_a AS eb FROM pairs),
    reach(src, dst) AS (
      SELECT vec_id, vec_id FROM v
      UNION
      SELECT r.src, g.eb FROM reach r JOIN edges g ON r.dst = g.ea),
    comp AS (SELECT src AS vec_id, min(dst) AS dup_group FROM reach GROUP BY src)
    SELECT e.vec_id, CAST(e.cl AS BIGINT) AS sem_cluster, comp.dup_group,
           e.vec_id = comp.dup_group AS is_rep
    FROM e JOIN comp USING (vec_id)
    """


@query("dedup_semantic", _semantic_dedup_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup-style semantic dedup: learned-quantizer clusters, within-
    # cluster cosine pairs, pointer-jumping components, lowest-id
    # representative per duplicate group.  Reuses the PERSISTED IVF index
    # (same quantizer, built once per fixture) instead of re-learning the
    # clustering per call -- cluster offline once, dedup against the
    # stored assignment.  threshold=0.4 because the synthetic fixture's
    # global cosine ceiling is ~0.51 -- a production 0.95 would make the
    # gate row vacuous (zero pairs); the operator default stays 0.95.
    index_dir = _ensure_ivf_index(spark, sf_dir)
    corpus = spark.read.parquet(f"{index_dir}/corpus")
    return S.semantic_dedup(
        corpus, threshold=0.4, cluster_col="cluster"
    ).select("vec_id", "sem_cluster", "dup_group", "is_rep")


def _semantic_dedup_auto_oracle(target_cluster: int = 64, threshold: float = 0.4) -> str:
    # Auto-scaled variant: sem_cluster = sign-LSH bucket with dims derived
    # from the corpus count (same integer-exact auto_lsh_dims rule as the
    # capped near-dup oracle); then the same transitive closure +
    # representative election as _semantic_dedup_oracle.
    cos = _COS.format(a="a.v", b="b.v")
    return f"""
    WITH RECURSIVE params AS (
      SELECT coalesce(
        (SELECT min(g.d) FROM generate_series(1, 16) AS g(d)
         WHERE (SELECT count(*) FROM embeddings) <= {target_cluster} * 2 ** g.d),
        16) AS dims),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 CAST(list_sum(
                   [CASE WHEN embedding[i] >= 0 THEN 2 ** (i - 1) ELSE 0 END
                    FOR i IN generate_series(1, p.dims)]) AS BIGINT) AS cl
          FROM embeddings, params p),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.cl = b.cl AND a.vec_id < b.vec_id
      WHERE round({cos}, 6) >= {threshold}),
    edges AS (
      SELECT id_a AS ea, id_b AS eb FROM pairs
      UNION ALL
      SELECT id_b AS ea, id_a AS eb FROM pairs),
    reach(src, dst) AS (
      SELECT vec_id, vec_id FROM e
      UNION
      SELECT r.src, g.eb FROM reach r JOIN edges g ON r.dst = g.ea),
    comp AS (SELECT src AS vec_id, min(dst) AS dup_group FROM reach GROUP BY src)
    SELECT e.vec_id, e.cl AS sem_cluster, comp.dup_group,
           e.vec_id = comp.dup_group AS is_rep
    FROM e JOIN comp USING (vec_id)
    """


@query("dedup_semantic_auto", _semantic_dedup_auto_oracle())
def dedup_semantic_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 100 TB twin of dedup_semantic: cluster count DERIVED from the
    # corpus (sign-LSH auto dims, expected cluster size ~constant) instead
    # of frozen k=8 -- the frozen form is quadratic per cluster under
    # growth (12.5x wall at 10x data, SCALE_PROBE.md), this one stays
    # ~flat.  Same components + representative election downstream.
    return S.semantic_dedup(
        tbl(spark, sf_dir, "embeddings"),
        threshold=0.4,
        target_cluster_size=64,
    ).select("vec_id", "sem_cluster", "dup_group", "is_rep")


def _lsh_topk_oracle(bucket_dims: int = 4) -> str:
    bucket = " + ".join(
        f"(CASE WHEN embedding[{d + 1}] >= 0 THEN {2**d} ELSE 0 END)" for d in range(bucket_dims)
    )
    cos = _COS.format(a="q.q_vec", b="c.n_vec")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      CAST({bucket} AS INT) AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS q_vec, bucket FROM e WHERE vec_id < 5),
    c AS (SELECT vec_id AS n_id, v AS n_vec, bucket FROM e),
    scored AS (
      SELECT q.q_id, c.n_id, round({cos}, 6) AS cos_sim
      FROM c JOIN q ON c.bucket = q.bucket AND q.q_id <> c.n_id
    )
    SELECT q_id, n_id, cos_sim, rank FROM (
      SELECT q_id, n_id, cos_sim,
             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """


@query("sim_topk_lsh", _lsh_topk_oracle())
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return S.lsh_topk(emb, queries_df, k=5, bucket_dims=4).select("q_id", "n_id", "cos_sim", "rank")


@query(
    "emb_near_dup",
    f"""
    WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_COS.format(a="a.v", b="b.v")}, 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round({_COS.format(a="a.v", b="b.v")}, 6) >= 0.35
    """,
)
def emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.embedding_near_dup_pairs(tbl(spark, sf_dir, "embeddings"), threshold=0.35)


def _emb_near_dup_lsh_oracle(bucket_dims: int = 4, threshold: float = 0.35) -> str:
    bucket = " + ".join(
        f"(CASE WHEN embedding[{d + 1}] >= 0 THEN {2**d} ELSE 0 END)"
        for d in range(bucket_dims)
    )
    cos = _COS.format(a="a.v", b="b.v")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      CAST({bucket} AS INT) AS bucket
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 6) AS cos_sim
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round({cos}, 6) >= {threshold}
    """


@query("emb_near_dup_lsh", _emb_near_dup_lsh_oracle())
def emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 100 TB variant (r2 "What's missing" #5): the blocking key is the
    # sign-LSH bucket derived from the vector itself -- no semantic label
    # column needed, the per-block self-join shrinks by the 2^dims bucket
    # fan-out, and the key is a map-only projection (no extra shuffle).
    return S.embedding_near_dup_pairs(
        tbl(spark, sf_dir, "embeddings"), threshold=0.35, lsh_dims=4
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------
@query(
    "multimodal_features",
    """
    SELECT doc_id AS media_id, 'image' AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS digest
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Binary-column plumbing: documents-as-media -> Arrow-batched mapInPandas
    # decode/feature stub (operators/multimodal.py).  The oracle checks the
    # real plumbing outputs (sizes + digests); the fake feature vector is
    # exercised by unit tests.
    from kcl_akka_stream_spark.operators.multimodal import documents_as_media, extract_features

    media = documents_as_media(tbl(spark, sf_dir, "documents"))
    return extract_features(media).select("media_id", "kind", "n_bytes", "digest")


@query(
    "multimodal_resize",
    """
    SELECT doc_id AS media_id, 32 AS width, 32 AS height,
           CAST(least(octet_length(encode(text)), 1024) AS BIGINT) AS n_bytes,
           sha256(substring(text, 1, 1024)) AS digest
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Resize plumbing (binary->binary mapInPandas, stubbed codec); the
    # fixture text is pure ASCII so the oracle's char-truncation == the
    # operator's byte-truncation.
    from kcl_akka_stream_spark.operators.multimodal import documents_as_media, resize_images

    media = documents_as_media(tbl(spark, sf_dir, "documents"))
    out = resize_images(media, width=32, height=32)
    return out.select("media_id", "width", "height", "n_bytes", "digest")


@query(
    "sink_keyed_ordered",
    """
    SELECT user_id AS key, string_agg(event_type, ',' ORDER BY event_id) AS msgs
    FROM events GROUP BY user_id
    """,
)
def sink_keyed_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S7/P6 -- the producer sink's per-key ordering contract
    # (IT/KinesisTestProducer.scala:29-53): write keyed+ordered, read the
    # manifest back, and prove each key's messages come back in send order.
    # The order witness is the PHYSICAL read position (monotonic id over a
    # single-partition scan), not a re-sort by event_id -- so the oracle
    # (ordered by event_id) only matches if the file order really is the
    # send order.  collect_list alone is NOT order-stable through agg
    # fallback (SURVEY §7 hard-thing #4), hence the explicit position sort.
    import shutil
    import tempfile

    from kcl_akka_stream_spark.operators.sinks import keyed_ordered_write

    ev = tbl(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    tmp = tempfile.mkdtemp(prefix="kcl_spark_sink_")
    try:
        manifest = keyed_ordered_write(ev, tmp, key_col="user_id", order_col="event_id")
        positioned = manifest.coalesce(1).withColumn("__pos", F.monotonically_increasing_id())
        out = (
            positioned.groupBy(F.col("user_id").alias("key"))
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("__pos").alias("p"), F.col("event_type").alias("v")))
                        ),
                        lambda s: s.getField("v"),
                    ),
                    ",",
                ).alias("msgs")
            )
        )
        # materialize before the temp dir disappears
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS media_id, unnest(range(0, (doc_id % 30) + 1, 10)) AS frame_idx
    FROM documents
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kcl_akka_stream_spark.operators.multimodal import frame_sample

    docs = tbl(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            ((F.col("doc_id") % 30) + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )
    return frame_sample(media, every_n=10).select("media_id", F.col("frame_idx").cast("bigint").alias("frame_idx"))


@query(
    "text_token_bpe",
    f"""
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '{X.BPE_PATTERN.replace(chr(39), chr(39) * 2)}') AS bt
      FROM documents)
    SELECT doc_id,
           CAST(len(bt) AS INT) AS n_bpe_tokens,
           CAST(len(list_filter(bt, x -> NOT regexp_matches(x, '^\\s+$'))) AS INT)
             AS n_nonspace_tokens
    FROM t
    """,
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BPE-ish pre-tokenizer counts (GPT-2-style pattern) -- the token-cost
    # estimate a training-data pipeline budgets by.
    out = X.bpe_token_count(tbl(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_bpe_tokens").cast("int").alias("n_bpe_tokens"),
        F.col("n_nonspace_tokens").cast("int").alias("n_nonspace_tokens"),
    )


def _clusters_oracle() -> str:
    # Transitive closure over the minhash candidate-pair graph (recursive
    # CTE), cluster id = min reachable doc id; singletons keep their own id.
    mh = _minhash_oracle()
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT * FROM ({mh})
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    """


def _minhash_verified_oracle(threshold: float = 0.5) -> str:
    mh = _minhash_oracle()
    return f"""
    WITH {_SH_CTE},
    cands AS (SELECT * FROM ({mh})),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_common
      FROM cands c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           round(CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common), 6)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE round(CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common), 6)
          >= {threshold}
    """


@query("dedup_minhash_verified", _minhash_verified_oracle())
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The canonical two-stage near-dup recipe: LSH candidate generation
    # (probabilistic, cheap) -> exact Jaccard verification on candidates
    # only (operators/dedup.py::verify_candidate_jaccard).  Unlike
    # dedup_ngram_jaccard this never enumerates all shingle-sharing pairs
    # -- verification cost is |candidates|, the 100 TB recipe.
    docs = tbl(spark, sf_dir, "documents")
    buckets = D.minhash_lsh_buckets(docs, num_hashes=8, bands=4, k=3)
    cands = D.minhash_candidate_pairs(buckets)
    return D.verify_candidate_jaccard(docs, cands, k=3, threshold=0.5)


def _minhash_calibration_oracle(
    num_hashes: int = 8, dup_threshold_micro: int = 500_000
) -> str:
    mh = _minhash_oracle()
    agree = " + ".join(
        f"CASE WHEN ma.mh_{s} = mb.mh_{s} THEN 1 ELSE 0 END"
        for s in range(num_hashes)
    )
    return f"""
    WITH {_SH_CTE},
    cands AS (SELECT * FROM ({mh})),
    h AS (
      SELECT doc_id, md5(shingle) AS h1, md5(shingle || '#1') AS h2 FROM sh
    ),
    mh2 AS (
      SELECT doc_id,
        {",".join(f"min(substr({'h1' if s < 4 else 'h2'}, {(s % 4) * 8 + 1}, 8)) AS mh_{s}" for s in range(num_hashes))}
      FROM h GROUP BY doc_id
    ),
    agree AS (
      SELECT c.id_a, c.id_b, CAST({agree} AS BIGINT) AS n_agree
      FROM cands c
      JOIN mh2 ma ON ma.doc_id = c.id_a
      JOIN mh2 mb ON mb.doc_id = c.id_b
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_common
      FROM cands c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    ),
    ex AS (
      SELECT g.id_a, g.id_b, g.n_agree,
             (coalesce(i.n_common, 0) * 1000000)
               // (sa.n_sh + sb.n_sh - coalesce(i.n_common, 0)) AS jac_micro
      FROM agree g
      LEFT JOIN inter i ON i.id_a = g.id_a AND i.id_b = g.id_b
      JOIN sizes sa ON sa.doc_id = g.id_a
      JOIN sizes sb ON sb.doc_id = g.id_b
    )
    SELECT n_agree, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(jac_micro) AS BIGINT) AS sum_jaccard_micro,
           CAST(sum(CASE WHEN jac_micro >= {dup_threshold_micro}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dups
    FROM ex GROUP BY n_agree
    """


@query("dedup_minhash_calibration", _minhash_calibration_oracle())
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The dedup family's acceptance contract, measured in-query (the
    # twin of sim_ivf_recall_report): signature-estimated similarity
    # (agreeing minhash components per LSH candidate pair) calibrated
    # against TRUE shingle Jaccard in integer micro-units
    # (operators/dedup.py::minhash_estimate_vs_exact).  At 100 TB this
    # candidate-set calibration table -- not a corpus-wide re-verify --
    # is how a production sweep proves its banding threshold still
    # separates dups from bucket collisions.  All-integer, so the oracle
    # reproduces the table bit-for-bit.
    return D.minhash_estimate_vs_exact(
        tbl(spark, sf_dir, "documents"), num_hashes=8, bands=4, k=3
    )


@query("dedup_clusters", _clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The cluster->keeper step every dedup pipeline ends with: connected
    # components over the LSH candidate pairs (iterative min-label
    # propagation; operators/dedup.py::connected_components), checked
    # against a recursive-CTE transitive closure.
    docs = tbl(spark, sf_dir, "documents")
    buckets = D.minhash_lsh_buckets(docs, num_hashes=8, bands=4, k=3)
    pairs = D.minhash_candidate_pairs(buckets)
    return D.connected_components(pairs, docs.select("doc_id"))


@query("dedup_clusters_fast", _clusters_oracle())
def dedup_clusters_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Runs the same operator as dedup_clusters (operators/dedup.py::
    # connected_components, which falls back to pointer jumping on deep
    # graphs); kept as its own registry entry with the shared oracle.
    return dedup_clusters(spark, sf_dir)


@query(
    "sample_weighted",
    """
    WITH s AS (
      SELECT doc_id,
             CAST(LEAST(GREATEST(n_chars // 100, 1), 8) AS INT) AS weight
      FROM documents),
    keyed AS (
      SELECT doc_id, weight,
             list_min([md5('w19|' || CAST(doc_id AS VARCHAR) || '|'
                           || CAST(j AS VARCHAR))
                       FOR j IN generate_series(1, weight)]) AS sel_key
      FROM s)
    SELECT doc_id, weight, sel_key
    FROM keyed ORDER BY sel_key, doc_id LIMIT 50
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quality/length-WEIGHTED corpus sampling (operators/sampling.py::
    # weighted_sample_topk): integer-exact Efraimidis-Spirakis -- weight-w
    # rows keep the min of w md5 keys, rank ascending, take k.  No float
    # pow anywhere, so the selected SET is bit-identical cross-engine;
    # the plan is map-only projection + TakeOrdered, never a full sort.
    docs = tbl(spark, sf_dir, "documents")
    return SA.weighted_sample_topk(
        docs, weight_col=F.floor(F.col("n_chars") / 100), k=50
    )


@query(
    "sample_stratified",
    """
    SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_id
    FROM documents
    WHERE substr(md5('s42|' || CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
    GROUP BY lang
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic ~25% sample (md5 hash-gate on the id, seed baked into
    # the salt string) -- reproducible across engines and runs, unlike
    # rand()-based sampling; per-stratum counts prove the gate.  At scale
    # this is a map-only filter: no shuffle until the audit agg.
    docs = tbl(spark, sf_dir, "documents")
    gate = F.substring(F.md5(F.concat(F.lit("s42|"), F.col("doc_id").cast("string"))), 1, 4) < "4000"
    return (
        docs.filter(gate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.min("doc_id").alias("first_id"))
    )


@query(
    "corpus_vocab_topk",
    f"""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '{TOK}')) AS token FROM documents)
    SELECT token, count(*) AS n FROM tok GROUP BY token
    ORDER BY n DESC, token LIMIT 100
    """,
)
def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus vocabulary head: explode -> count -> deterministic top-k
    # (ties broken on the token).  TakeOrderedAndProject keeps the top-k
    # selection map-side partial.
    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select(F.explode(X.tokens(F.col("text"))).alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(100)
    )


def _clean_corpus_oracle() -> str:
    lang = _langid_oracle()
    return f"""
    WITH pred AS (SELECT doc_id, pred_lang FROM ({lang})),
    q AS (
      SELECT doc_id, len(regexp_extract_all(lower(text), '{TOK}')) AS n_toks FROM documents
    ),
    keeper AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
    SELECT d.doc_id, p.pred_lang, CAST(q.n_toks AS BIGINT) AS n_tokens
    FROM documents d
    JOIN pred p USING (doc_id)
    JOIN q USING (doc_id)
    JOIN keeper k ON k.doc_id = d.doc_id
    WHERE p.pred_lang = 'en' AND q.n_toks >= 10
    """


@query("pipeline_clean_corpus", _clean_corpus_oracle())
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The canonical training-data pipeline composition: language gate ->
    # quality gate -> exact-dup keeper, all as one declarative plan (every
    # stage joins on doc_id, so after the first shuffle the joins are
    # co-partitioned and Catalyst plans them without re-exchanges).
    docs = tbl(spark, sf_dir, "documents")
    lang = X.lang_id(docs).select("doc_id", "pred_lang").filter(F.col("pred_lang") == "en")
    qual = (
        X.quality_score(docs)
        .select("doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens"))
        .filter(F.col("n_tokens") >= 10)
    )
    keepers = D.exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    return (
        docs.select("doc_id")
        .join(lang, "doc_id")
        .join(qual, "doc_id")
        .join(keepers, "doc_id", "left_semi")
        .select("doc_id", "pred_lang", "n_tokens")
    )


@query("sim_topk_vectorized", _BRUTE_TOPK_ORACLE)
def sim_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Kept as a registry name: exact top-k has one implementation
    # (operators/similarity.py::brute_force_topk), so this is
    # sim_topk_bruteforce.  A BLAS scorer needs a wide-embedding workload
    # that selects it by observed dims; the fixture is 64-dim.
    return sim_topk_bruteforce(spark, sf_dir)


def _rolling_oracle(window: int = 4, base: int = 257, mod: int = 2147483647) -> str:
    code = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "[CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT) "
        "FOR c IN string_split(substr(md5(x), 1, 8), '')]), (acc, v) -> acc * 16 + v)"
    )
    fold = f"(acc, t) -> (acc * {base} + t) % {mod}"
    return f"""
    WITH codes AS (
      SELECT doc_id,
             [{code} FOR x IN regexp_extract_all(lower(text), '{TOK}')] AS cs
      FROM documents)
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), cs), {fold}) AS rolling_hash,
           list_min([list_reduce(list_prepend(CAST(0 AS BIGINT),
                                              list_slice(cs, i, i + {window - 1})), {fold})
                     FOR i IN generate_series(1, greatest(len(cs) - {window} + 1, 1))])
             AS winnow_min
    FROM codes
    """


@query("text_rolling_fingerprint", _rolling_oracle())
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rabin-Karp/winnowing document fingerprint: whole-doc polynomial
    # rolling hash + min over 4-token window hashes (operators/text.py).
    return X.rolling_fingerprint(tbl(spark, sf_dir, "documents"), window=4)


@query(
    "dedup_ngram_jaccard_capped",
    f"""
    WITH {_SH_CTE},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    kept AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) BETWEEN 2 AND 5),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      JOIN kept k ON k.shingle = a.shingle
      WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.8
    """,
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 100 TB guardrail variant: shingles appearing in more than
    # max_doc_freq docs are dropped before pair generation, bounding the
    # quadratic fan-out of boilerplate shingles.  Jaccard becomes a lower
    # bound (intersection restricted, sizes kept full); the cap is
    # deterministic so the oracle mirrors it exactly.  Threshold matches
    # the uncapped headline (0.8) so BENCH compares the cap's effect
    # apples-to-apples.  max_doc_freq=5 (was 3, which pruned every
    # candidate at sf0.01 and made the gate row vacuous -- VERDICT r5 #3):
    # at 5 the cap still bounds boilerplate fan-out but the sf0.01 fixture
    # yields 25 surviving pairs, so the hash comparison is non-trivial.
    return D.ngram_jaccard_pairs(
        tbl(spark, sf_dir, "documents"), k=3, threshold=0.8, max_doc_freq=5
    )


# ---------------------------------------------------------------------------
# Corpus export surface: redact -> pack -> decontaminate
# ---------------------------------------------------------------------------
from kcl_akka_stream_spark.operators import corpus as C  # noqa: E402


def _redact_oracle() -> str:
    em, num = C.EMAIL_PATTERN, C.LONG_NUMBER_PATTERN
    # same deterministic PII injection as the query body (the fixture text
    # contains no PII, so the op would otherwise be a no-op pass)
    inject = (
        "text || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com ref 12345678' ELSE '' END"
    )
    return f"""
    WITH t AS (SELECT doc_id, {inject} AS text FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{em}', '<EMAIL>', 'g'),
                          '{num}', '<NUM>', 'g') AS redacted_text,
           CAST(len(regexp_extract_all(text, '{em}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(
                regexp_replace(text, '{em}', '<EMAIL>', 'g'), '{num}')) AS INT)
             AS n_numbers
    FROM t
    """


@query("text_redact_pii", _redact_oracle())
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Map-only PII scrub (operators/corpus.py::redact_pii).  The fixture
    # text carries no PII, so the query injects a deterministic email +
    # account number on every 7th doc (oracle mirrors the injection) --
    # the redaction path is genuinely exercised, not a no-op.
    # spread(): three regexp passes per row -- parallelism floor (r10,
    # same measured lesson as scalar_try_funcs)
    docs = spread(tbl(spark, sf_dir, "documents")).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com ref 12345678"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return C.redact_pii(docs)


def _pack_oracle(budget: int = 256) -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(regexp_extract_all(lower(text), '{TOK}')) AS INT) AS n_tokens
      FROM documents),
    p AS (
      SELECT doc_id, lang, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tokens_before
      FROM t)
    SELECT doc_id, lang, n_tokens, tokens_before,
           CAST(floor(tokens_before / {budget}.0) AS BIGINT) AS pack_id
    FROM p
    """


@query("pipeline_pack_tokens", _pack_oracle())
def pipeline_pack_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Token-budget packing (operators/corpus.py::pack_token_budget): docs
    # are assigned to 256-token shards per language stratum -- the
    # trainer-shaped export step.  One window per stratum; packing
    # parallelizes across strata.
    return C.pack_token_budget(tbl(spark, sf_dir, "documents"), budget=256)


def _decontaminate_oracle(k: int = 5, modulus: int = 97) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, unnest(
        CASE WHEN len(t) >= {k}
             THEN [array_to_string(list_slice(t, i, i + {k - 1}), ' ')
                   FOR i IN generate_series(1, len(t) - {k - 1})]
             ELSE [array_to_string(t, ' ')] END) AS gram
      FROM toks
    ),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % {modulus} = 0)
    SELECT g.doc_id, count(*) AS n_shared_grams
    FROM g JOIN ev ON g.gram = ev.gram
    GROUP BY g.doc_id
    """


@query("pipeline_decontaminate", _decontaminate_oracle())
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Benchmark decontamination (operators/corpus.py::decontaminate): flag
    # corpus docs sharing any word 5-gram with the eval set (deterministic
    # fixture eval set: doc_id % 97 == 0).  Eval grams broadcast; the
    # corpus never self-joins.
    docs = tbl(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    return C.decontaminate(docs, eval_df, k=5)


def _kmv_oracle(k: int = 64) -> str:
    # md5 first-8-hex-chars -> uniform fraction, reproduced digit-by-digit
    # (strpos arithmetic) so the estimate matches Spark bit-for-bit.
    return f"""
    WITH h0 AS (
      SELECT DISTINCT event_type,
             substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS h8
      FROM events),
    h AS (
      SELECT event_type,
             list_sum([(strpos('0123456789abcdef', substr(h8, i, 1)) - 1)
                       * power(16, 8 - i)
                       FOR i IN generate_series(1, 8)]) / 4294967296.0 AS hv
      FROM h0),
    r AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h),
    agg AS (
      SELECT event_type, count(*) AS n_exact_kept, max(hv) AS kth
      FROM r WHERE rn <= {k} GROUP BY event_type)
    SELECT event_type,
           CAST(n_exact_kept AS BIGINT) AS n_exact_kept,
           round(kth, 10) AS kth_min,
           round(CASE WHEN n_exact_kept >= {k} THEN {k - 1}.0 / kth
                      ELSE CAST(n_exact_kept AS DOUBLE) END, 4) AS est_distinct
    FROM agg
    """


@query("agg_kmv_distinct", _kmv_oracle())
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic KMV distinct-count sketch (operators/sketches.py):
    # distinct users per event type, estimated from the 64 smallest md5
    # fractions per group.  Engine-portable by construction, so the oracle
    # verifies the ESTIMATE exactly -- not just row counts.
    from kcl_akka_stream_spark.operators.sketches import kmv_distinct

    return kmv_distinct(tbl(spark, sf_dir, "events"), "event_type", "user_id", k=64)


def _kmv_merged_oracle(k: int = 64) -> str:
    # Direct GLOBAL sketch over the raw data -- the merge of the per-group
    # states must equal this exactly (closure property, see
    # operators/sketches.py::kmv_merge_estimate).
    return f"""
    WITH h0 AS (
      SELECT DISTINCT substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS h8 FROM events),
    h AS (
      SELECT list_sum([(strpos('0123456789abcdef', substr(h8, i, 1)) - 1)
                       * power(16, 8 - i)
                       FOR i IN generate_series(1, 8)]) / 4294967296.0 AS hv
      FROM h0),
    r AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h),
    agg AS (SELECT count(*) AS n_exact_kept, max(hv) AS kth FROM r WHERE rn <= {k})
    SELECT CAST(n_exact_kept AS BIGINT) AS n_exact_kept,
           round(kth, 10) AS kth_min,
           round(CASE WHEN n_exact_kept >= {k} THEN {k - 1}.0 / kth
                      ELSE CAST(n_exact_kept AS DOUBLE) END, 4) AS est_distinct
    FROM agg
    """


@query("agg_kmv_merged", _kmv_merged_oracle())
def agg_kmv_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sketch MERGEABILITY under the gate: per-event-type KMV states are
    # merged into one global distinct-users estimate, and the oracle
    # computes the global sketch directly from raw data -- the two must
    # match bit-for-bit (the partial-aggregate property that lets sketches
    # roll up map-side at 100 TB).
    from kcl_akka_stream_spark.operators.sketches import kmv_merge_estimate, kmv_sketch

    states = kmv_sketch(tbl(spark, sf_dir, "events"), "event_type", "user_id", k=64)
    return kmv_merge_estimate(states, k=64)


# ---------------------------------------------------------------------------
# Quality-filter family (Gopher/C4 rules) + corpus boilerplate removal
# ---------------------------------------------------------------------------
from kcl_akka_stream_spark.operators import quality as Q  # noqa: E402


def _quality_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t FROM documents),
    base AS (
      SELECT doc_id, CAST(len(t) AS INT) AS n_words,
             round(CAST(list_sum([len(x) FOR x IN t]) AS DOUBLE)
                   / greatest(len(t), 1), 4) AS mean_word_len,
             round(CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
                        AS DOUBLE) / greatest(len(t), 1), 6) AS frac_alpha_words
      FROM toks),
    bg AS (
      SELECT doc_id, unnest(
        CASE WHEN len(t) >= 2
             THEN [array_to_string(list_slice(t, i, i + 1), ' ')
                   FOR i IN generate_series(1, len(t) - 1)]
             ELSE [] END) AS g
      FROM toks),
    bgtop AS (
      SELECT doc_id, max(c) AS top_cnt
      FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g)
      GROUP BY doc_id),
    tg AS (
      SELECT doc_id, unnest(
        CASE WHEN len(t) >= 3
             THEN [array_to_string(list_slice(t, i, i + 2), ' ')
                   FOR i IN generate_series(1, len(t) - 2)]
             ELSE [] END) AS g
      FROM toks),
    tgc AS (
      SELECT doc_id, count(*) AS n_tg, count(DISTINCT g) AS n_tg_distinct
      FROM tg GROUP BY doc_id),
    sel AS (
      SELECT b.doc_id, n_words, mean_word_len, frac_alpha_words,
             round(least(CAST(1.0 AS DOUBLE),
                         2.0 * CAST(coalesce(top_cnt, 0) AS DOUBLE)
                         / greatest(n_words, 1)), 6) AS top_bigram_frac,
             round(CAST(coalesce(n_tg, 0) - coalesce(n_tg_distinct, 0) AS DOUBLE)
                   / greatest(coalesce(n_tg, 0), 1), 6) AS dup_trigram_frac
      FROM base b LEFT JOIN bgtop USING (doc_id) LEFT JOIN tgc USING (doc_id))
    SELECT doc_id, n_words, mean_word_len, frac_alpha_words,
           top_bigram_frac, dup_trigram_frac,
           CAST(n_words BETWEEN {Q.MIN_WORDS} AND {Q.MAX_WORDS}
                AND mean_word_len BETWEEN {Q.MIN_MEAN_WORD_LEN} AND {Q.MAX_MEAN_WORD_LEN}
                AND frac_alpha_words >= {Q.MIN_ALPHA_FRAC}
                AND top_bigram_frac <= {Q.MAX_TOP_BIGRAM_FRAC}
                AND dup_trigram_frac <= {Q.MAX_DUP_TRIGRAM_FRAC} AS INT) AS gopher_pass
    FROM sel
    """


@query("text_quality_flags", _quality_oracle())
def text_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher/C4 quality gate (operators/quality.py): structural metrics are
    # map-only; repetition metrics are the standard explode + combinable
    # two-stage agg.  Thresholds split the fixture corpus into genuine
    # pass AND fail populations at every SF.
    return Q.gopher_quality_flags(tbl(spark, sf_dir, "documents"))


def _segdedup_oracle(seg: int = 3, max_df: int = 2) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t FROM documents),
    seg0 AS (
      SELECT doc_id,
             CASE WHEN len(t) > 0 THEN
               [{{'pos': i - 1,
                  'seg': array_to_string(
                      list_slice(t, (i - 1) * {seg} + 1, (i - 1) * {seg} + {seg}), ' ')}}
                FOR i IN generate_series(1, CAST(ceil(len(t) / {seg}.0) AS BIGINT))]
             ELSE [] END AS ss
      FROM toks),
    segs AS (
      SELECT doc_id, s.pos AS pos, s.seg AS seg
      FROM (SELECT doc_id, unnest(ss) AS s FROM seg0)),
    dfc AS (SELECT seg, count(DISTINCT doc_id) AS dfreq FROM segs GROUP BY seg)
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN dfreq <= {max_df} THEN seg END,
                               ' ' ORDER BY pos), '') AS clean_text,
           count(*) AS n_seg_total,
           CAST(sum(CASE WHEN dfreq <= {max_df} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_seg_kept
    FROM segs JOIN dfc USING (seg)
    GROUP BY doc_id
    """


@query("dedup_boilerplate_segments", _segdedup_oracle())
def dedup_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4-style corpus-wide line dedup (operators/corpus.py::dedup_segments):
    # 3-token segments stand in for lines (fixture text is single-line);
    # segments appearing in more than 2 documents are boilerplate and are
    # removed; surviving text reassembled in original order.
    return C.dedup_segments(
        tbl(spark, sf_dir, "documents"), seg_tokens=3, max_doc_freq=2
    )


def _cms_oracle(depth: int = 4, width: int = 64, threshold: int = 120) -> str:
    h = (
        "CAST(list_sum([(strpos('0123456789abcdef', "
        "substr(md5(CAST({r} AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), i, 1)) - 1)"
        " * power(16, 8 - i) FOR i IN generate_series(1, 8)]) AS BIGINT)"
        f" % {width}"
    )
    rows = ",".join(str(d) for d in range(depth))
    return f"""
    WITH d AS (SELECT unnest([{rows}]) AS row),
    state AS (
      SELECT row, bucket, count(*) AS cnt
      FROM (SELECT row, {h.format(r='row')} AS bucket FROM events, d)
      GROUP BY row, bucket),
    probes AS (
      SELECT DISTINCT user_id, row, {h.format(r='row')} AS bucket FROM events, d),
    est AS (
      SELECT user_id, min(coalesce(cnt, 0)) AS cms_count
      FROM probes LEFT JOIN state USING (row, bucket) GROUP BY user_id),
    ex AS (SELECT user_id, count(*) AS exact_count FROM events GROUP BY user_id)
    SELECT user_id, CAST(cms_count AS BIGINT) AS cms_count,
           CAST(exact_count AS BIGINT) AS exact_count,
           CAST(cms_count - exact_count AS BIGINT) AS overcount
    FROM est JOIN ex USING (user_id)
    WHERE cms_count >= {threshold}
    """


@query("agg_cms_heavy_hitters", _cms_oracle())
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Count-Min heavy hitters (operators/sketches.py): 4x64 md5-seeded
    # counter sketch over events.user_id; keys whose one-sided estimate
    # clears the threshold are reported with the exact count alongside,
    # so the gate verifies the ESTIMATOR (including its collisions)
    # digit-by-digit, not just row counts.  State is depth*width rows,
    # broadcast at probe time; nothing key-cardinality-sized shuffles
    # twice.
    from kcl_akka_stream_spark.operators.sketches import cms_state

    ev = tbl(spark, sf_dir, "events")
    state = cms_state(ev, "user_id", depth=4, width=64)
    return _cms_heavy_hitters(ev, state)


def _cms_estimates(ev: DataFrame, state: DataFrame) -> DataFrame:
    """The 4x64 Count-Min ``state``'s ``cms_count`` of every user in ``ev``."""
    from kcl_akka_stream_spark.operators.sketches import cms_estimate

    keys = ev.select("user_id").distinct()
    return cms_estimate(state, keys, "user_id", depth=4, width=64)


def _cms_heavy_hitters(ev: DataFrame, state: DataFrame) -> DataFrame:
    """Users whose ``state`` estimate reaches 120, beside their exact count."""
    est = _cms_estimates(ev, state)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        est.join(exact, "user_id")
        .filter(F.col("cms_count") >= 120)
        .select(
            "user_id",
            F.col("cms_count").cast("long").alias("cms_count"),
            F.col("exact_count").cast("long").alias("exact_count"),
            (F.col("cms_count") - F.col("exact_count")).cast("long").alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# Sampling / rebalancing family
# ---------------------------------------------------------------------------
from kcl_akka_stream_spark.operators import sampling as SA  # noqa: E402


@query(
    "sample_per_stratum",
    """
    SELECT doc_id, lang, sample_rank FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('k7|' || CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
      FROM documents)
    WHERE sample_rank <= 10
    """,
)
def sample_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic uniform 10-sample per language stratum
    # (operators/sampling.py): hash order is a uniform permutation, so
    # "first 10 by seeded md5" is a reproducible uniform sample -- the
    # eval-carve-out / inspection-panel shape.
    return SA.stratified_topk_sample(
        tbl(spark, sf_dir, "documents"), stratum_col="lang", k=10
    )


#: Target language mix for the rebalance query: en thinned hard, zh
#: thinned moderately, the rest capped at keep-everything.
REBALANCE_WEIGHTS = {"en": 0.25, "de": 0.2, "fr": 0.25, "es": 0.2, "zh": 0.1}


def _rebalance_oracle() -> str:
    vals = ", ".join(f"('{s}', {w})" for s, w in sorted(REBALANCE_WEIGHTS.items()))
    frac = (
        "list_sum([(strpos('0123456789abcdef', "
        "substr(md5('r11|' || CAST(doc_id AS VARCHAR)), i, 1)) - 1) "
        "* power(16, 8 - i) FOR i IN generate_series(1, 8)]) / 4294967296.0"
    )
    return f"""
    WITH c AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang),
    t AS (SELECT sum(n_before) AS n_total FROM c),
    w(lang, target_w) AS (VALUES {vals}),
    r AS (
      SELECT c.lang, n_before,
             least(CAST(1.0 AS DOUBLE),
                   coalesce(CAST(target_w AS DOUBLE), 0.0)
                   * CAST(n_total AS DOUBLE) / n_before) AS rate
      FROM c CROSS JOIN t LEFT JOIN w ON w.lang = c.lang),
    kept AS (
      SELECT d.lang, count(*) AS n_after
      FROM documents d JOIN r ON r.lang = d.lang
      WHERE {frac} < rate
      GROUP BY d.lang)
    SELECT r.lang, CAST(n_before AS BIGINT) AS n_before,
           round(rate, 6) AS rate,
           CAST(coalesce(n_after, 0) AS BIGINT) AS n_after
    FROM r LEFT JOIN kept ON kept.lang = r.lang
    """


@query(
    "pipeline_source_cap",
    """
    SELECT doc_id, source, CAST(source_rank AS INTEGER) AS source_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('cap7|' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS source_rank
      FROM documents)
    WHERE source_rank <= 10
    """,
)
def pipeline_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-source (per-domain) document cap -- C4/RefinedWeb-style quota:
    # each source keeps at most 10 docs, chosen by a deterministic md5
    # rank so the oracle reproduces the exact kept set.  One window
    # shuffle keyed by source.
    return C.source_cap(
        tbl(spark, sf_dir, "documents"), max_per_source=10
    ).select("doc_id", "source", "source_rank")


@query("pipeline_rebalance_langs", _rebalance_oracle())
def pipeline_rebalance_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distribution rebalancing (operators/sampling.py): thin each language
    # toward the target mix with a deterministic md5-fraction gate;
    # rate_s = min(1, w_s * N / n_s).  The gate verifies the rate math AND
    # the exact set of surviving rows (n_after) digit-by-digit.
    return SA.rebalance_summary(
        tbl(spark, sf_dir, "documents"), REBALANCE_WEIGHTS, stratum_col="lang"
    )


# ---------------------------------------------------------------------------
# Clustering family (Lloyd's k-means over embeddings)
# ---------------------------------------------------------------------------
from kcl_akka_stream_spark.operators import clustering as CL  # noqa: E402

_D2 = (
    "list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i])"
    " FOR i IN generate_series(1, len({a}))])"
)


def _kmeans_assign_oracle(k: int = 8) -> str:
    d2 = _D2.format(a="v_vec", b="c_vec")
    return f"""
    WITH c AS (
      SELECT vec_id AS cluster_id, CAST(embedding AS DOUBLE[]) AS c_vec
      FROM embeddings WHERE vec_id < {k}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v_vec FROM embeddings),
    scored AS (
      SELECT vec_id, cluster_id, {d2} AS d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY {d2}, cluster_id) AS rn
      FROM v CROSS JOIN c)
    SELECT vec_id, cluster_id, round(d2, 6) AS dist2
    FROM scored WHERE rn = 1
    """


def _kmeans_seeds(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The embeddings and the k-means seeds: the 8 lowest-id vectors as
    (cluster_id, centroid)."""
    emb = tbl(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("long").alias("cluster_id"),
        F.col("embedding").alias("centroid"),
    )
    return emb, centroids


@query("cluster_kmeans_assign", _kmeans_assign_oracle())
def cluster_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lloyd assignment step (operators/clustering.py): deterministic
    # centroids (the 8 lowest-id embeddings) broadcast; every vector
    # scored map-side, argmin with id tie-break.  The corpus never
    # shuffles its vectors.
    emb, centroids = _kmeans_seeds(spark, sf_dir)
    return CL.kmeans_assign(emb, centroids)


def _kmeans_step_oracle(k: int = 8) -> str:
    d2 = _D2.format(a="v_vec", b="c_vec")
    return f"""
    WITH c AS (
      SELECT vec_id AS cluster_id, CAST(embedding AS DOUBLE[]) AS c_vec
      FROM embeddings WHERE vec_id < {k}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v_vec FROM embeddings),
    scored AS (
      SELECT vec_id, cluster_id, {d2} AS d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY {d2}, cluster_id) AS rn
      FROM v CROSS JOIN c),
    assign AS (SELECT vec_id, cluster_id FROM scored WHERE rn = 1),
    dims0 AS (
      SELECT a.cluster_id,
             [{{'dim': i, 'val': v_vec[i]}}
              FOR i IN generate_series(1, len(v_vec))] AS dv
      FROM assign a JOIN v USING (vec_id)),
    dims AS (
      SELECT cluster_id, s.dim AS dim, avg(s.val) AS mval
      FROM (SELECT cluster_id, unnest(dv) AS s FROM dims0)
      GROUP BY cluster_id, s.dim)
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_dims,
           round(sum(mval), 6) AS centroid_sum,
           round(sqrt(sum(mval * mval)), 6) AS centroid_norm
    FROM dims GROUP BY cluster_id
    """


@query("cluster_kmeans_step", _kmeans_step_oracle())
def cluster_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One full Lloyd iteration: assign + element-wise-mean centroid
    # update (posexplode -> combinable avg keyed by (cluster, dim)).
    # The gate verifies the recomputed centroids through scalar
    # checksums (sum / L2 norm per centroid) -- engine-portable without
    # hashing float arrays.
    emb, centroids = _kmeans_seeds(spark, sf_dir)
    assignment = CL.kmeans_assign(emb, centroids)
    updated = CL.kmeans_update(emb, assignment, assignment_has_vector=False)
    comps = updated.select(
        "cluster_id", F.explode("centroid").alias("mval")
    )
    return comps.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        F.round(F.sum("mval"), 6).alias("centroid_sum"),
        F.round(F.sqrt(F.sum(F.col("mval") * F.col("mval"))), 6).alias("centroid_norm"),
    )


@query(
    "emb_quantize_int8",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    m AS (
      SELECT vec_id, e,
             list_max([abs(x) FOR x IN e]) / 127.0 AS scale,
             sqrt(list_sum([x * x FOR x IN e])) AS nrm
      FROM v)
    SELECT vec_id,
           CAST(len(e) AS INT) AS n_dims,
           round(nrm, 6) AS l2_norm,
           round(scale, 9) AS scale,
           CAST(list_sum([CASE WHEN scale = 0 THEN 0 ELSE round(x / scale) END
                          FOR x IN e]) AS BIGINT) AS q_sum,
           CAST(list_sum([abs(CASE WHEN scale = 0 THEN 0 ELSE round(x / scale) END)
                          FOR x IN e]) AS BIGINT) AS q_l1
    FROM m
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Int8 quantization audit (operators/similarity.py::quantize_int8):
    # per-vector symmetric scale + rounded components, verified through
    # scalar checksums (sum / L1 of the quantized vector, L2 norm of the
    # original).  Map-only compression step for embedding storage.
    from kcl_akka_stream_spark.operators.similarity import quantize_int8

    return quantize_int8(tbl(spark, sf_dir, "embeddings"))


def _export_manifest_oracle(budget: int = 256) -> str:
    return f"""
    WITH qual AS (SELECT doc_id FROM ({_quality_oracle()}) WHERE gopher_pass = 1),
    keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    surv AS (
      SELECT d.doc_id, d.lang,
             CAST(len(regexp_extract_all(lower(d.text), '{TOK}')) AS BIGINT)
               AS n_tokens
      FROM documents d JOIN qual USING (doc_id) JOIN keep USING (doc_id)),
    p AS (
      SELECT doc_id, lang, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tokens_before
      FROM surv)
    SELECT lang,
           CAST(floor(tokens_before / {budget}.0) AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM p GROUP BY lang, pack_id
    """


@query("pipeline_export_manifest", _export_manifest_oracle())
def pipeline_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # End-to-end curation composition: Gopher quality gate -> exact-dedup
    # keepers -> per-language token packing -> per-shard manifest (doc
    # count, token count, id range) -- the summary a trainer's data loader
    # consumes.  Every stage keys on doc_id, so the joins co-partition
    # after the first shuffle; packing is one window per language stratum.
    docs = tbl(spark, sf_dir, "documents")
    passed = Q.gopher_quality_flags(docs).filter(F.col("gopher_pass") == 1).select(
        "doc_id"
    )
    keepers = D.exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    surv = (
        docs.join(passed, "doc_id")
        .join(keepers, "doc_id", "left_semi")
        .select("doc_id", "lang", "text")
    )
    packed = C.pack_token_budget(surv, budget=256)
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query("agg_cms_merged", _cms_oracle())
def agg_cms_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CMS MERGEABILITY under the gate: per-event-type sketch states are
    # merged (counter addition) into one global sketch, probed, and the
    # oracle computes the direct global sketch -- the two must match
    # digit-by-digit (the partial-aggregate closure that lets frequency
    # sketches roll up map-side at 100 TB).  Same oracle as
    # agg_cms_heavy_hitters by construction.
    from kcl_akka_stream_spark.operators.sketches import cms_merge, cms_state

    ev = tbl(spark, sf_dir, "events")
    states = cms_state(ev, "user_id", depth=4, width=64, group_col="event_type")
    return _cms_heavy_hitters(ev, cms_merge(states))


@query(
    "text_langid_confusion",
    f"""
    WITH pred AS (SELECT doc_id, pred_lang FROM ({_langid_oracle()}))
    SELECT d.lang AS true_lang, p.pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY d.lang, p.pred_lang
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Classifier evaluation as a first-class pipeline op: the confusion
    # matrix of the n-gram language-ID heuristic against the fixture's
    # ground-truth lang column.  One combinable agg; the prediction is
    # map-only.
    docs = tbl(spark, sf_dir, "documents")
    pred = X.lang_id(docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@query(
    "pipeline_adaptive_length_filter",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(regexp_extract_all(lower(text), '{TOK}')) AS INT) AS n_tokens
      FROM documents),
    r AS (
      SELECT doc_id, lang, n_tokens,
             percent_rank() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS pr
      FROM t)
    SELECT doc_id, lang, n_tokens, round(pr, 6) AS len_pctile
    FROM r WHERE pr >= 0.2
    """,
)
def pipeline_adaptive_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Adaptive (distribution-relative) curation: drop the shortest 20% of
    # documents WITHIN each language, not below a global absolute cut --
    # the rule that survives corpus drift.  percent_rank ties broken on
    # doc_id -> deterministic across engines.  One window shuffle keyed by
    # stratum.
    from pyspark.sql import Window

    docs = tbl(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        F.size(X.tokens(F.col("text"))).alias("n_tokens"),
    )
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    return (
        t.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.2)
        .select(
            "doc_id", "lang", "n_tokens", F.round(F.col("pr"), 6).alias("len_pctile")
        )
    )


def _emb_near_dup_capped_oracle(
    target_block: int = 32, threshold: float = 0.35, cap: int = 200
) -> str:
    # The bucket dims come from the corpus COUNT via the same integer-exact
    # rule as operators/similarity.py::auto_lsh_dims (smallest d in [1,16]
    # with n <= target_block * 2^d) -- no float log2, so both engines
    # derive identical dims from identical data.  The bucket is then the
    # sign-bit integer over the first `dims` coordinates.
    cos = _COS.format(a="a.v", b="b.v")
    return f"""
    WITH params AS (
      SELECT coalesce(
        (SELECT min(g.d) FROM generate_series(1, 16) AS g(d)
         WHERE (SELECT count(*) FROM embeddings) <= {target_block} * 2 ** g.d),
        16) AS dims),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 CAST(list_sum(
                   [CASE WHEN embedding[i] >= 0 THEN 2 ** (i - 1) ELSE 0 END
                    FOR i IN generate_series(1, p.dims)]) AS INT) AS bucket
          FROM embeddings, params p),
    kept AS (
      SELECT bucket FROM e GROUP BY bucket HAVING count(*) BETWEEN 2 AND {cap})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({cos}, 6) AS cos_sim
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    JOIN kept k ON k.bucket = a.bucket
    WHERE round({cos}, 6) >= {threshold}
    """


@query("emb_near_dup_lsh_capped", _emb_near_dup_capped_oracle())
def emb_near_dup_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Guardrailed form of emb_near_dup_lsh: the sign-LSH dims are DERIVED
    # from the corpus count (target block ~32 vectors -- auto_lsh_dims, one
    # cheap count job), so the bucket fan-out grows with the corpus instead
    # of freezing at a constant; blocks over the cap are dropped whole
    # before pair generation (logged, never silent) -- the same
    # deterministic bounded-fan-out discipline as the MinHash hot-bucket
    # cap (SCALE_PROBE.md at `f2504d4`: uncapped 4-dim went 45x wall at 10x
    # data).
    return S.embedding_near_dup_pairs(
        tbl(spark, sf_dir, "embeddings"),
        threshold=0.35,
        target_block_size=32,
        max_block_size=200,
    )


@query(
    "emb_near_dup_block_report",
    """
    WITH params AS (
      SELECT coalesce(
        (SELECT min(g.d) FROM generate_series(1, 16) AS g(d)
         WHERE (SELECT count(*) FROM embeddings) <= 32 * 2 ** g.d), 16) AS dims),
    e AS (SELECT CAST(list_sum(
            [CASE WHEN embedding[i] >= 0 THEN 2 ** (i - 1) ELSE 0 END
             FOR i IN generate_series(1, p.dims)]) AS INT) AS blk
          FROM embeddings, params p),
    s AS (SELECT blk, count(*) AS n FROM e GROUP BY blk)
    SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_vectors,
           CAST((SELECT dims FROM params) AS INT) AS lsh_dims,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(coalesce(sum(CASE WHEN n BETWEEN 2 AND 200 THEN 1 END), 0) AS BIGINT) AS kept_blocks,
           CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 END), 0) AS BIGINT) AS singleton_blocks,
           CAST(coalesce(sum(CASE WHEN n > 200 THEN 1 END), 0) AS BIGINT) AS dropped_blocks,
           CAST(coalesce(sum(CASE WHEN n > 200 THEN n END), 0) AS BIGINT) AS dropped_vectors,
           CAST(max(n) AS BIGINT) AS max_block_size
    FROM s
    """,
)
def emb_near_dup_block_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Truncation visibility as a first-class, oracle-checked output: the
    # exact blocking the capped near-dup path will use (auto dims from the
    # corpus count, cap 200) summarized as kept / singleton / dropped
    # block counts and dropped-vector volume.  At 100 TB this is the
    # report an operator reads BEFORE trusting a near-dup run -- "the cap
    # silently ate the corpus" becomes a visible number instead of an
    # empty result.
    emb = tbl(spark, sf_dir, "embeddings")
    dims = S.auto_lsh_dims(emb.count(), target_block_size=32)
    sizes = emb.groupBy(
        S.sign_lsh_bucket(F.col("embedding"), dims).alias("blk")
    ).agg(F.count(F.lit(1)).alias("n"))
    kept = F.col("n").between(2, 200)
    return sizes.agg(
        F.sum("n").cast("long").alias("n_vectors"),
        F.lit(dims).cast("int").alias("lsh_dims"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.coalesce(F.sum(F.when(kept, 1)), F.lit(0)).cast("long").alias("kept_blocks"),
        F.coalesce(F.sum(F.when(F.col("n") == 1, 1)), F.lit(0)).cast("long").alias("singleton_blocks"),
        F.coalesce(F.sum(F.when(F.col("n") > 200, 1)), F.lit(0)).cast("long").alias("dropped_blocks"),
        F.coalesce(F.sum(F.when(F.col("n") > 200, F.col("n"))), F.lit(0)).cast("long").alias("dropped_vectors"),
        F.max("n").cast("long").alias("max_block_size"),
    )


@query(
    "pipeline_incremental_dedup",
    """
    WITH existing AS (SELECT md5(text) AS digest FROM documents WHERE doc_id % 2 = 0),
    incoming AS (SELECT doc_id, lang, md5(text) AS digest FROM documents
                 WHERE doc_id % 2 = 1)
    SELECT i.doc_id, i.lang,
           CAST(EXISTS (SELECT 1 FROM existing e WHERE e.digest = i.digest) AS INT)
             AS is_known
    FROM incoming i
    """,
)
def pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental corpus update: an incoming batch checked against the
    # EXISTING corpus's digest set (the daily-ingest shape: history never
    # rescanned, only its digests).  Digest set joins as a broadcast/SMJ
    # on the hash; flag rather than drop so the caller chooses the policy.
    # At 100 TB the existing side is a digest-only table (32 bytes/doc),
    # bucketed by digest for a shuffle-free probe.
    docs = tbl(spark, sf_dir, "documents")
    existing = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    incoming = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", F.md5("text").alias("digest")
    )
    known = existing.withColumn("is_known", F.lit(1))
    return (
        incoming.join(F.broadcast(known), "digest", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("is_known"), F.lit(0)).cast("int").alias("is_known"),
        )
    )


@query(
    "diag_key_skew",
    """
    WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
    s AS (SELECT CAST(sum(n) AS DOUBLE) AS total, CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(max(n) AS BIGINT) AS max_n FROM c),
    top AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT 5)
    SELECT t.user_id AS hot_key, CAST(t.n AS BIGINT) AS n_rows,
           round(t.n / s.total, 6) AS frac_of_total,
           round(t.n * s.n_keys / s.total, 4) AS skew_vs_mean
    FROM top t CROSS JOIN s
    """,
)
def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Partition-skew diagnostics: the top hot keys with their share of
    # the table and their ratio to the mean key size -- the report that
    # decides between broadcast, salting (operators/skew.py) and AQE skew
    # join.  One combinable count agg + a 5-row TakeOrdered; the totals
    # side is a single-row broadcast.
    ev = tbl(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    s = c.agg(
        F.sum("n").cast("double").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    top = c.orderBy(F.desc("n"), "user_id").limit(5)
    return top.crossJoin(F.broadcast(s)).select(
        F.col("user_id").alias("hot_key"),
        F.col("n").cast("long").alias("n_rows"),
        F.round(F.col("n") / F.col("total"), 6).alias("frac_of_total"),
        F.round(F.col("n") * F.col("n_keys") / F.col("total"), 4).alias(
            "skew_vs_mean"
        ),
    )


@query(
    "emb_lang_centroids",
    """
    WITH j AS (
      SELECT d.lang, CAST(e.embedding AS DOUBLE[]) AS v
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
    dims AS (
      SELECT lang, s.dim AS dim, avg(s.val) AS mval
      FROM (SELECT lang,
                   unnest([{'dim': i, 'val': v[i]}
                           FOR i IN generate_series(1, len(v))]) AS s
            FROM j)
      GROUP BY lang, s.dim)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_dims,
           round(sum(mval), 6) AS centroid_sum,
           round(sqrt(sum(mval * mval)), 6) AS centroid_norm
    FROM dims GROUP BY lang
    """,
)
def emb_lang_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-table composition: embeddings joined to their documents'
    # language, then a per-language centroid (the seed for semantic
    # balancing / IVF coarse quantizers).  The dim explode aggregates
    # map-side to langs x dims rows; verified through scalar checksums.
    emb = tbl(spark, sf_dir, "embeddings")
    docs = tbl(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    j = emb.join(F.broadcast(docs), "vec_id").select(
        "lang", F.posexplode("embedding").alias("dim", "val")
    )
    means = j.groupBy("lang", "dim").agg(
        F.avg(F.col("val").cast("double")).alias("mval")
    )
    return means.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        F.round(F.sum("mval"), 6).alias("centroid_sum"),
        F.round(F.sqrt(F.sum(F.col("mval") * F.col("mval"))), 6).alias(
            "centroid_norm"
        ),
    )


@query(
    "sink_partitioned_roundtrip",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
    FROM events WHERE event_type IN ('click', 'view')
    GROUP BY event_type
    """,
)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hive-style partitioned sink + partition-pruned re-read as one gated
    # roundtrip: write events partitioned BY event_type, read back with a
    # partition filter, aggregate.  The re-read scans only the two
    # selected partition directories (partition pruning is plan-asserted
    # in tests/test_partition_pruning.py) -- the layout every downstream
    # consumer of a 100 TB export relies on.
    import shutil
    import tempfile

    ev = tbl(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="kcl_part_sink_")
    try:
        ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
        back = spark.read.parquet(out).filter(
            F.col("event_type").isin("click", "view")
        )
        agg = back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).cast(
                    "double"
                )
                / F.lit(100.0)
            ).alias("sum_value"),
        )
        # materialize before the tmp dir disappears
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "sink_bucketed_join_roundtrip",
    """
    SELECT c.c_mktsegment AS mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS sum_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def sink_bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bucketed sink + shuffle-free co-located join as one gated roundtrip:
    # orders and customer are both written bucketed (and sorted) by the
    # customer key with the same bucket count, then joined back THROUGH
    # the catalog tables -- the join plans with no Exchange on either side
    # (asserted in tests/test_plans.py::test_bucketed_join_is_shuffle_free).
    # At 100 TB this is the difference between shuffling the fact table on
    # every join and never shuffling it at all.
    import shutil
    import tempfile
    import uuid as _uuid

    from kcl_akka_stream_spark.sources.bucketed import (
        assert_cobucketed,
        drop_table,
        write_bucketed,
    )

    tag = _uuid.uuid4().hex[:8]
    base = tempfile.mkdtemp(prefix="kcl_bucketed_")
    t_orders, t_cust = f"b_orders_{tag}", f"b_customer_{tag}"
    try:
        write_bucketed(
            tbl(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
            t_orders, f"{base}/orders", "o_custkey",
        )
        write_bucketed(
            tbl(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            t_cust, f"{base}/customer", "c_custkey",
        )
        assert_cobucketed(spark, t_orders, t_cust)
        joined = spark.table(t_orders).join(
            spark.table(t_cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        agg = joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
                ).cast("double")
                / F.lit(100.0)
            ).alias("sum_totalprice"),
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        drop_table(spark, t_orders)
        drop_table(spark, t_cust)
        shutil.rmtree(base, ignore_errors=True)


@query(
    "pipeline_compact_shards",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(least(64, count(*)) AS BIGINT) AS n_files_small,
           CAST(ceil(count(*) / 300.0) AS BIGINT) AS n_files_compacted
    FROM documents
    """,
)
def pipeline_compact_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Small-files compaction -- the maintenance job every streaming sink
    # needs: a micro-batch writer leaves N tiny files per trigger, and a
    # 100 TB table of 1 MB files destroys scan throughput (per-file open
    # cost, footer reads, scheduler pressure).  Simulate the fragmented
    # state (64 shard files), compact to ceil(rows / rows_per_file)
    # row-bounded files via repartition, and report ACTUAL on-disk file
    # counts -- the oracle recomputes both arithmetically, so a writer
    # that emits empty or extra part files fails the gate.
    import os as _os
    import shutil
    import tempfile

    def _n_part_files(d: str) -> int:
        return sum(
            1 for f in _os.listdir(d) if f.startswith("part-") and f.endswith(".parquet")
        )

    docs = tbl(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="kcl_compact_")
    small, big = f"{base}/small", f"{base}/compacted"
    try:
        # min(64, n_rows) shard files: round-robin writes no part file for
        # an empty partition, so at a fixture smaller than 64 rows a flat
        # repartition(64) would undershoot the hardcoded oracle count
        # (mirrored there as least(64, count(*))).
        n_rows = docs.count()
        docs.repartition(min(64, max(n_rows, 1))).write.mode("overwrite").parquet(small)
        frag = spark.read.parquet(small)
        n_target = -(-n_rows // 300)  # ceil
        frag.repartition(n_target).write.mode("overwrite").parquet(big)
        result = [(n_rows, _n_part_files(small), _n_part_files(big))]
        return spark.createDataFrame(
            result, "n_rows long, n_files_small long, n_files_compacted long"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _simhash_pairs_oracle(max_hamming: int = 3) -> str:
    return f"""
    WITH sh AS ({_simhash_oracle()}),
    banded AS (
      SELECT doc_id, simhash, 0 AS band, simhash & 255 AS bv FROM sh
      UNION ALL
      SELECT doc_id, simhash, 1 AS band, (simhash >> 8) & 255 AS bv FROM sh),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
    FROM pairs WHERE hamming <= {max_hamming}
    """


@query("dedup_simhash_pairs", _simhash_pairs_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SimHash banded near-dup pairs (operators/dedup.py): two 8-bit bands
    # bucket the candidates, exact hamming (bit_count of xor) verifies --
    # completing the simhash family from fingerprint to usable pairs.
    return D.simhash_near_dup_pairs(
        tbl(spark, sf_dir, "documents"), max_hamming=3
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@query(
    "udf_pandas_vowel_density",
    """
    SELECT doc_id,
           CAST(len(text) AS INT) AS n_chars,
           round(CAST(len(regexp_extract_all(lower(text), '[aeiou]')) AS DOUBLE)
                 / greatest(len(text), 1), 6) AS vowel_density
    FROM documents
    """,
)
def udf_pandas_vowel_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The Arrow SCALAR-UDF seam, gated: a @pandas_udf receives columnar
    # batches (zero-copy Arrow, vectorized pandas str ops) -- the path
    # for per-row logic Spark can't express (external scorers,
    # tokenizers).  Deliberately computes a regexp-expressible feature so
    # the oracle verifies the plumbing end-to-end.  In production prefer
    # the built-in (whole-stage codegen); this entry documents the
    # escape hatch and its batch shape.
    from kcl_akka_stream_spark.functions.pandas_udfs import vowel_density
    from kcl_akka_stream_spark.plans.hygiene import spread

    docs = spread(tbl(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        vowel_density(F.col("text")).alias("vowel_density"),
    )


@query(
    "dedup_containment_pairs",
    f"""
    WITH {_SH_CTE},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6)
             AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6) >= 0.5
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ASYMMETRIC near-dup: shingle containment |A∩B| / min(|A|,|B|)
    # catches quotes and supersets that Jaccard misses (a doc fully
    # embedded in a longer one has low Jaccard but containment 1.0).
    # Same zero-join shingle-group plan as ngram_jaccard_pairs, different
    # normalizer.
    return D.ngram_jaccard_pairs(
        tbl(spark, sf_dir, "documents"), k=3, threshold=0.5, containment=True
    )


@query(
    "text_winnow_pairs",
    f"""
    WITH codes AS (
      SELECT doc_id,
             [list_reduce(list_prepend(CAST(0 AS BIGINT),
                  [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                   FOR c IN string_split(substr(md5(x), 1, 8), '')]),
                  (acc, v) -> acc * 16 + v)
              FOR x IN regexp_extract_all(lower(text), '{TOK}')] AS cs
      FROM documents),
    fp AS (
      SELECT doc_id,
             list_min([list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_slice(cs, i, i + 3)),
                           (acc, t) -> (acc * 257 + t) % 2147483647)
                       FOR i IN generate_series(1, greatest(len(cs) - 3, 1))])
               AS winnow_min
      FROM codes WHERE len(cs) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.winnow_min
    FROM fp a JOIN fp b ON a.winnow_min = b.winnow_min AND a.doc_id < b.doc_id
    """,
)
def text_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Winnowing collision pairs: documents sharing their minimum 4-token
    # window hash -- the plagiarism-detection primitive built on
    # text_rolling_fingerprint.  Group-by-fingerprint then in-bucket
    # pairs; never an all-pairs join.
    fp = X.rolling_fingerprint(
        tbl(spark, sf_dir, "documents"), window=4
    ).select("doc_id", "winnow_min")
    a = fp.select(F.col("doc_id").alias("id_a"), "winnow_min")
    b = fp.select(F.col("doc_id").alias("id_b"), "winnow_min")
    return (
        a.join(b, "winnow_min")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "winnow_min")
    )


def _kmv_error_oracle(k: int = 64) -> str:
    return f"""
    WITH est AS ({_kmv_oracle(k)}),
    ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
           FROM events GROUP BY event_type)
    SELECT est.event_type, est.est_distinct, ex.exact_distinct,
           round(abs(est.est_distinct - ex.exact_distinct)
                 / greatest(ex.exact_distinct, 1), 6) AS rel_error
    FROM est JOIN ex USING (event_type)
    """


@query("agg_kmv_error_report", _kmv_error_oracle())
def agg_kmv_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Close the sketch loop: the KMV estimate NEXT TO the exact distinct
    # count with its relative error -- the accuracy audit a user runs
    # before trusting a sketch at 100 TB (where the exact side of this
    # query is the thing they can no longer afford).
    from kcl_akka_stream_spark.operators.sketches import kmv_distinct

    ev = tbl(spark, sf_dir, "events")
    est = kmv_distinct(ev, "event_type", "user_id", k=64).select(
        "event_type", "est_distinct"
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "est_distinct",
        "exact_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.greatest(F.col("exact_distinct"), F.lit(1)),
            6,
        ).alias("rel_error"),
    )


def _hist_median_oracle(width: float = 10.0, n_bins: int = 50) -> str:
    return f"""
    WITH b AS (
      SELECT event_type,
             least(CAST(floor(value / {width}) AS BIGINT), {n_bins - 1}) AS bin,
             count(*) AS cnt
      FROM events GROUP BY event_type, bin),
    c AS (
      SELECT event_type, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM b),
    m AS (
      SELECT event_type, bin, cnt, cum, n,
             row_number() OVER (PARTITION BY event_type ORDER BY bin) AS rk
      FROM c WHERE cum >= n * 0.5)
    SELECT event_type, CAST(n AS BIGINT) AS n_rows,
           round(bin * {width}
                 + (n * 0.5 - (cum - cnt)) / cnt * {width}, 6) AS est_median
    FROM m WHERE rk = 1
    """


@query("agg_hist_median", _hist_median_oracle())
def agg_hist_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mergeable approximate median: a 50-bin equi-width histogram (bin
    # counts are additive -> a valid partial aggregate, the same closure
    # property as the KMV/CMS sketches) with linear interpolation inside
    # the median bin.  At 100 TB this replaces the exact sort-based
    # median with one combinable agg + a bins-sized window.
    width, n_bins = 10.0, 50
    ev = tbl(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type",
        F.least(
            F.floor(F.col("value") / width).cast("long"), F.lit(n_bins - 1)
        ).alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return _hist_median_finalize(b, width)


def _hist_median_finalize(b: DataFrame, width: float) -> DataFrame:
    """Median-bin pick plus linear interpolation over per-(event_type,
    bin) counts ``cnt`` of a ``width``-wide equi-width histogram.  Shared
    by ``agg_hist_median`` and its streaming twin."""
    wc = Window.partitionBy("event_type").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("event_type")
    c = b.select(
        "event_type",
        "bin",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wt).alias("n"),
    ).filter(F.col("cum") >= F.col("n") * 0.5)
    rk = Window.partitionBy("event_type").orderBy("bin")
    return (
        c.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_rows"),
            F.round(
                F.col("bin") * width
                + (F.col("n") * 0.5 - (F.col("cum") - F.col("cnt")))
                / F.col("cnt")
                * width,
                6,
            ).alias("est_median"),
        )
    )


def _dedup_savings_oracle() -> str:
    return f"""
    WITH clusters AS ({_clusters_oracle()})
    SELECT c.cluster_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(d.doc_id) AS keeper_id,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
           CAST(sum(d.n_chars) - min_by(d.n_chars, d.doc_id) AS BIGINT)
             AS chars_saved
    FROM clusters c JOIN documents d USING (doc_id)
    GROUP BY c.cluster_id
    HAVING count(*) > 1
    """


def _near_dup_clusters(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The documents and their (doc_id, cluster_id) near-dup clusters:
    connected components of the 8-hash/4-band minhash LSH candidates."""
    docs = tbl(spark, sf_dir, "documents")
    buckets = D.minhash_lsh_buckets(docs, num_hashes=8, bands=4, k=3)
    pairs = D.minhash_candidate_pairs(buckets)
    # Plain min-label CC, not pointer jumping: LSH dup clusters are
    # shallow near-cliques, so the jump's extra label-of-label self-join
    # per round costs more than the rounds it saves (ABBA at sf0.1:
    # 3.73 -> 3.15 s; identical labels, collect-compared).
    clusters = D.connected_components(pairs, docs.select("doc_id"))
    return docs, clusters


@query("dedup_savings_report", _dedup_savings_oracle())
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The number a curation run reports up: per near-dup cluster (minhash
    # candidates -> connected components), the keeper and the bytes that
    # dropping the rest saves.  Cluster assignment is the iterative
    # min-label propagation; the savings agg is one combinable groupBy.
    docs, clusters = _near_dup_clusters(spark, sf_dir)
    return (
        clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            (F.sum("n_chars") - F.min_by("n_chars", "doc_id"))
            .cast("long")
            .alias("chars_saved"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "pipeline_tfidf_topk",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOK}')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term),
    dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS dfreq FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.dfreq,
             tf.tf * CAST(round(ln(CAST(n.n_docs AS DOUBLE) / dfreq.dfreq)
                                * 1000000) AS BIGINT) AS score_micro
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY score_micro DESC, term) AS rk
      FROM scored)
    SELECT doc_id, term, tf, dfreq,
           CAST(score_micro AS DOUBLE) / 1000000.0 AS tfidf
    FROM ranked WHERE rk <= 5
    """,
)
def pipeline_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-document keyword extraction: top-5 terms by TF-IDF.  The
    # ranking weight is frozen to integer micro-units before the
    # tf-multiply (see operators/text.py::tfidf_topk) so a sub-ulp ln()
    # difference between DuckDB's libm and the JVM cannot flip a rank.
    # Two data-sized exchanges -- (doc,term) count and the per-doc top-k
    # window; the vocab-sized document-frequency table is broadcast back
    # instead of re-shuffling tf on term (2.8x -> 1.2x wall at 10x data,
    # SCALE_PROBE.md), and the corpus size N is a single-row broadcast.
    docs = tbl(spark, sf_dir, "documents")
    return X.tfidf_topk(docs, k=5)


from kcl_akka_stream_spark.operators import layout as LO  # noqa: E402

_Z_BITS = 8  # per-dimension resolution; 2 dims -> 16-bit z-values


def _zorder_oracle() -> str:
    z = LO.sql_interleave_bits(["sck", "sdy"], _Z_BITS)
    top = (1 << _Z_BITS) - 1
    return f"""
    WITH o AS (
      SELECT o_custkey AS ck,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dy
      FROM orders),
    mm AS (
      SELECT min(ck) AS ck_lo, max(ck) AS ck_hi,
             min(dy) AS dy_lo, max(dy) AS dy_hi
      FROM o),
    scaled AS (
      SELECT CASE WHEN ck_hi > ck_lo
                  THEN ((ck - ck_lo) * {top}) // (ck_hi - ck_lo) ELSE 0 END AS sck,
             CASE WHEN dy_hi > dy_lo
                  THEN ((dy - dy_lo) * {top}) // (dy_hi - dy_lo) ELSE 0 END AS sdy
      FROM o CROSS JOIN mm),
    z AS (SELECT sck, sdy, {z} AS zval FROM scaled)
    SELECT zval >> 12 AS zbucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN sck < 64 AND sdy < 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rect
    FROM z GROUP BY zval >> 12
    """


def _scaled_order_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders as (sck, sdy): custkey and order-day each scaled to
    ``_Z_BITS`` bits with exact integer min-max math."""
    o = tbl(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("dy"),
    )
    mm = o.agg(
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("dy").alias("dy_lo"),
        F.max("dy").alias("dy_hi"),
    )
    return o.crossJoin(F.broadcast(mm)).select(
        LO.scale_to_bits(
            F.col("ck"), F.col("ck_lo"), F.col("ck_hi"), _Z_BITS
        ).alias("sck"),
        LO.scale_to_bits(
            F.col("dy"), F.col("dy_lo"), F.col("dy_hi"), _Z_BITS
        ).alias("sdy"),
    )


@query("sink_zorder_roundtrip", _zorder_oracle())
def sink_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Z-order layout sink as a gated roundtrip: scale (o_custkey,
    # order-day) to 8 bits each with EXACT integer min-max math, Morton-
    # interleave into a 16-bit z-value, write parquet range-partitioned +
    # sorted on it (operators/layout.py::zorder_write), read back, and
    # report per-z-prefix-bucket row counts plus how many rows of a
    # (custkey x date) query rectangle land in each bucket.  The
    # rectangle concentrating into few buckets IS the layout's value:
    # contiguous z-ranges mean parquet min/max stats prune the rest (the
    # locality witness is test_layout.py's distinct-input-file count).
    # The min/max row enters as a single-row broadcast; everything else
    # is map-side until the final 16-group agg.
    import shutil
    import tempfile

    scaled = _scaled_order_grid(spark, sf_dir)
    z = scaled.select(
        "sck",
        "sdy",
        LO.interleave_bits([F.col("sck"), F.col("sdy")], _Z_BITS).alias("zval"),
    )
    out = tempfile.mkdtemp(prefix="kcl_zorder_sink_")
    try:
        LO.zorder_write(z, out, "zval", n_files=8)
        back = spark.read.parquet(out)
        agg = back.groupBy(
            F.shiftright(F.col("zval"), 12).alias("zbucket")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when((F.col("sck") < 64) & (F.col("sdy") < 64), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_rect"),
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "pipeline_snapshot_diff",
    """
    WITH old AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 17 <> 0),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 13 = 0 THEN upper(text) ELSE text END) AS fp
      FROM documents WHERE doc_id % 11 <> 0)
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.fp IS NULL THEN 'added'
                WHEN new.fp IS NULL THEN 'removed'
                WHEN old.fp <> new.fp THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    """,
)
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two simulated snapshots of the documents table (the "old" run is
    # missing every 17th doc, the "new" crawl dropped every 11th and
    # re-extracted every 13th with different casing) reconciled into
    # per-doc added/removed/changed/unchanged statuses.  The join
    # carries only (id, md5) -- never text -- and is ONE full-outer
    # shuffle (shuffle-free on bucketed layouts).
    docs = tbl(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 17 != 0)
    new = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0, F.upper(F.col("text"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return C.snapshot_diff(old, new)


def _edit_verified_oracle(prefix_len: int = 200) -> str:
    mh = _minhash_oracle()
    # DuckDB's levenshtein counts bytes, Spark's counts codepoints --
    # identical on the ASCII fixture (verified: zero non-ASCII chars at
    # every SF); the operator docstring carries the caveat for users.
    return f"""
    WITH cands AS (SELECT * FROM ({mh})),
    p AS (SELECT doc_id, substring(text, 1, {prefix_len}) AS pfx FROM documents),
    d AS (
      SELECT c.id_a, c.id_b,
             CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist,
             CAST(greatest(len(a.pfx), len(b.pfx)) AS BIGINT) AS max_len
      FROM cands c
      JOIN p a ON a.doc_id = c.id_a
      JOIN p b ON b.doc_id = c.id_b)
    SELECT id_a, id_b, edit_dist, max_len
    FROM d WHERE edit_dist * 5 <= max_len
    """


@query("dedup_edit_verified", _edit_verified_oracle())
def dedup_edit_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-stage near-dup with an ORDER-SENSITIVE verifier: LSH candidates
    # -> Levenshtein over 200-char prefixes, keep pairs within 20%
    # relative edit distance (integer-exact: dist*5 <= max_len).  The
    # complement of dedup_minhash_verified -- shingle Jaccard is blind to
    # segment reordering, edit distance is not; the prefix cap bounds the
    # O(n*m) DP per pair, the candidate set bounds the pair count.
    docs = tbl(spark, sf_dir, "documents")
    buckets = D.minhash_lsh_buckets(docs, num_hashes=8, bands=4, k=3)
    cands = D.minhash_candidate_pairs(buckets)
    return D.verify_candidate_edit_distance(docs, cands, prefix_len=200)


@query(
    "agg_approx_quantile_report",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           round(quantile_cont(value, 0.5), 6) AS exact_p50,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def agg_approx_quantile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The percentile_approx acceptance contract: at 100 TB exact
    # quantiles (full sort) are off the table, so the approx sketch must
    # be trusted -- this query VERIFIES the trust per group.  Spark
    # computes the approx p50 (accuracy=1000 -> rank error <= n/1000),
    # then counts how many values fall at or below it and asserts the
    # rank lands inside a generous [49%, 51%] band (integer-exact
    # comparison: cnt*100 vs n*49/51, +-1 row of slack).  The oracle
    # cannot replicate Spark's internal sketch, so it emits the exact
    # median and a literal TRUE -- the hash only matches if every
    # group's within_bound is ALSO true on the Spark side: an
    # out-of-contract sketch turns the gate red.  exact_p50 itself is
    # cross-checked (Spark `percentile` and DuckDB `quantile_cont`
    # share the p*(n-1) linear-interpolation definition).
    ev = tbl(spark, sf_dir, "events").select("event_type", "value")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("exact_p50"),
        F.percentile_approx("value", 0.5, 1000).alias("approx_p50"),
    )
    ranked = (
        ev.join(F.broadcast(agg), "event_type")
        .groupBy("event_type", "n_rows", "exact_p50", "approx_p50")
        .agg(
            F.sum((F.col("value") <= F.col("approx_p50")).cast("long")).alias(
                "cnt_le"
            )
        )
    )
    within = (F.col("cnt_le") * 100 >= F.col("n_rows") * 49 - 100) & (
        F.col("cnt_le") * 100 <= F.col("n_rows") * 51 + 100
    )
    return ranked.select(
        "event_type", "n_rows", "exact_p50", within.alias("within_bound")
    )


@query(
    "pipeline_chunk_docs",
    f"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS toks
      FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n_tok FROM tok WHERE len(toks) > 0),
    idx AS (
      SELECT doc_id, toks, n_tok,
             unnest(range(0,
               CAST(floor((greatest(n_tok - 8, 0) + 3) / 4) AS BIGINT) + 1))
               AS chunk_idx
      FROM n)
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           array_to_string(toks[chunk_idx*4 + 1 : chunk_idx*4 + 8], ' ')
             AS chunk_text,
           CAST(least(8, n_tok - chunk_idx*4) AS BIGINT) AS n_tokens
    FROM idx
    """,
)
def pipeline_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RAG/context-window chunking: overlapping token windows (window 8,
    # stride 4 at gate scale; 128/64 operator defaults), map-only --
    # tokenize once, explode chunk indices, slice.  Zero shuffles; the
    # op scales with scan bandwidth alone.  Tail chunks keep their
    # shorter-than-window token counts; empty docs vanish.
    docs = tbl(spark, sf_dir, "documents")
    return C.chunk_documents(docs, window=8, stride=4)


#: Oracle of the document sink roundtrips: the parquet fixture's
#: per-language fingerprint, which only a lossless roundtrip matches.
_DOC_FINGERPRINT_SQL = """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
    FROM documents GROUP BY lang
    """


@query("sink_jsonl_roundtrip", _DOC_FINGERPRINT_SQL)
def sink_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON-lines export/ingest roundtrip -- the interchange format every
    # LLM corpus pipeline speaks.  Write gzip-compressed JSONL, read it
    # back with an EXPLICIT schema (schema inference = a full extra pass
    # at 100 TB), and fingerprint per language: count, char mass, and
    # distinct md5 of the text AFTER the roundtrip -- any JSON
    # escaping/encoding corruption changes a digest and turns the gate
    # red.  The oracle reads the original parquet, so the comparison IS
    # the fidelity check.
    return _docs_roundtrip(
        spark,
        sf_dir,
        "jsonl",
        lambda docs, out: docs.write.mode("overwrite")
        .option("compression", "gzip")
        .json(out),
        lambda schema, out: spark.read.schema(schema).json(out),
    )


def _docs_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    fmt: str,
    write: Callable[[DataFrame, str], None],
    read: Callable[[StructType, str], DataFrame],
) -> DataFrame:
    """Per language, the count, char mass and distinct text digests of the
    documents after ``write`` to a temp dir and ``read`` back with their
    schema (the ``_DOC_FINGERPRINT_SQL`` columns)."""
    import shutil
    import tempfile

    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    out = tempfile.mkdtemp(prefix=f"kcl_{fmt}_sink_")
    try:
        write(docs, out)
        back = read(docs.schema, out)
        agg = back.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.countDistinct(F.md5("text")).cast("long").alias("n_distinct_texts"),
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _split_80_10_10(salt: str, key: str) -> Column:
    """'train', 'val' or 'test' at 80/10/10 from the first 8 hex digits of
    md5(salt || key), compared in exact integers."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(key).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return (
        F.when(h * 10 < F.lit(4294967296) * 8, "train")
        .when(h * 10 < F.lit(4294967296) * 9, "val")
        .otherwise("test")
    )


@query(
    "pipeline_train_val_split",
    """
    WITH g AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5('split1|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      FROM documents),
    s AS (
      SELECT doc_id, lang,
             CASE WHEN h * 10 < 4294967296 * 8 THEN 'train'
                  WHEN h * 10 < 4294967296 * 9 THEN 'val'
                  ELSE 'test' END AS split
      FROM g)
    SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM s GROUP BY split, lang
    """,
)
def pipeline_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic 80/10/10 train/val/test split: the assignment is a
    # pure function of (seed, doc_id) via an md5-prefix integer, so it
    # is stable across runs, machines, and engines -- re-running the
    # pipeline NEVER migrates a document between splits (the leakage
    # every ML team gets burned by once).  The threshold test is
    # integer-exact (h*10 vs 2^32 * 8/9), map-only; the only shuffle is
    # the audit aggregation itself.
    docs = tbl(spark, sf_dir, "documents")
    split = _split_80_10_10("split1|", "doc_id")
    return (
        docs.select("doc_id", "lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@query(
    "text_oov_report",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOK}')) AS term
      FROM documents),
    vocab AS (
      SELECT term FROM (
        SELECT term, count(*) AS n FROM tok GROUP BY term
        ORDER BY n DESC, term LIMIT 100)),
    flagged AS (
      SELECT t.doc_id, CAST(v.term IS NULL AS BIGINT) AS is_oov
      FROM tok t LEFT JOIN vocab v USING (term)),
    per_doc AS (
      SELECT d.doc_id, d.lang, count(*) AS n_tok, sum(f.is_oov) AS n_oov
      FROM documents d JOIN flagged f USING (doc_id)
      GROUP BY d.doc_id, d.lang)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(n_oov) AS BIGINT) AS oov_tokens,
           round(CAST(sum(n_oov) AS DOUBLE) / sum(n_tok), 6) AS oov_rate,
           CAST(count_if(n_oov * 2 > n_tok) AS BIGINT) AS n_docs_majority_oov
    FROM per_doc GROUP BY lang
    """,
)
def text_oov_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vocabulary-coverage audit: out-of-vocabulary rate against the
    # corpus's own top-100 token vocabulary (deterministic tiebreak on
    # the term), per language -- the metric that tells you whether a
    # tokenizer/vocab fits a corpus slice before burning a training
    # run.  The vocab is TakeOrdered (map-side partial top-k) and
    # broadcast back; the majority-OOV doc counter is integer-exact
    # (n_oov*2 > n_tok).  Plan: tf agg + vocab top-k + per-doc agg --
    # the explode never shuffles raw tokens twice.
    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(X.tokens(F.col("text"))).alias("term")
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(100)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), "term", "left_outer")
    per_doc = flagged.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.col("in_vocab").isNull().cast("long")).alias("n_oov"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum("n_oov").cast("long").alias("oov_tokens"),
        F.round(
            F.sum("n_oov").cast("double") / F.sum("n_tok"), 6
        ).alias("oov_rate"),
        F.count_if(F.col("n_oov") * 2 > F.col("n_tok"))
        .cast("long")
        .alias("n_docs_majority_oov"),
    )


@query(
    "emb_random_projection",
    """
    WITH q AS (
      SELECT vec_id,
             [{'j': i - 1,
               'q': CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                         AS BIGINT)}
              FOR i IN generate_series(1, len(embedding))] AS qv
      FROM embeddings),
    e AS (SELECT vec_id, unnest(qv) AS s FROM q),
    k AS (SELECT unnest(range(0, 4)) AS out_dim),
    m AS (
      SELECT e.vec_id, k.out_dim,
             CASE WHEN CAST(('0x' || substring(
                      md5('jl1|' || CAST(s.j AS VARCHAR) || '|'
                          || CAST(k.out_dim AS VARCHAR)), 1, 1)) AS BIGINT)
                    % 2 = 1
                  THEN s.q ELSE -s.q END AS term
      FROM e CROSS JOIN k)
    SELECT vec_id, CAST(out_dim AS BIGINT) AS out_dim,
           CAST(sum(term) AS BIGINT) AS proj_micro
    FROM m GROUP BY vec_id, out_dim
    """,
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic sign-projection dim reduction (64 -> 4 at gate
    # scale): ONE Arrow mapInPandas pass doing an int64 matmul against
    # the md5-seeded +-1 matrix -- integer math is partial-sum-order
    # independent, so the Spark kernel and the oracle's unnest+join
    # reduction agree bit-for-bit (a float matmul could not be gated
    # this way).  Map-only: no shuffle; the few-KB sign matrix is
    # closure-shipped.
    emb = tbl(spark, sf_dir, "embeddings")
    return S.random_sign_projection(emb, out_dims=4)


# ---------------------------------------------------------------------------
# Round-6 fifth wave: unigram-LM fluency scoring, BPE training statistics,
# and PageRank -- the remaining LLM-pipeline primitives.
# ---------------------------------------------------------------------------


@query(
    "text_unigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOK}')) AS term
      FROM documents),
    vocab AS (SELECT term, count(*) AS n_t FROM toks GROUP BY term),
    tot AS (SELECT count(*) AS n_total FROM toks),
    lp AS (
      SELECT doc_id,
             CAST(round(ln(CAST(n_t AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1e6,
                        0) AS BIGINT) AS lp
      FROM toks JOIN vocab USING (term), tot)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST((-sum(lp)) // count(*) AS BIGINT) AS avg_nll_micro
    FROM lp GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # KenLM-style fluency gate, distributable core: fit a unigram LM on
    # the corpus in-pass, score each doc by average negative log prob in
    # integer micro-nats (operators/text.py::unigram_logprob).  The
    # per-token ln is frozen to micro-units BEFORE the per-doc sum, so
    # cross-engine hashing is exact.
    return X.unigram_logprob(tbl(spark, sf_dir, "documents"))


@query(
    "pipeline_bpe_top_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '{TOK}')) AS tok,
             unnest(generate_series(1, len(regexp_extract_all(lower(text),
                                                              '{TOK}')))) AS i
      FROM documents),
    p AS (
      SELECT tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY i)
               AS pair
      FROM toks)
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM p WHERE pair IS NOT NULL
    GROUP BY pair ORDER BY n DESC, pair LIMIT 20
    """,
)
def pipeline_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The BPE tokenizer-training statistics step (Sennrich 2016): corpus
    # adjacent-pair frequencies, top-20 with ties on the pair.  The
    # Spark form zips each token array with its own tail (one pass, no
    # posexplode self-join); one combinable count shuffle + TakeOrdered
    # head.  The merge-APPLY step is greedy-sequential and lives in
    # operators/tokenizer.py::bpe_merge_step (property-tested against a
    # python replication; no relational form exists for the oracle).
    from kcl_akka_stream_spark.operators.tokenizer import pair_counts

    return pair_counts(tbl(spark, sf_dir, "documents"), k=20)


# Long node-id encoding for the co-purchase graph queries: customer
# custkey stays as-is, supplier suppkey is offset by 2^40 (far above any
# realistic custkey).  Injective, so the iteration results are the same
# graph quantities the string-keyed oracle computes; decode happens once
# on the node-sized final ranks.
_GRAPH_OFF = 1 << 40


def _graph_decode(col: str):
    c = F.col(col)
    return F.when(
        c < _GRAPH_OFF, F.concat(F.lit("c"), c.cast("string"))
    ).otherwise(F.concat(F.lit("s"), (c - _GRAPH_OFF).cast("string")))


def _co_purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer-supplier co-purchase graph as long-encoded (src, dst, w)
    edges in both directions, ``w`` the lineitem count of the pair."""
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + _GRAPH_OFF).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    return p.unionByName(
        p.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )


@query(
    "graph_pagerank_topk",
    """
    WITH p AS (
      SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
             's' || CAST(l_suppkey AS VARCHAR) AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2),
    e AS (SELECT src, dst, w FROM p
          UNION ALL SELECT dst AS src, src AS dst, w FROM p),
    deg AS (SELECT src, sum(w) AS deg FROM e GROUP BY src),
    r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
    i1 AS (SELECT e.dst AS node,
                  150000 + (85 * sum((r.r * e.w) // d.deg)) // 100 AS r
           FROM e JOIN deg d ON d.src = e.src JOIN r0 r ON r.node = e.src
           GROUP BY e.dst),
    i2 AS (SELECT e.dst AS node,
                  150000 + (85 * sum((r.r * e.w) // d.deg)) // 100 AS r
           FROM e JOIN deg d ON d.src = e.src JOIN i1 r ON r.node = e.src
           GROUP BY e.dst),
    i3 AS (SELECT e.dst AS node,
                  150000 + (85 * sum((r.r * e.w) // d.deg)) // 100 AS r
           FROM e JOIN deg d ON d.src = e.src JOIN i2 r ON r.node = e.src
           GROUP BY e.dst)
    SELECT node, CAST(r AS BIGINT) AS rank_micro
    FROM i3 ORDER BY r DESC, node LIMIT 20
    """,
)
def graph_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Damped PageRank (3 iterations, integer micro-unit arithmetic) over
    # the customer<->supplier co-purchase graph, symmetrized so every
    # node has out-edges (operators/graph.py docstring).  The edge base
    # is checkpointed once; ranks stay node-sized; the oracle unrolls
    # the same three iterations in SQL and matches bit-for-bit because
    # every step is integer math.  Top-20 by rank, ties on node.
    #
    # Node ids run through the iterations as LONGS (customer = custkey,
    # supplier = suppkey + 2^40) and decode to the oracle's 'c..'/'s..'
    # strings only at the final top-20: the checkpointed edge base and
    # every iteration shuffle then move 8-byte ints instead of strings
    # (~40% of the old steady-state cost was string hashing + payload).
    # Ranks depend only on graph structure, so the injective encoding
    # changes nothing the oracle can see.  broadcast_ranks=True: this
    # graph's node set (customers + suppliers) is orders of magnitude
    # smaller than its edge set at every sf -- flip off only for graphs
    # whose rank table outgrows executor broadcast range.
    from kcl_akka_stream_spark.operators.graph import pagerank

    edges = _co_purchase_edges(spark, sf_dir)
    ranks = pagerank(edges, iterations=3, broadcast_ranks=True)
    return (
        ranks.select(_graph_decode("node").alias("node"), "rank_micro")
        .orderBy(F.col("rank_micro").desc(), "node")
        .limit(20)
    )


@query("sink_csv_roundtrip", _DOC_FINGERPRINT_SQL)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CSV export/ingest roundtrip, twin of sink_jsonl_roundtrip: gzip CSV
    # with header and full quoting/escaping enabled, read back with an
    # EXPLICIT schema (inference = a full extra pass at 100 TB, and it
    # guesses types), fingerprinted per language with post-roundtrip text
    # digests.  CSV is the format where quoting bugs actually corrupt
    # data (embedded delimiters/quotes/newlines); the digest comparison
    # against the parquet-reading oracle IS the fidelity check.
    return _docs_roundtrip(
        spark,
        sf_dir,
        "csv",
        lambda docs, out: docs.write.mode("overwrite")
        .option("compression", "gzip")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        .csv(out),
        lambda schema, out: spark.read.schema(schema)
        .option("header", "true")
        .option("escape", '"')
        # without multiLine a quoted value containing a newline is
        # torn into two records on re-read (ADVICE r6); the writer
        # quotes all fields, so the reader must parse across lines
        .option("multiLine", "true")
        .csv(out),
    )


def _leakage_split_oracle() -> str:
    mh = _minhash_oracle()
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT * FROM ({mh})
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    clusters AS (
      SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
    g AS (
      SELECT doc_id, cluster_id,
             CAST(('0x' || substring(md5('lsplit1|' || CAST(cluster_id AS VARCHAR)),
                                     1, 8)) AS BIGINT) AS h
      FROM clusters),
    s AS (
      SELECT doc_id, cluster_id,
             CASE WHEN h * 10 < 4294967296 * 8 THEN 'train'
                  WHEN h * 10 < 4294967296 * 9 THEN 'val'
                  ELSE 'test' END AS split
      FROM g)
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
    FROM s GROUP BY split
    """


@query("pipeline_split_leakage_safe", _leakage_split_oracle())
def pipeline_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Leakage-safe train/val/test split: the assignment hashes the
    # near-dup CLUSTER id, not the document id -- so a document and its
    # near-duplicates land in the same split BY CONSTRUCTION (per-doc
    # hashing puts ~19% of each multi-doc duplicate cluster's mass in
    # eval: the contamination the decontaminate query hunts, reintroduced
    # by the splitter itself).  Composition: minhash LSH candidates ->
    # connected components -> md5(cluster_id) against the same
    # integer-exact 80/10/10 thresholds as pipeline_train_val_split.
    # The per-split (n_docs, n_clusters) pair is the audit: n_docs >
    # n_clusters in a split proves multi-doc clusters travel whole.
    _, clusters = _near_dup_clusters(spark, sf_dir)
    split = _split_80_10_10("lsplit1|", "cluster_id")
    return (
        clusters.select("doc_id", "cluster_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        )
    )


@query(
    "sink_pyds_manifest_roundtrip",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS digest_mass
    FROM documents GROUP BY lang
    """,
)
def sink_pyds_manifest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The WRITER half of the Python Data Source seam
    # (sources/python_source.py::_ManifestJsonlWriter): export per-doc
    # digests through the manifest-commit protocol (tasks stage files +
    # commit messages; driver publishes an atomic manifest), read back ONLY
    # manifest-listed files, and fingerprint per language.  The oracle
    # recomputes from the original parquet, so the comparison checks the
    # full write->commit->trusted-read path; digest_mass (sum of 32-bit
    # md5 prefixes) changes if any row is lost, doubled, or corrupted.
    import shutil
    import tempfile

    from kcl_akka_stream_spark.sources.python_source import manifest_files, register

    register(spark)
    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5("text").alias("digest")
    )
    out = tempfile.mkdtemp(prefix="kcl_pyds_sink_")
    try:
        docs.write.format("manifest_jsonl").option("path", out).mode("append").save()
        back = spark.read.schema("doc_id long, lang string, digest string").json(
            manifest_files(spark, out)
        )
        agg = back.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.conv(F.substring("digest", 1, 8), 16, 10).cast("long"))
            .cast("long")
            .alias("digest_mass"),
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "arrow_lang_stats",
    r"""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(max(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS max_tokens
    FROM documents GROUP BY lang
    """,
)
def arrow_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The grouped Arrow seam (operators/arrow_ops.py::lang_stats_arrow):
    # groupBy().applyInArrow with pyarrow C++ kernels reducing each
    # language's zero-copy Table to one row -- completes the Arrow seam
    # family next to mapInArrow (arrow_doc_stats) and the pandas-boxed
    # grouped kernels.
    from kcl_akka_stream_spark.operators.arrow_ops import lang_stats_arrow

    return lang_stats_arrow(tbl(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Round-7 wave: Bloom-pruned incremental dedup + columnar-format roundtrip
# ---------------------------------------------------------------------------

_BLOOM_M, _BLOOM_K = 1024, 3  # gate scale: all three row classes non-vacuous


def _bloom_dedup_oracle() -> str:
    pos = (
        "CAST(('0x' || substring(md5(digest || '|' || CAST(i AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {_BLOOM_M}"
    )
    return f"""
    WITH ks AS (SELECT unnest(range({_BLOOM_K})) AS i),
    existing AS (SELECT DISTINCT md5(text) AS digest FROM documents
                 WHERE doc_id % 3 != 0),
    incoming AS (SELECT doc_id, lang, md5(text) AS digest FROM documents
                 WHERE doc_id % 2 = 1),
    bits AS (SELECT DISTINCT {pos} AS bit FROM existing CROSS JOIN ks),
    ipos AS (SELECT doc_id, lang, digest, {pos} AS pos
             FROM incoming CROSS JOIN ks),
    cand AS (SELECT doc_id, lang, digest,
                    CAST(count(b.bit) = {_BLOOM_K} AS INT) AS bloom_candidate
             FROM ipos LEFT JOIN bits b ON b.bit = ipos.pos
             GROUP BY doc_id, lang, digest)
    SELECT doc_id, lang, bloom_candidate,
           CASE WHEN bloom_candidate = 1
                 AND EXISTS (SELECT 1 FROM existing e WHERE e.digest = c.digest)
                THEN 1 ELSE 0 END AS is_known
    FROM cand c
    """


@query("pipeline_bloom_dedup", _bloom_dedup_oracle())
def pipeline_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bloom-pruned incremental dedup (operators/dedup.py::
    # bloom_prune_known): the 1000x-history daily-ingest shape --
    # history compresses to a bit-position set BOUNDED BY m (not by
    # corpus size), broadcasts map-side, and only Bloom-positive
    # candidates pay the exact digest join.  Result is exact (no false
    # negatives; false positives resolved by the verify join) and the
    # md5 position hash is integer-exact, so the oracle reproduces the
    # filter bit-for-bit -- including which rows are false positives
    # (bloom_candidate=1, is_known=0).  The slices OVERLAP (existing =
    # ids % 3 != 0, incoming = odd ids -- the re-crawl re-ingest shape)
    # because the fixture has no exact text duplicates, and gate m/k are
    # shrunk so all three row classes are non-vacuous at sf0.01
    # (60 pruned / 23 false-positive / 167 known); production default is
    # m=2^20.
    _, flagged = _bloom_flagged(spark, sf_dir)
    return flagged.select("doc_id", "lang", "bloom_candidate", "is_known")


def _bloom_flagged(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The history digests (ids % 3 != 0) and the odd-id incoming docs
    flagged against them by the ``_BLOOM_M``/``_BLOOM_K`` Bloom filter."""
    docs = tbl(spark, sf_dir, "documents")
    existing = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    incoming = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", F.md5("text").alias("digest")
    )
    return existing, D.bloom_prune_known(
        incoming, existing, m_bits=_BLOOM_M, k_hashes=_BLOOM_K
    )


@query("sink_orc_roundtrip", _DOC_FINGERPRINT_SQL)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ORC columnar roundtrip, completing the format matrix next to
    # parquet (fixtures), z-ordered/bucketed/partitioned parquet, gzip
    # JSONL and quoted CSV: write the documents slice as zlib ORC, read
    # it back, fingerprint per language.  The oracle aggregates the
    # PARQUET fixture, so the hash only matches if the ORC roundtrip
    # preserved every row and byte (text digests included) -- format
    # fidelity, not just row counts.
    return _docs_roundtrip(
        spark,
        sf_dir,
        "orc",
        lambda docs, out: docs.write.mode("overwrite")
        .option("compression", "zlib")
        .orc(out),
        lambda schema, out: spark.read.schema(schema).orc(out),
    )


def _ivf_recall_oracle() -> str:
    # Compose the two independently-verified oracles: exact top-5 and the
    # IVF nprobe=1 top-5 as derived tables, count the per-query overlap.
    exact = ORACLES["sim_topk_bruteforce"]
    approx = _ivf_oracle()
    return f"""
    WITH exact AS (SELECT * FROM ({exact})),
    approx AS (SELECT * FROM ({approx}))
    SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.n_id) AS BIGINT) AS n_hits,
           CAST((count(a.n_id) * 100) // count(*) AS BIGINT) AS recall_pct
    FROM exact e LEFT JOIN approx a
      ON a.q_id = e.q_id AND a.n_id = e.n_id
    GROUP BY e.q_id
    """


@query("sim_ivf_recall_report", _ivf_recall_oracle())
def sim_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The ANN acceptance contract, measured IN-QUERY: recall@5 of the
    # IVF nprobe=1 probe against the exact brute-force top-5, per query
    # vector (the twin of agg_approx_quantile_report for the similarity
    # family).  At 100 TB nobody can afford to verify an index by
    # re-running brute force over the corpus -- but a SAMPLED recall
    # report exactly like this (queries = the sample) is how production
    # ANN deployments track index quality, and the oracle replicates
    # both branches so the measurement itself is hash-verified.
    # Integer-exact: hits * 100 / k.  Deterministic: both branches break
    # cosine ties by n_id (the same rule their individual gates verify).
    return _top5_overlap(
        spark,
        sf_dir,
        lambda emb, queries_df: S.ivf_topk(emb, queries_df, k=5, nprobe=1),
    )


def _top5_overlap(
    spark: SparkSession,
    sf_dir: str,
    approx_topk: Callable[[DataFrame, DataFrame], DataFrame],
    pct_col: str = "recall_pct",
) -> DataFrame:
    """Per query vector (the 5 lowest ids): how many of the exact top-5
    ``approx_topk(embeddings, queries)`` finds, and that share in ``pct_col``."""
    emb = tbl(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(emb, queries_df, k=5).select("q_id", "n_id")
    approx = approx_topk(emb, queries_df).select(
        F.col("q_id").alias("a_q"), F.col("n_id").alias("a_n")
    )
    return (
        exact.join(
            approx,
            (F.col("q_id") == F.col("a_q")) & (F.col("n_id") == F.col("a_n")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("a_n").cast("long").alias("n_hits"),
        )
        # Integer division on BOTH engines (Spark `div`, DuckDB `//`) --
        # double-divide-then-cast only agreed because 100 % k == 0:
        # Spark's cast truncates while DuckDB's rounds half-even, so
        # e.g. k=3 with 2 hits would be 66 vs 67.  Counts are positive,
        # so truncating div == flooring div and the match is k-agnostic.
        .select(
            "q_id",
            "n_exact",
            "n_hits",
            F.expr("(n_hits * 100) div n_exact").cast("long").alias(pct_col),
        )
    )


@query(
    "text_bigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t FROM documents),
    pairs AS (
      SELECT doc_id, unnest([{{'a': t[i], 'b': t[i + 1]}}
                             FOR i IN generate_series(1, len(t) - 1)]) AS p
      FROM toks WHERE len(t) >= 2),
    pr AS (SELECT doc_id, p.a AS a, p.b AS b FROM pairs),
    pc AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY a, b),
    cc AS (SELECT a, sum(n_ab) AS n_a FROM pc GROUP BY a),
    lp AS (
      SELECT pr.doc_id,
             CAST(round(ln(CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE)) * 1e6,
                        0) AS BIGINT) AS lp
      FROM pr JOIN pc USING (a, b) JOIN cc USING (a))
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST((-sum(lp)) // count(*) AS BIGINT) AS avg_nll_micro
    FROM lp GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Context-aware fluency gate (operators/text.py::bigram_logprob):
    # corpus-fit MLE bigram conditionals, per-doc average negative
    # log-conditional in integer micro-nats.  The unigram gate's blind
    # spot -- shuffled common words -- scores poorly here; the pair with
    # text_unigram_logprob gives pipelines the cheap two-model contrast
    # (big unigram-vs-bigram gap = locally fluent but incoherent text).
    return X.bigram_logprob(tbl(spark, sf_dir, "documents"))


def _kmv_set_ops_oracle(k: int = 64) -> str:
    h = (
        "CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)"
        " / 4294967296.0"
    )
    eu = f"CASE WHEN nu >= {k} THEN {k - 1}.0 / kth ELSE CAST(nu AS DOUBLE) END"
    return f"""
    WITH a AS (SELECT DISTINCT {h} AS h FROM events
               WHERE event_type = 'purchase' AND value >= 50),
    b AS (SELECT DISTINCT {h} AS h FROM events
          WHERE event_type = 'click' AND value >= 50),
    ka AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS r FROM a)
           WHERE r <= {k}),
    kb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS r FROM b)
           WHERE r <= {k}),
    u AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)),
    ku AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS r FROM u)
           WHERE r <= {k}),
    m AS (SELECT ku.h,
                 CAST(ka.h IS NOT NULL AND kb.h IS NOT NULL AS BIGINT) AS in_both
          FROM ku LEFT JOIN ka ON ka.h = ku.h LEFT JOIN kb ON kb.h = ku.h),
    agg AS (SELECT count(*) AS nu, max(h) AS kth, sum(in_both) AS n2 FROM m),
    sa AS (SELECT count(*) AS v FROM ka), sb AS (SELECT count(*) AS v FROM kb)
    SELECT CAST(sa.v AS BIGINT) AS n_a_kept, CAST(sb.v AS BIGINT) AS n_b_kept,
           CAST(nu AS BIGINT) AS n_union_kept, round(kth, 10) AS union_kth,
           round({eu}, 4) AS est_union,
           CAST(n2 AS BIGINT) AS n_both,
           round(CAST(n2 AS DOUBLE) / CAST(nu AS DOUBLE), 4) AS jaccard_est,
           round(CAST(n2 AS DOUBLE) / CAST(nu AS DOUBLE) * ({eu}), 4)
             AS est_intersection
    FROM agg, sa, sb
    """


@query("agg_kmv_set_ops", _kmv_set_ops_oracle())
def agg_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Theta-sketch-style set algebra on KMV states (operators/
    # sketches.py::kmv_set_estimates): union size, Jaccard and
    # intersection size of two user sets (purchasers vs clickers at
    # value >= 50) estimated purely from k-min sketch states -- the
    # audience-overlap query every analytics deployment runs, at sketch
    # cost instead of a distinct-pair join.  Deterministic md5 hashing
    # -> the oracle reproduces every estimate bit-for-bit.
    from kcl_akka_stream_spark.operators.sketches import kmv_set_estimates

    ev = tbl(spark, sf_dir, "events")
    a = ev.filter((F.col("event_type") == "purchase") & (F.col("value") >= 50))
    b = ev.filter((F.col("event_type") == "click") & (F.col("value") >= 50))
    return kmv_set_estimates(a, b, "user_id", k=64)


def _supplier_co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier pairs (src < dst) sharing an order among high-quantity
    lineitems: the canonical edges of the supplier co-purchase projection."""
    # restrict to high-quantity lineitems: the unfiltered projection is
    # the COMPLETE supplier graph at fixture scale (every pair shares
    # some order -- 161,700 triangles of no structure); the filtered one
    # has real topology (403 edges / 126 triangles at sf0.01)
    li = (
        tbl(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 48)
        .select("l_orderkey", "l_suppkey")
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("dst"))
    return (
        a.join(b, "k")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


@query(
    "graph_triangle_count",
    """
    WITH pairs AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
    nodes AS (SELECT DISTINCT n FROM (
      SELECT src AS n FROM pairs UNION ALL SELECT dst AS n FROM pairs)),
    tri AS (
      SELECT count(*) AS t
      FROM pairs ab
      JOIN pairs bc ON bc.src = ab.dst
      WHERE EXISTS (SELECT 1 FROM pairs ac
                    WHERE ac.src = ab.src AND ac.dst = bc.dst))
    SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST(t AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Triangle counting (operators/graph.py::triangle_count) over the
    # supplier co-purchase projection: suppliers are adjacent when they
    # share an order (the unipartite projection of the order-supplier
    # bipartite graph -- the bipartite graph itself is triangle-free).
    # Edges are canonically oriented (src < dst) at build time, so the
    # oriented wedge join counts each triangle exactly once; the third
    # side closes via a semi-join, never a materialized wedge table.
    from kcl_akka_stream_spark.operators.graph import triangle_count

    edges = _supplier_co_order_edges(spark, sf_dir)
    return triangle_count(edges)


@query(
    "graph_clustering_coeff",
    """
    WITH pairs AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
    tri AS (
      SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
      FROM pairs ab JOIN pairs bc ON bc.src = ab.dst
      WHERE EXISTS (SELECT 1 FROM pairs ac
                    WHERE ac.src = ab.src AND ac.dst = bc.dst)),
    corners AS (
      SELECT unnest([a, b, c]) AS node FROM tri),
    tpn AS (SELECT node, count(*) AS n_triangles FROM corners GROUP BY node),
    deg AS (SELECT node, count(*) AS degree FROM (
      SELECT src AS node FROM pairs UNION ALL SELECT dst AS node FROM pairs)
      GROUP BY node)
    SELECT deg.node, CAST(degree AS BIGINT) AS degree,
           CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(degree * (degree - 1) // 2 AS BIGINT) AS n_wedges
    FROM deg LEFT JOIN tpn ON tpn.node = deg.node
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-node local clustering over the same quantity-filtered supplier
    # co-purchase projection as graph_triangle_count
    # (operators/graph.py::clustering_coefficients): triangles through
    # each node vs wedges centered on it, kept as exact integer counts
    # so the coefficient is a caller-side division and the gate hashes
    # integers only.
    from kcl_akka_stream_spark.operators.graph import clustering_coefficients

    edges = _supplier_co_order_edges(spark, sf_dir)
    return clustering_coefficients(edges)


_PPR_SEEDS = ["c1", "c2", "c3"]


def _ppr_oracle(iterations: int = 3) -> str:
    n = len(_PPR_SEEDS)
    seeds = ", ".join(f"'{s}'" for s in _PPR_SEEDS)
    base = f"CASE WHEN node IN ({seeds}) THEN {150000 // n} ELSE 0 END"
    r0 = f"CASE WHEN src IN ({seeds}) THEN {1000000 // n} ELSE 0 END"
    it = lambda prev, cur: f"""
    {cur} AS (
      SELECT n.node,
             ({base}) + (85 * coalesce(i.inflow, 0)) // 100 AS r
      FROM (SELECT DISTINCT src AS node FROM e) n
      LEFT JOIN (
        SELECT e.dst, sum((r.r * e.w) // d.deg) AS inflow
        FROM e JOIN deg d ON d.src = e.src JOIN {prev} r ON r.node = e.src
        GROUP BY e.dst) i ON i.dst = n.node)"""
    return f"""
    WITH p AS (
      SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
             's' || CAST(l_suppkey AS VARCHAR) AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2),
    e AS (SELECT src, dst, w FROM p
          UNION ALL SELECT dst AS src, src AS dst, w FROM p),
    deg AS (SELECT src, sum(w) AS deg FROM e GROUP BY src),
    r0 AS (SELECT DISTINCT src AS node, CAST({r0} AS BIGINT) AS r FROM e),
    {it('r0', 'i1')},
    {it('i1', 'i2')},
    {it('i2', 'i3')}
    SELECT node, CAST(r AS BIGINT) AS rank_micro
    FROM i3 ORDER BY r DESC, node LIMIT 20
    """


@query("graph_ppr_topk", _ppr_oracle())
def graph_ppr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Personalized PageRank (operators/graph.py::personalized_pagerank):
    # restart mass on three seed customers over the same symmetrized
    # co-purchase graph as graph_pagerank_topk -- ranks measure
    # proximity to the seeds, the related-items/recommendation
    # primitive.  Integer micro-unit arithmetic throughout, so the
    # 3-iteration unrolled SQL oracle matches bit-for-bit.  Top-20 by
    # rank, ties on node.  Long node-id encoding + broadcast ranks as in
    # graph_pagerank_topk; seeds are encoded to the same long space.
    from kcl_akka_stream_spark.operators.graph import personalized_pagerank

    edges = _co_purchase_edges(spark, sf_dir)
    seeds = [
        int(s[1:]) if s[0] == "c" else int(s[1:]) + _GRAPH_OFF
        for s in _PPR_SEEDS
    ]
    ranks = personalized_pagerank(
        edges, seeds, iterations=3, broadcast_ranks=True
    )
    return (
        ranks.select(_graph_decode("node").alias("node"), "rank_micro")
        .orderBy(F.col("rank_micro").desc(), "node")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round-8 wave: incremental rollup maintenance, corpus dataset card
# ---------------------------------------------------------------------------
@query(
    "pipeline_rollup_incremental",
    """
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v_cents) AS BIGINT) AS sum_cents,
           CAST(min(v_cents) AS BIGINT) AS min_cents,
           CAST(max(v_cents) AS BIGINT) AS max_cents,
           CAST((sum(v_cents) * 10000) // count(*) AS BIGINT) AS avg_micro
    FROM v GROUP BY event_type
    """,
)
def pipeline_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental rollup maintenance -- the daily-ETL pattern that keeps
    # a 100 TB aggregate table current WITHOUT re-reading history: the
    # standing rollup holds per-group PARTIAL STATES (count, sum, min,
    # max -- each a commutative monoid), today's batch folds to the same
    # states, and the merge is a states-sized groupBy.  Derived columns
    # (avg) are computed AFTER the merge, never stored -- storing an avg
    # makes the state unmergeable, the classic rollup bug.  The query
    # simulates the split (history = 3/4 of events by id, batch = the
    # rest), merges, and the oracle recomputes from ALL raw rows in one
    # pass: the hash match IS the merge == direct proof, the same
    # contract the KMV/CMS/histogram sketch families pin for their
    # approximate states.
    ev = tbl(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )

    history = _rollup_partial(ev.filter(F.col("event_id") % 4 != 0))
    batch = _rollup_partial(ev.filter(F.col("event_id") % 4 == 0))
    merged = history.unionByName(batch).groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_cents").cast("long").alias("sum_cents"),
        F.min("min_cents").cast("long").alias("min_cents"),
        F.max("max_cents").cast("long").alias("max_cents"),
    )
    return _rollup_finalize(merged)


def _rollup_partial(d: DataFrame) -> DataFrame:
    """Per-event_type (count, sum, min, max) state of the cents column
    ``v`` -- each a commutative monoid."""
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sum_cents"),
        F.min("v").cast("long").alias("min_cents"),
        F.max("v").cast("long").alias("max_cents"),
    )


def _rollup_finalize(merged: DataFrame) -> DataFrame:
    """Derive ``avg_micro`` from one merged ``_rollup_partial`` state per
    event_type.  Shared by ``pipeline_rollup_incremental`` and its
    streaming twin."""
    return merged.select(
        "event_type",
        "n",
        "sum_cents",
        "min_cents",
        "max_cents",
        F.expr("(sum_cents * 10000) div n").cast("long").alias("avg_micro"),
    )


@query(
    "pipeline_dataset_card",
    f"""
    WITH t AS (
      SELECT doc_id, lang, source, n_chars, md5(text) AS digest,
             len(regexp_extract_all(lower(text), '{TOK}')) AS n_toks
      FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT digest) AS BIGINT) AS n_distinct_texts,
           CAST(((count(*) - count(DISTINCT digest)) * 1000000) // count(*)
                AS BIGINT) AS dup_rate_micro,
           CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_short_docs,
           CAST((sum(n_chars) * 1000000) // count(*) AS BIGINT)
             AS mean_chars_micro
    FROM t
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The dataset-card generator: the one-row corpus summary every
    # training-data release ships (docs, language/source spread, token
    # mass, exact-dup rate, short-doc tail, mean length) -- integer
    # ratios in micro-units so the card hashes identically across
    # engines.  One combinable pass over the corpus plus the digest
    # distinct; at 100 TB the same plan runs as one scan + partial aggs
    # (distincts expand map-side, combine per partition).
    from kcl_akka_stream_spark.operators.text import tokens as _toks

    docs = tbl(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "source",
        "n_chars",
        F.md5("text").alias("digest"),
        F.size(_toks(F.col("text"))).cast("long").alias("n_toks"),
    )
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.countDistinct("digest").cast("long").alias("n_distinct_texts"),
        F.sum((F.col("n_chars") < 100).cast("long"))
        .cast("long")
        .alias("n_short_docs"),
    ).select(
        "n_docs",
        "n_langs",
        "n_sources",
        "total_chars",
        "total_tokens",
        "n_distinct_texts",
        F.expr("((n_docs - n_distinct_texts) * 1000000) div n_docs")
        .cast("long")
        .alias("dup_rate_micro"),
        "n_short_docs",
        F.expr("(total_chars * 1000000) div n_docs")
        .cast("long")
        .alias("mean_chars_micro"),
    )


# Shared SQL fragments of the PQ family's integer micro-unit convention
# (operators/clustering.py::_pq_quantize / _pq_idist2): quantize floats to
# int64 micro-units, distances = exact integer sums -- order-independent,
# so every engine agrees bit-for-bit.
_PQ_QUANT = (
    "[CAST(floor({v}[i] * 1000000 + 0.5) AS BIGINT)"
    " FOR i IN generate_series(1, len({v}))]"
)
_PQ_ID2 = (
    "list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i])"
    " FOR i IN generate_series(1, len({a}))])"
)


def _pq_assign_oracle(m: int = 4, k: int = 8, dims: int = 64) -> str:
    sub = dims // m
    d2 = _PQ_ID2.format(a="sl.sv", b="cs.sc")
    return f"""
    WITH c AS (
      SELECT vec_id AS code,
             {_PQ_QUANT.format(v="CAST(embedding AS DOUBLE[])")} AS cv
      FROM embeddings WHERE vec_id < {k}),
    v AS (SELECT vec_id,
                 {_PQ_QUANT.format(v="CAST(embedding AS DOUBLE[])")} AS vv
          FROM embeddings),
    subs AS (SELECT unnest(generate_series(0, {m - 1})) AS sub_id),
    sliced AS (
      SELECT v.vec_id, s.sub_id,
             list_slice(v.vv, s.sub_id * {sub} + 1, (s.sub_id + 1) * {sub}) AS sv
      FROM v CROSS JOIN subs s),
    csub AS (
      SELECT s.sub_id, c.code,
             list_slice(c.cv, s.sub_id * {sub} + 1, (s.sub_id + 1) * {sub}) AS sc
      FROM c CROSS JOIN subs s),
    scored AS (
      SELECT sl.vec_id, sl.sub_id, cs.code, {d2} AS d2
      FROM sliced sl JOIN csub cs ON cs.sub_id = sl.sub_id),
    ranked AS (
      SELECT vec_id, sub_id, code, d2,
             row_number() OVER (PARTITION BY vec_id, sub_id
                                ORDER BY d2, code) AS rn
      FROM scored)
    SELECT vec_id, CAST(sub_id AS BIGINT) AS sub_id,
           CAST(code AS BIGINT) AS code, CAST(d2 AS BIGINT) AS d2_micro2
    FROM ranked WHERE rn = 1
    """


@query("emb_pq_assign", _pq_assign_oracle())
def emb_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Product-quantization encoding (operators/clustering.py::pq_encode):
    # each 64-dim embedding splits into 4 x 16-dim subvectors, each
    # assigned to its nearest code in that subspace's deterministic
    # codebook (slices of the 8 lowest-id vectors; a k-means-trained
    # codebook drops into the same shape).  This is the compression half
    # of IVF-PQ -- the index family behind billion-vector ANN serving:
    # a vector becomes m small codes, and query scoring runs on
    # per-subspace lookup tables instead of raw floats.  The encode is
    # MAP-ONLY (codebooks are tiny by construction, collected once and
    # baked into the plan as literals -- zero exchanges); the
    # compositional broadcast-assign twin `pq_assign` is pytest-pinned
    # identical.
    emb = tbl(spark, sf_dir, "embeddings")
    codebook = emb.filter(F.col("vec_id") < 8)
    return CL.pq_encode(emb, codebook, m=4)


@query(
    "agg_approx_distinct_report",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           CAST(1 AS INT) AS within_3rsd
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The HLL acceptance contract (the distinct-count twin of
    # agg_approx_quantile_report): approx_count_distinct's estimate is
    # engine-specific and must never enter the hashed output -- what IS
    # checked is the CONTRACT: the estimate lands within THREE of the
    # sketch's documented 5% relative standard deviations (15%) of the
    # exact distinct count.  One rsd was the round-8 lesson: rsd is a
    # STANDARD DEVIATION, so ~1/3 of (type, sf) cells legitimately land
    # outside 1 sigma -- and did at sf0.1 (3 of 5 types, estimates off
    # by 5.9-7.4%) while sf0.01 happened to pass.  3 sigma is the
    # conventional near-certain envelope; a sketch beyond it is broken,
    # not unlucky.  The oracle asserts within_3rsd = 1 by construction,
    # so an out-of-contract sketch turns the gate red.  Both aggregates
    # fold map-side in ONE pass (HLL registers merge; exact distinct
    # expands then combines).
    ev = tbl(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("__approx"),
    )
    within = (
        (F.col("__approx") * 100 >= F.col("n_exact") * 85)
        & (F.col("__approx") * 100 <= F.col("n_exact") * 115)
    )
    return agg.select(
        "event_type", "n_exact", within.cast("int").alias("within_3rsd")
    )


def _pq_adc_oracle(m: int = 4, k_codes: int = 8, dims: int = 64) -> str:
    sub = dims // m
    codes = _pq_assign_oracle(m=m, k=k_codes, dims=dims)
    d2 = _PQ_ID2.format(a="qs.qv", b="cs.sc")
    return f"""
    WITH codes AS (SELECT vec_id, sub_id, code FROM ({codes})),
    v2 AS (SELECT vec_id,
                  {_PQ_QUANT.format(v="CAST(embedding AS DOUBLE[])")} AS vv
           FROM embeddings),
    subs2 AS (SELECT unnest(generate_series(0, {m - 1})) AS sub_id),
    q2 AS (SELECT vec_id AS q_id, vv FROM v2 WHERE vec_id < 5),
    qs AS (
      SELECT q_id, s.sub_id,
             list_slice(vv, s.sub_id * {sub} + 1, (s.sub_id + 1) * {sub}) AS qv
      FROM q2 CROSS JOIN subs2 s),
    cb AS (SELECT vec_id AS code, vv AS cv FROM v2 WHERE vec_id < {k_codes}),
    cs AS (
      SELECT code, s.sub_id,
             list_slice(cv, s.sub_id * {sub} + 1, (s.sub_id + 1) * {sub}) AS sc
      FROM cb CROSS JOIN subs2 s),
    dtab AS (
      SELECT qs.q_id, qs.sub_id, cs.code, {d2} AS d2
      FROM qs JOIN cs ON cs.sub_id = qs.sub_id),
    scores AS (
      SELECT d.q_id, c.vec_id AS n_id, CAST(sum(d.d2) AS BIGINT) AS adc_d2_micro2
      FROM codes c
      JOIN dtab d ON d.sub_id = c.sub_id AND d.code = c.code
      WHERE d.q_id <> c.vec_id
      GROUP BY d.q_id, c.vec_id)
    SELECT q_id, n_id, adc_d2_micro2, rank FROM (
      SELECT q_id, n_id, adc_d2_micro2,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY adc_d2_micro2, n_id) AS rank
      FROM scores)
    WHERE rank <= 5
    """


@query("sim_topk_pq_adc", _pq_adc_oracle())
def sim_topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PQ asymmetric-distance top-k (operators/similarity.py::pq_adc_topk)
    # -- the SERVING half of product quantization, completing the IVF-PQ
    # pair with emb_pq_assign: the corpus side of the scoring join
    # carries m small codes per vector instead of d floats, distances
    # come from a broadcast (query x subspace x code) lookup table, and
    # the rank is on the 6-dp-rounded ADC distance with id tiebreak so
    # both engines order identically.  At 100 TB this is why PQ exists:
    # the scan reads m bytes per vector, the table lookup replaces the
    # full float dot product.
    emb = tbl(spark, sf_dir, "embeddings")
    return S.pq_adc_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        emb.filter(F.col("vec_id") < 8),
        m=4,
        k=5,
    )


def _ivf_pq_oracle(
    m: int = 4, k_codes: int = 8, dims: int = 64, n_clusters: int = 8, nprobe: int = 2
) -> str:
    # Composition of the two proven oracle halves: the IVF learned
    # quantizer + centroid CTEs (shared with _ivf_oracle, so the float
    # probe-set semantics are the ones sim_topk_ivf already pins) and the
    # PQ code/ADC CTEs (shared shape with _pq_adc_oracle, exact int64
    # micro-units), with the scoring join restricted to each query's
    # nprobe nearest inverted lists.
    sub = dims // m
    cos_qc = _COS.format(a="q.q_vec", b="c.centroid")
    d2c = _PQ_ID2.format(a="sl.sv", b="cs.sc")
    d2q = _PQ_ID2.format(a="qs.qv", b="cs.sc")
    return f"""
    WITH {_ivf_assign_ctes(n_clusters)},
    dims0 AS (
      SELECT a.cluster_id,
             [{{'dim': i, 'val': v_vec[i]}}
              FOR i IN generate_series(1, len(v_vec))] AS dv
      FROM assign a JOIN v USING (vec_id)),
    dimsx AS (
      SELECT cluster_id, s.dim AS dim, avg(s.val) AS mval
      FROM (SELECT cluster_id, unnest(dv) AS s FROM dims0)
      GROUP BY cluster_id, s.dim),
    cent AS (SELECT cluster_id, list(mval ORDER BY dim) AS centroid
             FROM dimsx GROUP BY cluster_id),
    q AS (SELECT vec_id AS q_id, v_vec AS q_vec FROM v WHERE vec_id < 5),
    qa AS (
      SELECT q_id, cluster FROM (
        SELECT q.q_id, c.cluster_id AS cluster,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {cos_qc} DESC, c.cluster_id) AS r
        FROM q, cent c)
      WHERE r <= {nprobe}),
    pv AS (SELECT vec_id, {_PQ_QUANT.format(v="v_vec")} AS vv FROM v),
    subs AS (SELECT unnest(generate_series(0, {m - 1})) AS sub_id),
    cb AS (SELECT vec_id AS code, vv AS cv FROM pv WHERE vec_id < {k_codes}),
    cs AS (
      SELECT code, s.sub_id,
             list_slice(cv, s.sub_id * {sub} + 1, (s.sub_id + 1) * {sub}) AS sc
      FROM cb CROSS JOIN subs s),
    sl AS (
      SELECT vec_id, s.sub_id,
             list_slice(vv, s.sub_id * {sub} + 1, (s.sub_id + 1) * {sub}) AS sv
      FROM pv CROSS JOIN subs s),
    cscored AS (
      SELECT sl.vec_id, sl.sub_id, cs.code, {d2c} AS d2
      FROM sl JOIN cs ON cs.sub_id = sl.sub_id),
    codes AS (
      SELECT vec_id, sub_id, code FROM (
        SELECT vec_id, sub_id, code,
               row_number() OVER (PARTITION BY vec_id, sub_id
                                  ORDER BY d2, code) AS rn
        FROM cscored)
      WHERE rn = 1),
    qpv AS (SELECT q_id, {_PQ_QUANT.format(v="q_vec")} AS qq FROM q),
    qs AS (
      SELECT q_id, s.sub_id,
             list_slice(qq, s.sub_id * {sub} + 1, (s.sub_id + 1) * {sub}) AS qv
      FROM qpv CROSS JOIN subs s),
    dtab AS (
      SELECT qs.q_id, qs.sub_id, cs.code, {d2q} AS d2
      FROM qs JOIN cs ON cs.sub_id = qs.sub_id),
    scores AS (
      SELECT d.q_id, cc.vec_id AS n_id, CAST(sum(d.d2) AS BIGINT) AS adc_d2_micro2
      FROM codes cc
      JOIN assign a ON a.vec_id = cc.vec_id
      JOIN qa ON qa.cluster = a.cluster_id
      JOIN dtab d ON d.q_id = qa.q_id AND d.sub_id = cc.sub_id
                 AND d.code = cc.code
      WHERE d.q_id <> cc.vec_id
      GROUP BY d.q_id, cc.vec_id)
    SELECT q_id, n_id, adc_d2_micro2, rank FROM (
      SELECT q_id, n_id, adc_d2_micro2,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY adc_d2_micro2, n_id) AS rank
      FROM scores)
    WHERE rank <= 5
    """


@query("sim_topk_ivf_pq", _ivf_pq_oracle())
def sim_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FULL IVF-PQ serving (operators/similarity.py::ivf_pq_topk) -- the
    # index family behind billion-vector ANN (FAISS "IVF8,PQ4" shape):
    # the learned coarse quantizer of sim_topk_ivf narrows each query to
    # its 2 nearest inverted lists, and within them scoring runs on PQ
    # codes via the broadcast ADC lookup table of sim_topk_pq_adc.  The
    # corpus side of the serving join carries only (id, cluster, sub,
    # code) ints -- at 100 TB the scan reads m bytes per vector from
    # nprobe/n_clusters of the corpus, with both small sides broadcast.
    # ADC distances are exact int64 micro-units, so ranks hash
    # bit-for-bit; the float cosine only picks the probe set, with the
    # identical expression mirrored in the oracle.
    emb = tbl(spark, sf_dir, "embeddings")
    return S.ivf_pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        emb.filter(F.col("vec_id") < 8),
        m=4,
        k=5,
        n_clusters=8,
        nprobe=2,
    )


@query(
    "pipeline_scd2_history",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    ch AS (
      SELECT user_id, event_type, ts, event_id FROM o
      WHERE prev IS NULL OR prev <> event_type),
    v AS (
      SELECT user_id, event_type AS state,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT)
               AS version,
             ts AS vf,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS vt
      FROM ch)
    SELECT user_id, state, version,
           strftime(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(vt, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           CAST(CASE WHEN vt IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
    FROM v
    """,
)
def pipeline_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SCD2 dimension build from a change feed (operators/cdc.py::
    # scd2_compact): per-user state runs folded into validity ranges --
    # version ordinal, half-open [valid_from, valid_to), is_current flag.
    # The warehouse-side twin of stream_cdc_upsert: the streaming path
    # keeps only the latest state per key; this batch path keeps the
    # FULL history, the table an as-of join (j_asof) then serves
    # point-in-time lookups against.  Two stacked windows on one
    # user-keyed exchange; storage is proportional to CHANGES, not
    # observations -- the property that makes SCD2 viable at 100 TB.
    from kcl_akka_stream_spark.operators.cdc import scd2_compact

    out = scd2_compact(tbl(spark, sf_dir, "events"))
    return out.select(
        "user_id",
        "state",
        "version",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_to"),
        "is_current",
    )


@query(
    "graph_degree_stats",
    """
    WITH p AS (
      SELECT o_custkey AS c, l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey, l_suppkey),
    cd AS (SELECT c, count(*) AS deg FROM p GROUP BY c),
    sd AS (SELECT s, count(*) AS deg FROM p GROUP BY s)
    SELECT 'customer' AS side, CAST(deg AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM cd GROUP BY deg
    UNION ALL
    SELECT 'supplier' AS side, CAST(deg AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM sd GROUP BY deg
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Degree distribution of the co-purchase graph (operators/graph.py::
    # degree_histogram), both sides -- the hub/skew diagnostic run
    # BEFORE the iterative graph queries to size their shuffles (a
    # power-law tail here is what the salting/AQE-skew machinery exists
    # for).  The histogram relation is bounded by max degree, never node
    # count; each side costs one distinct + two combinable counts.
    from kcl_akka_stream_spark.operators.graph import degree_histogram

    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # Dedup the pair relation ONCE and checkpoint: both side profiles
    # read it, so without this the join+distinct subtree would execute
    # twice (once per union branch).
    p = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cust = degree_histogram(p, "c", "s", label="customer", assume_distinct=True)
    supp = degree_histogram(p, "s", "c", label="supplier", assume_distinct=True)
    return cust.unionByName(supp)


def _payload_simhash_pairs_oracle(
    bits: int = 16, gram: int = 4, stride: int = 4, max_hamming: int = 3
) -> str:
    fp = _simhash_fp_sql(bits)
    # payload = UTF-8 bytes of text (documents_as_media) and the fixture
    # text is pure ASCII, so byte windows == character windows and
    # DuckDB's md5-of-substring hashes the same bytes Python's
    # hashlib.md5 sees.
    return f"""
    WITH t AS (
      SELECT doc_id AS media_id,
             [md5(substr(text, i, {gram}))
              FOR i IN generate_series(1, len(text) - {gram - 1}, {stride})] AS hs
      FROM documents WHERE len(text) >= {gram}),
    sh AS (SELECT media_id, CAST({fp} AS BIGINT) AS simhash
           FROM t WHERE len(hs) > 0),
    banded AS (
      SELECT media_id, simhash, 0 AS band, simhash & 255 AS bv FROM sh
      UNION ALL
      SELECT media_id, simhash, 1 AS band, (simhash >> 8) & 255 AS bv FROM sh),
    pairs AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bv = b.bv AND a.media_id < b.media_id)
    SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
    FROM pairs WHERE hamming <= {max_hamming}
    """


@query("multimodal_phash_pairs", _payload_simhash_pairs_oracle())
def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Near-duplicate detection on the OPAQUE BINARY media column
    # (operators/multimodal.py::payload_simhash + operators/dedup.py::
    # fingerprint_band_pairs): byte-gram simhash needs no codec, so
    # re-encoded/truncated/watermarked uploads cluster without decoding
    # -- the multimodal twin of dedup_simhash_pairs.  One Arrow pass
    # fingerprints (map-only), the banded candidate join + exact hamming
    # verify reuse the text machinery unchanged; a pixel-space pHash
    # drops into the same banding when a real decoder is installed
    # (set_decoder seam).
    from kcl_akka_stream_spark.operators.dedup import fingerprint_band_pairs
    from kcl_akka_stream_spark.operators.multimodal import (
        documents_as_media,
        payload_simhash,
    )

    media = documents_as_media(tbl(spark, sf_dir, "documents"))
    sh = payload_simhash(media, gram=4, stride=4, bits=16)
    return fingerprint_band_pairs(
        sh, id_col="media_id", bits=16, bands=2, max_hamming=3
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@query(
    "text_hashing_vectorizer",
    f"""
    WITH t AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOK}')) AS tok
      FROM documents),
    b AS (
      SELECT doc_id,
             CAST(list_sum([(strpos('0123456789abcdef',
                                    substr(md5('hv|' || tok), i, 1)) - 1)
                            * power(16, 8 - i)
                            FOR i IN generate_series(1, 8)]) AS BIGINT) % 64
               AS bucket
      FROM t)
    SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n_tokens
    FROM b GROUP BY doc_id, bucket
    """,
)
def text_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Feature hashing (operators/text.py::hashing_vectorize): fixed-width
    # sparse vectors with NO vocabulary -- the featurization that scales
    # to 100 TB because there is no dictionary to build, broadcast or
    # version; new shards vectorize independently and the schema never
    # changes.  Deterministic md5 bucketing (same integer convention as
    # the CMS sketch) makes the vectors bit-identical cross-engine.
    from kcl_akka_stream_spark.operators.text import hashing_vectorize

    return hashing_vectorize(tbl(spark, sf_dir, "documents"), n_buckets=64)


_MESSY_URL_SQL = """
      CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
      CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.ORG' ELSE 'www.example.org' END ||
      CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
      '/docs/' || lang || '/' || CAST(doc_id % 50 AS VARCHAR) ||
      CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END ||
      '?lang=' || lang ||
      CASE WHEN doc_id % 11 = 0 THEN '&utm_source=feed' ELSE '' END
"""


@query(
    "dedup_url_canonical",
    # Ground truth by construction: the canonical form is derivable from
    # the base columns directly, so the oracle never re-implements the
    # parse_url canonicalizer -- it checks it against an independent
    # derivation (the scalar_url_funcs discipline).
    f"""
    WITH m AS (
      SELECT doc_id, lang, {_MESSY_URL_SQL} AS url,
             'https://www.example.org/docs/' || lang || '/'
               || CAST(doc_id % 50 AS VARCHAR) || '?lang=' || lang AS canon
      FROM documents)
    SELECT canon AS canonical_url,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT url) AS BIGINT) AS n_forms,
           CAST(min(doc_id) AS BIGINT) AS keeper
    FROM m GROUP BY canon
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # URL-canonicalization dedup (operators/corpus.py::canonical_url):
    # scheme/case/port/trailing-slash/tracking-param variants of the
    # same page collapse to one canonical key; per key the report counts
    # raw URLs, distinct surface forms, and the kept doc.  The messy
    # forms are assembled deterministically from fixture columns; the
    # oracle derives the canonical key INDEPENDENTLY, so a canonicalizer
    # that under- or over-normalizes turns the gate red.  Map-only
    # canonicalize + one combinable shuffle -- the exact-dedup shape.
    from kcl_akka_stream_spark.operators.corpus import canonical_url

    docs = tbl(spark, sf_dir, "documents")
    d = F.col("doc_id")
    messy = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://")),
        F.when(d % 3 == 0, F.lit("WWW.Example.ORG")).otherwise(
            F.lit("www.example.org")
        ),
        F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"), F.col("lang"), F.lit("/"), (d % 50).cast("string"),
        F.when(d % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?lang="), F.col("lang"),
        F.when(d % 11 == 0, F.lit("&utm_source=feed")).otherwise(F.lit("")),
    )
    u = docs.select("doc_id", messy.alias("__url"))
    return (
        u.select("doc_id", canonical_url(F.col("__url")).alias("canonical_url"),
                 F.col("__url").alias("url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.countDistinct("url").cast("long").alias("n_forms"),
            F.min("doc_id").cast("long").alias("keeper"),
        )
    )


def _ensure_ivf_pq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture) and return the on-disk IVF-PQ index dir
    (operators/similarity.py::ivf_pq_build): learned centroids + PQ codes
    partitioned by cluster + codebook.  Keyed by the fixture file's
    (size, mtime) like the plain-IVF index cache, so a driver-side
    testdata regeneration invalidates it automatically."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    key = hashlib.sha1(
        f"ivfpq:{src}:{st.st_size}:{st.st_mtime_ns}".encode()
    ).hexdigest()[:12]
    index_dir = os.path.join(tempfile.gettempdir(), f"kcl_ivfpq_index_{key}")
    marker = os.path.join(index_dir, "_BUILT")
    if not os.path.exists(marker):
        emb = tbl(spark, sf_dir, "embeddings")
        S.ivf_pq_build(
            emb, index_dir, emb.filter(F.col("vec_id") < 8), m=4, n_clusters=8
        )
        with open(marker, "w"):
            pass
    return index_dir


@query("sim_topk_ivf_pq_prebuilt", _ivf_pq_oracle())
def sim_topk_ivf_pq_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Build-once / probe-many IVF-PQ (the same split sim_topk_ivf_prebuilt
    # gives plain IVF): first call per fixture persists centroids + PQ
    # codes (partitioned by inverted list, m ints per vector on disk) +
    # codebook; every subsequent call runs ONLY the serving plan --
    # centroid broadcast, partition-pruned codes scan, broadcast ADC
    # table, (q, n) agg, per-q rank.  The build is deterministic, so the
    # result is identical to the inline sim_topk_ivf_pq and the oracle is
    # shared.  This is the shape a 100 TB vector deployment actually
    # runs: the index amortizes across every query batch.
    index_dir = _ensure_ivf_pq_index(spark, sf_dir)
    queries_df = tbl(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return S.ivf_pq_probe_prebuilt(
        spark, index_dir, queries_df, m=4, k=5, nprobe=2
    )


@query(
    "pipeline_scd2_incremental",
    # SAME oracle as pipeline_scd2_history: the merge must equal the
    # full recompute from all raw rows -- that hash match IS the
    # incremental-maintenance proof (the SCD2 twin of the rollup-state
    # merge contract).
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    ch AS (
      SELECT user_id, event_type, ts, event_id FROM o
      WHERE prev IS NULL OR prev <> event_type),
    v AS (
      SELECT user_id, event_type AS state,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT)
               AS version,
             ts AS vf,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS vt
      FROM ch)
    SELECT user_id, state, version,
           strftime(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(vt, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           CAST(CASE WHEN vt IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
    FROM v
    """,
)
def pipeline_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental SCD2 maintenance (operators/cdc.py::scd2_merge): the
    # standing SCD2 table (history = events before the cutover) absorbs
    # one new day-batch of changes WITHOUT re-reading history -- runs
    # repeating a key's open state extend it, differing runs close it
    # and append versions numbered after the key's existing count.
    # Oracle = full recompute over ALL raw rows, so the hash match
    # proves merge == direct, boundary absorption included.
    from kcl_akka_stream_spark.operators.cdc import scd2_compact, scd2_merge

    ev = tbl(spark, sf_dir, "events")
    cut = F.lit("2024-01-14 00:00:00").cast("timestamp")
    history = scd2_compact(ev.filter(F.col("ts") < cut))
    merged = scd2_merge(history, ev.filter(F.col("ts") >= cut))
    return merged.select(
        "user_id",
        "state",
        "version",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_to"),
        "is_current",
    )


@query(
    "pipeline_mixture_weights",
    """
    WITH c AS (
      SELECT lang,
             CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
                  AS BIGINT) AS avail
      FROM documents GROUP BY lang),
    t AS (SELECT CAST(sum(avail) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS k FROM c),
    q AS (
      SELECT lang, avail,
             (1000000 * avail) // t.total AS quota,
             (1000000 * avail) % t.total AS rem
      FROM c, t),
    extra AS (
      SELECT CAST(1000000 - sum(quota) AS BIGINT) AS n_extra FROM q),
    ranked AS (
      SELECT lang, avail, quota,
             row_number() OVER (ORDER BY rem DESC, lang) AS rr
      FROM q)
    SELECT lang, avail,
           CAST(quota + CASE WHEN rr <= e.n_extra THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked, extra e
    """,
)
def pipeline_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Data-mixture apportionment (Hamilton/largest-remainder method):
    # split a 1,000,000-unit token budget across languages EXACTLY
    # proportionally to available tokens -- integer quotas floor-divide,
    # the leftover units go to the largest remainders (lang tiebreak),
    # and the allocations sum to the budget EXACTLY (the property float
    # proportions can't give; training-data mixing needs exact budgets).
    # The apportionment relation is language-sized: the only data-sized
    # work is one combinable token count.
    from kcl_akka_stream_spark.operators.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("avail")
    )
    t = c.agg(
        F.sum("avail").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    q = c.crossJoin(F.broadcast(t)).select(
        "lang",
        "avail",
        F.expr("(1000000 * avail) div total").alias("quota"),
        F.expr("(1000000 * avail) % total").alias("rem"),
    )
    extra = q.agg(
        (F.lit(1000000) - F.sum("quota")).cast("long").alias("n_extra")
    )
    w = Window.orderBy(F.col("rem").desc(), "lang")
    return (
        q.withColumn("rr", F.row_number().over(w))
        .crossJoin(F.broadcast(extra))
        .select(
            "lang",
            "avail",
            (
                F.col("quota")
                + F.when(F.col("rr") <= F.col("n_extra"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc"),
        )
    )


@query(
    "agg_entropy_report",
    """
    WITH c AS (
      SELECT source, lang, count(*) AS c
      FROM documents GROUP BY source, lang),
    n AS (
      SELECT source, c, lang,
             sum(c) OVER (PARTITION BY source) AS n
      FROM c)
    SELECT source,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           CAST(sum(c * CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000, 0)
                             AS BIGINT)) AS BIGINT) AS h_num_micro
    FROM n GROUP BY source
    """,
)
def agg_entropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-source language-diversity entropy -- the dataset-card metric
    # behind "is this source monolingual?": Shannon H = sum (c/n) ln(n/c),
    # emitted as the INTEGER numerator sum(c * micro_ln(n/c)) with n
    # alongside (H = h_num / (n * 1e6)) -- each ln frozen to micro-nats
    # before any sum, the tfidf/unigram-LM discipline that keeps
    # cross-engine hashing exact.  Group relation is (source, lang)-sized.
    docs = tbl(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    n = c.withColumn("n", F.sum("c").over(Window.partitionBy("source")))
    term = F.round(
        F.log(F.col("n").cast("double") / F.col("c").cast("double")) * 1e6, 0
    ).cast("long")
    return n.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.sum(F.col("c") * term).cast("long").alias("h_num_micro"),
    )


@query(
    "text_novelty_report",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(CASE WHEN len(t) >= 3 THEN
               [array_to_string(list_slice(t, i, i + 2), ' ')
                FOR i IN generate_series(1, len(t) - 2)]
               ELSE [array_to_string(t, ' ')] END)) AS shingle
      FROM toks),
    firsts AS (
      SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST((sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                 * 1000000) // count(*) AS BIGINT) AS novelty_micro
    FROM sh s JOIN firsts f ON f.shingle = s.shingle
    GROUP BY s.doc_id
    """,
)
def text_novelty_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus novelty scoring -- the "is this document new content or a
    # remix of what came before" signal a curation sweep orders by: per
    # doc, the fraction of its distinct 3-shingles whose FIRST corpus
    # occurrence (min doc_id, the ingestion order) is this doc.
    # Relational shape: one shingle explode (the dedup family's shared
    # primitive), a combinable per-shingle min, an equi-join back on the
    # shingle (hash-partitionable -- both sides arrive pre-partitioned
    # from the same explode at scale), one per-doc agg.  Integer
    # micro-units.
    docs = tbl(spark, sf_dir, "documents")
    # spread(): shingle explode parallelism floor (r9 #5 tripwire)
    sh = spread(docs).select(
        "doc_id", F.explode(D.shingles(F.col("text"), 3)).alias("shingle")
    )
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    joined = sh.join(firsts, "shingle")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
        .cast("long")
        .alias("n_novel"),
        F.expr(
            "(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1000000)"
            " div count(1)"
        )
        .cast("long")
        .alias("novelty_micro"),
    )


@query(
    "pipeline_curriculum_order",
    """
    WITH b AS (
      SELECT doc_id,
             CAST(least(n_chars // 200, 4) AS BIGINT) AS bucket,
             md5('cur7|' || CAST(doc_id AS VARCHAR)) AS sk
      FROM documents)
    SELECT doc_id, bucket,
           CAST(row_number() OVER (PARTITION BY bucket ORDER BY sk, doc_id)
                AS BIGINT) AS ordinal
    FROM b
    """,
)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic curriculum export: docs bucketed by a difficulty
    # proxy (length tier), shuffled WITHIN each tier by a seeded md5 key
    # (reproducible across engines/runs/shards -- never rand()), and
    # given a per-tier training ordinal.  A trainer walks tiers in order
    # and rows by ordinal; the whole thing is one bucket-keyed window on
    # a map-side projection.  Per-bucket ordinals deliberately avoid the
    # global zipWithIndex shape (a single total order is the one thing
    # that cannot scale; per-tier order is what curriculum needs).
    docs = tbl(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        F.least(F.floor(F.col("n_chars") / 200), F.lit(4))
        .cast("long")
        .alias("bucket"),
        F.md5(F.concat(F.lit("cur7|"), F.col("doc_id").cast("string"))).alias(
            "sk"
        ),
    )
    w = Window.partitionBy("bucket").orderBy("sk", "doc_id")
    return b.select(
        "doc_id", "bucket", F.row_number().over(w).cast("long").alias("ordinal")
    )


@query(
    "graph_link_prediction",
    """
    WITH pairs AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
    adj AS (SELECT src AS n, dst AS nbr FROM pairs
            UNION ALL SELECT dst AS n, src AS nbr FROM pairs),
    deg AS (SELECT n, count(*) AS deg FROM adj GROUP BY n),
    common AS (
      SELECT a1.n AS u, a2.n AS v, count(*) AS n_common
      FROM adj a1 JOIN adj a2 ON a1.nbr = a2.nbr AND a1.n < a2.n
      GROUP BY a1.n, a2.n),
    cand AS (
      SELECT c.* FROM common c
      WHERE NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.src = c.u AND p.dst = c.v))
    SELECT u, v, CAST(n_common AS BIGINT) AS n_common,
           CAST(du.deg AS BIGINT) AS deg_u, CAST(dv.deg AS BIGINT) AS deg_v,
           CAST((n_common * 1000000) // (du.deg + dv.deg - n_common)
                AS BIGINT) AS jaccard_micro
    FROM cand JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v
    ORDER BY jaccard_micro DESC, u, v LIMIT 30
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Link prediction by neighbor-set Jaccard (operators/graph.py::
    # neighbor_jaccard) over the quantity-filtered supplier co-purchase
    # projection -- "suppliers likely to co-occur next": non-adjacent
    # pairs ranked by shared-neighbor overlap, score in exact integer
    # micro-units so the gate hashes bit-for-bit.  Top-30, ties on
    # (u, v); same wedge-join scale shape as triangle counting.
    from kcl_akka_stream_spark.operators.graph import neighbor_jaccard

    edges = _supplier_co_order_edges(spark, sf_dir)
    # broadcast_scores=True: fixture node set provably fits an executor (default False for billion-node graphs).
    return (
        neighbor_jaccard(edges, broadcast_scores=True)
        .orderBy(F.col("jaccard_micro").desc(), "u", "v")
        .limit(30)
    )


@query(
    "graph_label_propagation",
    """
    WITH p AS (
      SELECT CAST(o_custkey AS BIGINT) AS src,
             CAST(l_suppkey + 1099511627776 AS BIGINT) AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2),
    e AS (SELECT src, dst, w FROM p
          UNION ALL SELECT dst AS src, src AS dst, w FROM p),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
    l1 AS (
      SELECT dst AS node, label FROM (
        SELECT e.dst, l.label, sum(e.w) AS votes,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY sum(e.w) DESC, l.label) AS rn
        FROM e JOIN l0 l ON l.node = e.src
        GROUP BY e.dst, l.label)
      WHERE rn = 1),
    l2 AS (
      SELECT dst AS node, label FROM (
        SELECT e.dst, l.label, sum(e.w) AS votes,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY sum(e.w) DESC, l.label) AS rn
        FROM e JOIN l1 l ON l.node = e.src
        GROUP BY e.dst, l.label)
      WHERE rn = 1)
    SELECT CASE WHEN label < 1099511627776
                THEN 'c' || CAST(label AS VARCHAR)
                ELSE 's' || CAST(label - 1099511627776 AS VARCHAR)
           END AS community,
           CAST(count(*) AS BIGINT) AS n_members
    FROM l2 GROUP BY 1
    ORDER BY n_members DESC, community LIMIT 20
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Community detection by deterministic weighted label propagation
    # (operators/graph.py::label_propagation, 2 synchronous rounds,
    # max-votes/min-label tiebreak) over the same customer<->supplier
    # co-purchase graph as pagerank, long-encoded through the iterations
    # and decoded only at the final top-20 community histogram.  The
    # oracle unrolls both rounds on the identical long encoding, so the
    # min-label tiebreak orders IDENTICALLY cross-engine (string labels
    # would not: 'c101' < 'c2' lexicographically).
    from kcl_akka_stream_spark.operators.graph import label_propagation

    edges = _co_purchase_edges(spark, sf_dir)
    # broadcast_scores=True: fixture node set provably fits an executor.
    labels = label_propagation(edges, iterations=2, broadcast_scores=True)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .select(_graph_decode("label").alias("community"), "n_members")
        .orderBy(F.col("n_members").desc(), "community")
        .limit(20)
    )


_PPL_BUCKETS_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t FROM documents),
    pairs AS (
      SELECT doc_id, unnest([{{'a': t[i], 'b': t[i + 1]}}
                             FOR i IN generate_series(1, len(t) - 1)]) AS p
      FROM toks WHERE len(t) >= 2),
    pr AS (SELECT doc_id, p.a AS a, p.b AS b FROM pairs),
    pc AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY a, b),
    cc AS (SELECT a, sum(n_ab) AS n_a FROM pc GROUP BY a),
    lp AS (
      SELECT pr.doc_id,
             CAST(round(ln(CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE)) * 1e6,
                        0) AS BIGINT) AS lp
      FROM pr JOIN pc USING (a, b) JOIN cc USING (a)),
    sc AS (
      SELECT doc_id, CAST((-sum(lp)) // count(*) AS BIGINT) AS avg_nll_micro
      FROM lp GROUP BY doc_id),
    d AS (
      SELECT s.doc_id, doc.lang, s.avg_nll_micro
      FROM sc s JOIN documents doc ON doc.doc_id = s.doc_id)
    SELECT doc_id, lang, avg_nll_micro,
           CAST(((row_number() OVER (PARTITION BY lang
                                     ORDER BY avg_nll_micro, doc_id) - 1) * 3)
                // (count(*) OVER (PARTITION BY lang)) AS BIGINT) AS ppl_bucket
    FROM d
"""


@query("pipeline_perplexity_buckets", _PPL_BUCKETS_ORACLE)
def pipeline_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet-style perplexity bucketing (Wenzek et al. 2020, public): each
    # doc scored by the corpus-fit bigram LM (integer micro-nat NLL,
    # operators/text.py::bigram_logprob), then split per LANGUAGE into
    # head/middle/tail terciles -- bucket = ((rank-1)*3) div n_lang on the
    # (nll, doc_id) order, integer arithmetic both engines (NTILE is
    # deliberately avoided: its remainder-distribution rule is
    # engine-defined).  The per-lang window rides a doc-sized score
    # relation partitioned by lang -- the curriculum-order shape; at
    # 100 TB the thresholds come from a quantile sketch instead and the
    # bucket assignment stays map-only.
    docs = tbl(spark, sf_dir, "documents")
    scored = X.bigram_logprob(docs)
    d = scored.join(docs.select("doc_id", "lang"), "doc_id")
    return d.select(
        "doc_id",
        "lang",
        "avg_nll_micro",
        F.expr(
            "((row_number() OVER (PARTITION BY lang"
            " ORDER BY avg_nll_micro, doc_id) - 1) * 3)"
            " div (count(1) OVER (PARTITION BY lang))"
        )
        .cast("long")
        .alias("ppl_bucket"),
    )


@query(
    "pipeline_dedup_keep_best",
    None,  # oracle attached below (reuses _clusters_oracle)
)
def pipeline_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The curation step after clustering: every near-dup cluster keeps
    # exactly ONE representative -- the longest doc (quality proxy), ties
    # to the smallest doc_id -- and the rest are marked for drop.  Spark
    # side composes connected components (pointer jumping) with one
    # cluster-keyed window; the oracle re-derives clusters via the
    # recursive-CTE transitive closure and applies the same rule.
    docs, clusters = _near_dup_clusters(spark, sf_dir)
    j = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    return j.select(
        "doc_id",
        "cluster_id",
        "n_chars",
        (F.row_number().over(w) == 1).cast("long").alias("kept"),
    )


ORACLES["pipeline_dedup_keep_best"] = f"""
    WITH cl AS (SELECT * FROM ({_clusters_oracle()}))
    SELECT c.doc_id, c.cluster_id, d.n_chars,
           CAST(row_number() OVER (PARTITION BY c.cluster_id
                                   ORDER BY d.n_chars DESC, c.doc_id) = 1
                AS BIGINT) AS kept
    FROM cl c JOIN documents d ON d.doc_id = c.doc_id
"""


@query(
    "pipeline_shard_rendezvous",
    """
    WITH a AS (
      SELECT doc_id,
             CAST(split_part(list_max(
               [md5('hrw8|' || CAST(s AS VARCHAR) || '|'
                    || CAST(doc_id AS VARCHAR)) || '|' || CAST(s AS VARCHAR)
                FOR s IN generate_series(0, 7)]), '|', 2) AS BIGINT) AS shard,
             CAST(split_part(list_max(
               [md5('hrw8|' || CAST(s AS VARCHAR) || '|'
                    || CAST(doc_id AS VARCHAR)) || '|' || CAST(s AS VARCHAR)
                FOR s IN generate_series(0, 8)]), '|', 2) AS BIGINT) AS shard9
      FROM documents)
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN shard <> shard9 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           CAST((sum(CASE WHEN shard <> shard9 THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS moved_micro
    FROM a GROUP BY shard
    """,
)
def pipeline_shard_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rendezvous-hash shard layout (operators/layout.py::rendezvous_shard)
    # plus the capacity-change stability report: assign every doc to 8
    # shards AND to 9, count per-shard how many rows would MOVE when a
    # shard is added.  HRW's contract -- only ~1/(n+1) of rows move, all
    # INTO the new shard -- is what makes growing a 100 TB layout an
    # incremental copy instead of a full rewrite (modulo sharding remaps
    # ~8/9 of everything).  Pure map-side md5 arithmetic + one
    # shard-sized agg; the oracle reproduces every assignment
    # bit-for-bit from the same lexicographic-max rule.
    from kcl_akka_stream_spark.operators.layout import rendezvous_shard

    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    id_sql = "cast(doc_id as string)"
    d = docs.select(
        "doc_id",
        rendezvous_shard(id_sql, 8, "hrw8").alias("shard"),
        rendezvous_shard(id_sql, 9, "hrw8").alias("shard9"),
    )
    moved = (F.col("shard") != F.col("shard9")).cast("long")
    return d.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(moved).cast("long").alias("n_moved"),
        F.expr(
            "(sum(CASE WHEN shard <> shard9 THEN 1 ELSE 0 END) * 1000000)"
            " div count(1)"
        )
        .cast("long")
        .alias("moved_micro"),
    )


@query(
    "graph_kcore",
    """
    WITH pairs AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
    d1 AS (SELECT n, count(*) AS d FROM (
      SELECT src AS n FROM pairs UNION ALL SELECT dst AS n FROM pairs)
      GROUP BY n),
    k1 AS (SELECT n FROM d1 WHERE d >= 3),
    e1 AS (SELECT p.src, p.dst FROM pairs p
           JOIN k1 a ON a.n = p.src JOIN k1 b ON b.n = p.dst),
    d2 AS (SELECT n, count(*) AS d FROM (
      SELECT src AS n FROM e1 UNION ALL SELECT dst AS n FROM e1)
      GROUP BY n),
    k2 AS (SELECT n FROM d2 WHERE d >= 3),
    e2 AS (SELECT p.src, p.dst FROM e1 p
           JOIN k2 a ON a.n = p.src JOIN k2 b ON b.n = p.dst),
    d3 AS (SELECT n, count(*) AS d FROM (
      SELECT src AS n FROM e2 UNION ALL SELECT dst AS n FROM e2)
      GROUP BY n),
    k3 AS (SELECT n FROM d3 WHERE d >= 3),
    e3 AS (SELECT p.src, p.dst FROM e2 p
           JOIN k3 a ON a.n = p.src JOIN k3 b ON b.n = p.dst)
    SELECT n AS node, CAST(count(*) AS BIGINT) AS degree FROM (
      SELECT src AS n FROM e3 UNION ALL SELECT dst AS n FROM e3)
    GROUP BY n
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k-core peeling (operators/graph.py::kcore_peel, k=3, 3 rounds)
    # over the quantity-filtered supplier co-purchase projection -- the
    # dense-subgraph filter run before expensive per-node work (spam
    # farms, nucleus detection).  Fixed rounds keep the relation
    # unrollable, so the oracle replays the identical peels; each
    # round's shrinking edge set is checkpointed, the surviving-node
    # set broadcasts into both semi-joins.
    from kcl_akka_stream_spark.operators.graph import kcore_peel

    edges = _supplier_co_order_edges(spark, sf_dir)
    # broadcast_scores=True: fixture node set provably fits an executor.
    return kcore_peel(edges, k=3, rounds=3, broadcast_scores=True)


def _matryoshka_oracle(dims: int = 16) -> str:
    # Compose the proven exact top-5 with a truncated-dimension twin:
    # identical brute-force arithmetic on list_slice(vec, 1, dims).
    exact = ORACLES["sim_topk_bruteforce"]
    cos = _COS.format(a="q_vec", b="n_vec")
    truncated = f"""
    WITH q AS (SELECT vec_id AS q_id,
                      list_slice(CAST(embedding AS DOUBLE[]), 1, {dims}) AS q_vec
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS n_id,
                      list_slice(CAST(embedding AS DOUBLE[]), 1, {dims}) AS n_vec
               FROM embeddings),
         scored AS (
           SELECT q_id, n_id, round({cos}, 6) AS cos_sim
           FROM c, q WHERE q_id <> n_id)
    SELECT q_id, n_id FROM (
      SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """
    return f"""
    WITH exact AS (SELECT * FROM ({exact})),
    approx AS (SELECT * FROM ({truncated}))
    SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.n_id) AS BIGINT) AS n_hits,
           CAST((count(a.n_id) * 100) // count(*) AS BIGINT) AS overlap_pct
    FROM exact e LEFT JOIN approx a
      ON a.q_id = e.q_id AND a.n_id = e.n_id
    GROUP BY e.q_id
    """


@query("sim_matryoshka_report", _matryoshka_oracle())
def sim_matryoshka_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Matryoshka / truncated-dimension retrieval audit (Kusupati 2022,
    # public): rank with only the FIRST 16 of 64 dims and measure
    # top-5 overlap against full-dimension exact retrieval, per query.
    # This is the cost-lever modern embedding deployments tune -- a
    # prefix that preserves overlap serves at 1/4 the memory/bandwidth,
    # and this report IS the acceptance gate for choosing the prefix
    # length (the sim_ivf_recall_report pattern, third ANN contract).
    # Truncation composes upstream of ANY serving path here (slice, then
    # brute force / IVF / PQ unchanged); integer overlap percentages.
    sl = F.slice(F.col("embedding"), 1, 16).alias("embedding")
    return _top5_overlap(
        spark,
        sf_dir,
        lambda emb, queries_df: S.brute_force_topk(
            emb.select("vec_id", sl), queries_df.select("vec_id", sl), k=5
        ),
        "overlap_pct",
    )


@query(
    "graph_bfs_distance",
    """
    WITH pairs AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      WHERE a.l_quantity >= 48 AND b.l_quantity >= 48),
    e AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
    seeds AS (SELECT n FROM (SELECT DISTINCT src AS n FROM e) ORDER BY n LIMIT 2),
    d0 AS (SELECT n AS node, 0 AS dist FROM seeds),
    r1 AS (SELECT e.dst AS node, min(d.dist + 1) AS dist
           FROM e JOIN d0 d ON d.node = e.src GROUP BY e.dst),
    d1 AS (SELECT node, min(dist) AS dist FROM (
      SELECT * FROM d0 UNION ALL SELECT * FROM r1) GROUP BY node),
    r2 AS (SELECT e.dst AS node, min(d.dist + 1) AS dist
           FROM e JOIN d1 d ON d.node = e.src GROUP BY e.dst),
    d2 AS (SELECT node, min(dist) AS dist FROM (
      SELECT * FROM d1 UNION ALL SELECT * FROM r2) GROUP BY node),
    r3 AS (SELECT e.dst AS node, min(d.dist + 1) AS dist
           FROM e JOIN d2 d ON d.node = e.src GROUP BY e.dst),
    d3 AS (SELECT node, min(dist) AS dist FROM (
      SELECT * FROM d2 UNION ALL SELECT * FROM r3) GROUP BY node)
    SELECT node, CAST(dist AS BIGINT) AS dist FROM d3
    """,
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multi-source BFS (operators/graph.py::bfs_distance, 3 hops) from
    # the two lowest-id suppliers over the symmetrized co-purchase
    # projection -- "blast radius of a flagged set", the proximity label
    # a moderation/fraud sweep joins against.  The 2-row seed collect is
    # a bounded probe (the quantizer-learn precedent); the oracle derives
    # the same seeds and unrolls the same three monotone min-combines.
    from kcl_akka_stream_spark.operators.graph import bfs_distance

    pairs = _supplier_co_order_edges(spark, sf_dir)
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = [
        r.n
        for r in edges.select(F.col("src").alias("n"))
        .distinct()
        .orderBy("n")
        .limit(2)
        .collect()
    ]
    # broadcast_scores=True: fixture node set provably fits an executor.
    return bfs_distance(edges, seeds, rounds=3, broadcast_scores=True)


@query(
    "text_vocab_stats",
    f"""
    WITH toks AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '{TOK}')) AS term
      FROM documents),
    tc AS (SELECT lang, term, count(*) AS c FROM toks GROUP BY lang, term),
    tot AS (
      SELECT lang, sum(c) AS n_tokens, count(*) AS n_vocab,
             sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax
      FROM tc GROUP BY lang),
    top AS (
      SELECT lang, c,
             row_number() OVER (PARTITION BY lang ORDER BY c DESC, term) AS rn
      FROM tc),
    t100 AS (SELECT lang, sum(c) AS mass FROM top WHERE rn <= 100 GROUP BY lang)
    SELECT t.lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_vocab AS BIGINT) AS n_vocab,
           CAST(n_hapax AS BIGINT) AS n_hapax,
           CAST((mass * 1000000) // n_tokens AS BIGINT) AS top100_mass_micro
    FROM tot t JOIN t100 ON t100.lang = t.lang
    """,
)
def text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Zipf/vocabulary corpus card per language: token mass, vocab size,
    # hapax-legomena count (the productive-tail indicator), and the
    # top-100-term mass share in integer micro-units -- the head-vs-tail
    # diagnostic behind tokenizer sizing and stopword policy.  One
    # data-sized token explode + (lang, term) count; everything after
    # (totals, rank window, top-100 mass) rides the VOCAB-sized relation.
    from kcl_akka_stream_spark.operators.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    # NO spread (r10 measured, 1.5x): see SPREAD_AUDIT_ALLOW
    tc = (
        docs.select("lang", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = tc.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n_hapax"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), "term")
    t100 = (
        tc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .groupBy("lang")
        .agg(F.sum("c").alias("mass"))
    )
    return tot.join(t100, "lang").select(
        "lang",
        "n_tokens",
        "n_vocab",
        "n_hapax",
        F.expr("(mass * 1000000) div n_tokens")
        .cast("long")
        .alias("top100_mass_micro"),
    )


def _quality_funnel_oracle() -> str:
    qual = _quality_oracle()
    return f"""
    WITH toks AS (
      SELECT doc_id, len(regexp_extract_all(lower(text), '{TOK}')) AS n_tok,
             n_chars, text
      FROM documents),
    g AS (SELECT doc_id, gopher_pass FROM ({qual})),
    keepers AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    flags AS (
      SELECT t.doc_id, t.n_tok,
             CAST(t.n_chars >= 200 AS INT) AS len_ok,
             g.gopher_pass,
             CAST(k.doc_id IS NOT NULL AS INT) AS keeper
      FROM toks t
      JOIN g ON g.doc_id = t.doc_id
      LEFT JOIN keepers k ON k.doc_id = t.doc_id)
    SELECT 1 AS stage, 'ingest' AS stage_name,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM flags
    UNION ALL
    SELECT 2, 'length', CAST(sum(len_ok) AS BIGINT),
           CAST(sum(len_ok * n_tok) AS BIGINT) FROM flags
    UNION ALL
    SELECT 3, 'gopher', CAST(sum(len_ok * gopher_pass) AS BIGINT),
           CAST(sum(len_ok * gopher_pass * n_tok) AS BIGINT) FROM flags
    UNION ALL
    SELECT 4, 'exact_dedup',
           CAST(sum(len_ok * gopher_pass * keeper) AS BIGINT),
           CAST(sum(len_ok * gopher_pass * keeper * n_tok) AS BIGINT)
    FROM flags
    """


@query("pipeline_quality_funnel", _quality_funnel_oracle())
def pipeline_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The curation funnel report every pipeline publishes: docs and
    # token mass surviving each filter stage (ingest -> length gate ->
    # Gopher quality flags -> exact-dup keeper), stages as conjunction
    # PREFIXES so the report is monotone by construction.  Per-doc flags
    # come from one Arrow quality pass + one digest-keyed keeper agg;
    # the funnel itself is ONE combinable aggregate unpivoted to 4 rows
    # -- never four scans.  The ablation numbers (stage N vs N+1) are
    # what decides which gate to tune at 100 TB.
    from kcl_akka_stream_spark.operators.quality import gopher_quality_flags
    from kcl_akka_stream_spark.operators.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        (F.col("n_chars") >= 200).cast("int").alias("len_ok"),
        F.md5("text").alias("__digest"),
    )
    g = gopher_quality_flags(docs).select("doc_id", "gopher_pass")
    keepers = (
        docs.groupBy(F.md5("text").alias("__digest"))
        .agg(F.min("doc_id").alias("__keep_id"))
    )
    flags = (
        base.join(g, "doc_id")
        .join(F.broadcast(keepers), "__digest")
        .select(
            "n_tok",
            "len_ok",
            "gopher_pass",
            (F.col("doc_id") == F.col("__keep_id")).cast("int").alias("keeper"),
        )
    )
    one = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.sum("n_tok").cast("long").alias("t1"),
        F.sum("len_ok").cast("long").alias("n2"),
        F.sum(F.col("len_ok") * F.col("n_tok")).cast("long").alias("t2"),
        F.sum(F.col("len_ok") * F.col("gopher_pass")).cast("long").alias("n3"),
        F.sum(F.col("len_ok") * F.col("gopher_pass") * F.col("n_tok"))
        .cast("long")
        .alias("t3"),
        F.sum(F.col("len_ok") * F.col("gopher_pass") * F.col("keeper"))
        .cast("long")
        .alias("n4"),
        F.sum(
            F.col("len_ok") * F.col("gopher_pass") * F.col("keeper") * F.col("n_tok")
        )
        .cast("long")
        .alias("t4"),
    )
    return one.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("stage"),
                    F.lit("ingest").alias("stage_name"),
                    F.col("n1").alias("n_docs"),
                    F.col("t1").alias("n_tokens"),
                ),
                F.struct(
                    F.lit(2).alias("stage"),
                    F.lit("length").alias("stage_name"),
                    F.col("n2").alias("n_docs"),
                    F.col("t2").alias("n_tokens"),
                ),
                F.struct(
                    F.lit(3).alias("stage"),
                    F.lit("gopher").alias("stage_name"),
                    F.col("n3").alias("n_docs"),
                    F.col("t3").alias("n_tokens"),
                ),
                F.struct(
                    F.lit(4).alias("stage"),
                    F.lit("exact_dedup").alias("stage_name"),
                    F.col("n4").alias("n_docs"),
                    F.col("t4").alias("n_tokens"),
                ),
            )
        ).alias("s")
    ).select("s.stage", "s.stage_name", "s.n_docs", "s.n_tokens")


# ---------------------------------------------------------------------------
# Wave 13: mergeable reservoir sample, centroid drift, padding efficiency
# ---------------------------------------------------------------------------

_RESERVOIR_ORACLE = """
    SELECT event_type,
           CAST(row_number() OVER (
                  PARTITION BY event_type
                  ORDER BY md5('rsv|' || CAST(event_id AS VARCHAR)), event_id)
                AS INT) AS sample_rank,
           event_id
    FROM events
    QUALIFY sample_rank <= 8
"""


@query("sample_reservoir_merge", _RESERVOIR_ORACLE)
def sample_reservoir_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic mergeable uniform sample ("bottom-k by hash"
    # reservoir, operators/sampling.py::hash_bottom_k): the k rows with
    # the lowest seeded md5(id) per stratum ARE a uniform k-sample, and
    # the sample is a commutative/associative/IDEMPOTENT monoid -- so
    # this query builds it the DISTRIBUTED way (fold per part, merge the
    # k*parts survivors) while the oracle builds it directly from all
    # rows in one pass: the hash match IS the merge law.  Replayed rows
    # are absorbed for free (idempotence), which is what makes this the
    # at-least-once-safe way to keep a uniform inspection sample of a
    # 100 TB stream.
    from kcl_akka_stream_spark.operators.sampling import hash_bottom_k

    ev = tbl(spark, sf_dir, "events").select("event_type", "event_id")
    parted = ev.withColumn("part", F.pmod(F.col("event_id"), F.lit(4)))
    states = hash_bottom_k(
        parted, "event_type", "event_id", 8, seed="rsv", part_cols=["part"]
    ).drop("part")
    return _reservoir_finalize(states)


def _reservoir_finalize(states: DataFrame) -> DataFrame:
    """Merge per-part bottom-8-by-hash survivors with the same selection
    and rank the sample.  Shared by ``sample_reservoir_merge`` and its
    streaming twin."""
    from kcl_akka_stream_spark.operators.sampling import hash_bottom_k

    merged = hash_bottom_k(states, "event_type", "event_id", 8, seed="rsv")
    key = F.md5(F.concat(F.lit("rsv|"), F.col("event_id").cast("string")))
    w = Window.partitionBy("event_type").orderBy(key, F.col("event_id"))
    return merged.select(
        "event_type",
        F.row_number().over(w).alias("sample_rank"),
        "event_id",
    )


_EMB_DRIFT_ORACLE = """
    WITH q AS (
      SELECT label, vec_id % 2 AS half, s.i AS pos,
             CAST(floor(s.val * 1000000 + 0.5) AS BIGINT) AS qv
      FROM (SELECT label, vec_id,
                   unnest([{'i': i, 'val': CAST(embedding[i] AS DOUBLE)}
                           FOR i IN generate_series(1, len(embedding))]) AS s
            FROM embeddings)),
    cent AS (
      SELECT label, half, pos, count(*) AS n,
             CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS cq
      FROM q GROUP BY label, half, pos),
    j AS (
      SELECT a.label, a.cq AS ca, b.cq AS cb, a.n AS na, b.n AS nb
      FROM cent a JOIN cent b ON a.label = b.label AND a.pos = b.pos
      WHERE a.half = 0 AND b.half = 1)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_dims,
           CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b,
           CAST(sum(ca * cb) AS BIGINT) AS dot_q,
           round(CAST(sum(ca * cb) AS DOUBLE)
                 / sqrt(CAST(sum(ca * ca) AS DOUBLE)
                        * CAST(sum(cb * cb) AS DOUBLE)), 6) AS cos_sim
    FROM j GROUP BY label
"""


@query("pipeline_embedding_drift", _EMB_DRIFT_ORACLE)
def pipeline_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Embedding-drift monitor: split the corpus into two snapshots
    # (vec_id parity = "last week vs this week"), compute per-label
    # INTEGER centroids for each (operators/similarity.py::
    # integer_centroids -- micro-unit quantization + int64 sums, so the
    # centroid is partitioning-independent), and report the cosine
    # between the two snapshots' centroids per label -- the "did my
    # embedding distribution move?" gate before re-fitting IVF/PQ
    # indexes.  All-integer until the single final cosine (round 6).
    # Scale: dim explode aggregates map-side to labels x dims rows; the
    # drift join is labels x dims-sized -- sketch-sized, never
    # corpus-sized.
    from kcl_akka_stream_spark.operators.similarity import integer_centroids

    emb = tbl(spark, sf_dir, "embeddings")
    cent = integer_centroids(
        emb.withColumn("half", F.pmod(F.col("vec_id"), F.lit(2))),
        ["label", "half"],
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "pos", F.col("cq").alias("ca"), F.col("n").alias("na")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "pos", F.col("cq").alias("cb"), F.col("n").alias("nb")
    )
    j = a.join(b, ["label", "pos"])
    return j.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot_q"),
        F.round(
            F.sum(F.col("ca") * F.col("cb")).cast("double")
            / F.sqrt(
                F.sum(F.col("ca") * F.col("ca")).cast("double")
                * F.sum(F.col("cb") * F.col("cb")).cast("double")
            ),
            6,
        ).alias("cos_sim"),
    )


_PADDING_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '{TOK}')) AS n
      FROM documents),
    b AS (
      SELECT ((n + 63) // 64) * 64 AS bucket_cap, n
      FROM t WHERE n > 0)
    SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS sum_tokens,
           CAST(bucket_cap * count(*) AS BIGINT) AS padded_tokens,
           CAST(((bucket_cap * count(*) - sum(n)) * 1000000)
                // (bucket_cap * count(*)) AS BIGINT) AS waste_ppm
    FROM b GROUP BY bucket_cap
"""


@query("pipeline_padding_efficiency", _PADDING_ORACLE)
def pipeline_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Length-bucketed batching audit: assign each doc to a 64-token
    # bucket (cap = next multiple of 64 -- pure integer arithmetic,
    # portable, unlike a float log2 power-of-two) and report per-bucket
    # padding waste in ppm -- the "how much compute does my batch
    # padding burn" report that decides bucketed batching / sequence
    # packing for training (pipeline_pack_tokens is the packing twin).
    # One map-only tokenize pass + one combinable agg; the token array
    # materializes once in a child projection.
    from kcl_akka_stream_spark.operators.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    t = docs.select(F.size(tokens(F.col("text"))).alias("n")).filter(
        F.col("n") > 0
    )
    b = t.select(
        (F.floor((F.col("n") + 63) / 64) * 64).cast("long").alias("bucket_cap"),
        "n",
    )
    g = b.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("sum_tokens"),
    )
    return g.select(
        "bucket_cap",
        "n_docs",
        "sum_tokens",
        (F.col("bucket_cap") * F.col("n_docs")).cast("long").alias(
            "padded_tokens"
        ),
        F.expr(
            "((bucket_cap * n_docs - sum_tokens) * 1000000)"
            " div (bucket_cap * n_docs)"
        )
        .cast("long")
        .alias("waste_ppm"),
    )


def _cms_error_oracle(depth: int = 4, width: int = 64) -> str:
    h = (
        "CAST(list_sum([(strpos('0123456789abcdef', "
        "substr(md5(CAST({r} AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), i, 1)) - 1)"
        " * power(16, 8 - i) FOR i IN generate_series(1, 8)]) AS BIGINT)"
        f" % {width}"
    )
    rows = ",".join(str(d) for d in range(depth))
    return f"""
    WITH d AS (SELECT unnest([{rows}]) AS row),
    state AS (
      SELECT row, bucket, count(*) AS cnt
      FROM (SELECT row, {h.format(r='row')} AS bucket FROM events, d)
      GROUP BY row, bucket),
    probes AS (
      SELECT DISTINCT user_id, row, {h.format(r='row')} AS bucket FROM events, d),
    est AS (
      SELECT user_id, min(coalesce(cnt, 0)) AS cms_count
      FROM probes LEFT JOIN state USING (row, bucket) GROUP BY user_id),
    ex AS (SELECT user_id, count(*) AS exact_count FROM events GROUP BY user_id),
    tot AS (SELECT count(*) AS n_total FROM events),
    per_key AS (
      SELECT est.user_id, cms_count - exact_count AS overcount, n_total
      FROM est JOIN ex USING (user_id) CROSS JOIN tot)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN overcount = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(sum(CASE WHEN overcount * {width} <= 3 * n_total
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_3w,
           CAST(sum(CASE WHEN overcount < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_underestimates,
           CAST(max(overcount) AS BIGINT) AS max_overcount,
           CAST(max(n_total) AS BIGINT) AS n_total
    FROM per_key
    """


@query("agg_cms_error_report", _cms_error_oracle())
def agg_cms_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CMS acceptance contract, completing the sketch-contract family
    # (KMV: agg_kmv_error_report, HLL: agg_approx_distinct_report,
    # ANN: sim_ivf_recall_report): over EVERY key, compare the one-sided
    # Count-Min estimate to the exact count and report (a) keys estimated
    # exactly, (b) keys within the 3N/width envelope (the e*N/w Markov
    # bound holds per ROW with e~2.72<3; taking the min over depth=4
    # independent rows makes a beyond-3N/w key a broken sketch, not an
    # unlucky one -- the HLL 3-sigma lesson applied to CMS), and
    # (c) underestimates, which CMS can NEVER produce -- a nonzero
    # n_underestimates turns the gate red by construction.  All counters
    # integer-exact; the oracle rebuilds the identical sketch in SQL.
    from kcl_akka_stream_spark.operators.sketches import cms_state

    ev = tbl(spark, sf_dir, "events")
    est = _cms_estimates(ev, cms_state(ev, "user_id", depth=4, width=64))
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    per_key = (
        est.join(exact, "user_id")
        .crossJoin(F.broadcast(tot))
        .select(
            (F.col("cms_count") - F.col("exact_count")).alias("overcount"),
            "n_total",
        )
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum((F.col("overcount") == 0).cast("int"))
        .cast("long")
        .alias("n_exact"),
        F.sum((F.col("overcount") * 64 <= 3 * F.col("n_total")).cast("int"))
        .cast("long")
        .alias("n_within_3w"),
        F.sum((F.col("overcount") < 0).cast("int"))
        .cast("long")
        .alias("n_underestimates"),
        F.max("overcount").cast("long").alias("max_overcount"),
        F.max("n_total").cast("long").alias("n_total"),
    )


@query(
    "sim_knn_classify",
    f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec,
                      label AS true_label
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_vec,
                      label AS n_label FROM embeddings),
         scored AS (
           SELECT q_id, true_label, n_id, n_label,
                  round({_COS.format(a="q_vec", b="n_vec")}, 6) AS cos_sim
           FROM c, q WHERE q_id <> n_id),
         topk AS (
           SELECT q_id, true_label, n_label FROM (
             SELECT q_id, true_label, n_label,
                    row_number() OVER (PARTITION BY q_id
                                       ORDER BY cos_sim DESC, n_id) AS rank
             FROM scored) WHERE rank <= 5),
         votes AS (
           SELECT q_id, true_label, n_label, count(*) AS votes
           FROM topk GROUP BY q_id, true_label, n_label)
    SELECT q_id, CAST(n_label AS BIGINT) AS pred_label,
           CAST(votes AS BIGINT) AS votes,
           CAST(true_label AS BIGINT) AS true_label,
           CAST(CASE WHEN n_label = true_label THEN 1 ELSE 0 END AS INT)
             AS correct
    FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY votes DESC, n_label) AS rn
          FROM votes)
    WHERE rn = 1
    """,
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k-NN classification readout: majority vote over the exact top-5
    # cosine neighbors' labels (vote ties to the smallest label),
    # compared to the query's true label -- the eval-harness shape
    # (retrieval-based classification / label-propagation sanity check)
    # composed from the proven brute-force top-k.  The vote and argmax
    # ride the k*queries-sized top-k relation; labels attach by
    # broadcast.
    emb = tbl(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    tk = S.brute_force_topk(emb, queries_df, k=5)
    lab = emb.select(F.col("vec_id").alias("n_id"), F.col("label").alias("n_label"))
    truth = emb.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("true_label")
    )
    votes = (
        tk.join(F.broadcast(lab), "n_id")
        .join(F.broadcast(truth), "q_id")
        .groupBy("q_id", "true_label", "n_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("votes").desc(), "n_label")
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "q_id",
            F.col("n_label").cast("long").alias("pred_label"),
            F.col("votes").cast("long").alias("votes"),
            F.col("true_label").cast("long").alias("true_label"),
            (F.col("n_label") == F.col("true_label"))
            .cast("int")
            .alias("correct"),
        )
    )


@query(
    "pipeline_repeated_ngram_ratio",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, unnest([array_to_string(list_slice(t, i, i + 2), ' ')
                             FOR i IN generate_series(1, len(t) - 2)]) AS g
      FROM t WHERE len(t) >= 3),
    gc AS (
      SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY doc_id, g)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_grams,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(((sum(cnt) - count(*)) * 1000000) // sum(cnt) AS BIGINT)
             AS rep_ppm,
           CAST(max(cnt) AS BIGINT) AS max_gram_count
    FROM gc GROUP BY doc_id
    """,
)
def pipeline_repeated_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style INTRA-document repetition gate: the fraction of token
    # 3-grams that are repeats within the same doc (rep_ppm) plus the
    # hottest gram's count -- the boilerplate/spam signal the Gopher
    # rules apply per document, complementary to text_novelty_report's
    # CROSS-document first-seen measure.  One (doc, gram) combinable
    # count + one doc-keyed fold, all integer; the gram explode is
    # map-side from a single child-projected token array.
    from kcl_akka_stream_spark.operators.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    # spread(): gram explode parallelism floor (r9 #5 tripwire)
    t = spread(docs).select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 3
    )
    grams = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2),"
                " i -> concat_ws(' ', slice(t, i, 3)))"
            )
        ).alias("g"),
    )
    gc = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    return gc.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_grams"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.expr("((sum(cnt) - count(1)) * 1000000) div sum(cnt)")
        .cast("long")
        .alias("rep_ppm"),
        F.max("cnt").cast("long").alias("max_gram_count"),
    )


@query(
    "w_rolling_distinct_users",
    """
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
      FROM events),
    grid AS (SELECT DISTINCT d FROM du),
    cover AS (
      SELECT DISTINCT unnest([d + CAST(i AS INTEGER) FOR i IN generate_series(0, 6)]) AS g,
             user_id
      FROM du),
    wau AS (
      SELECT grid.d AS d, count(DISTINCT c.user_id) AS wau7
      FROM grid JOIN cover c ON c.g = grid.d GROUP BY grid.d),
    dau AS (SELECT d, count(DISTINCT user_id) AS dau FROM du GROUP BY d)
    SELECT strftime(dau.d, '%Y-%m-%d') AS day,
           CAST(dau AS BIGINT) AS dau, CAST(wau7 AS BIGINT) AS wau7
    FROM dau JOIN wau ON dau.d = wau.d
    """,
)
def w_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rolling distinct actives (DAU / trailing-7-day WAU): COUNT(DISTINCT)
    # over a sliding window does not decompose, so the scale-right shape
    # is COVERAGE EXPLODE -- each (day, user) presence covers the 7 grid
    # days it contributes to, dedup, then a plain per-day distinct count.
    # Cost is 7x the presence relation (days x users, already distinct),
    # never data-sized; the grid join is broadcast.  This is the
    # engagement metric every dashboard needs and naive windowing gets
    # wrong (sum of daily distincts != distinct over window).
    ev = tbl(spark, sf_dir, "events")
    du = ev.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"), "user_id"
    ).distinct()
    # three consumers (grid, cover, dau) -- checkpoint the days x users
    # presence relation so the DATA-SIZED distinct over events runs once,
    # not three times (the graph-family discipline)
    du = du.localCheckpoint(eager=True)
    grid = du.select(F.col("d").alias("gd")).distinct()
    cover = du.select(
        F.explode(F.expr("sequence(d, date_add(d, 6))")).alias("g"),
        "user_id",
    ).distinct()
    wau = (
        cover.join(F.broadcast(grid), cover.g == grid.gd)
        .groupBy("gd")
        .agg(F.countDistinct("user_id").cast("long").alias("wau7"))
        .withColumnRenamed("gd", "d")
    )
    dau = du.groupBy("d").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    return dau.join(wau, "d").select(
        F.date_format("d", "yyyy-MM-dd").alias("day"), "dau", "wau7"
    )


@query(
    "agg_markov_transitions",
    """
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events),
    pairs AS (
      SELECT from_type, to_type, count(*) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
    tot AS (SELECT from_type, sum(n) AS n_from FROM pairs GROUP BY from_type)
    SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n,
           CAST((p.n * 1000000) // t.n_from AS BIGINT) AS prob_ppm
    FROM pairs p JOIN tot t ON p.from_type = t.from_type
    """,
)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # First-order Markov transition matrix over per-user event sequences:
    # transition counts and row-normalized probabilities in integer ppm
    # -- the behavioral model behind w_top_paths' raw path counts and
    # w_funnel_conversion's fixed funnel.  ONE user exchange carries the
    # lead(); the pair agg is combinable and the row totals derive from
    # the PAIR relation (types^2-sized), never a second corpus pass --
    # the text_bigram_logprob discipline.
    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # row totals as a window over the types^2-sized pair relation: no
    # second corpus pass AND no duplicated pair subtree (a totals
    # groupBy + join re-derives the pairs agg twice in the plan)
    return pairs.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        F.expr(
            "(n * 1000000) div sum(n) OVER (PARTITION BY from_type)"
        )
        .cast("long")
        .alias("prob_ppm"),
    )


@query(
    "graph_weighted_paths",
    """
    WITH p AS (
      SELECT CAST(o_custkey AS BIGINT) AS src,
             CAST(l_suppkey AS BIGINT) + 1099511627776 AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2),
    e AS (SELECT src, dst, 1000000 // w AS cost FROM p
          UNION ALL SELECT dst AS src, src AS dst, 1000000 // w AS cost FROM p),
    d0 AS (SELECT CAST(node AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
           FROM (VALUES (1), (2), (3)) AS s(node)),
    d1 AS (SELECT node, min(dist) AS dist FROM (
             SELECT node, dist FROM d0
             UNION ALL
             SELECT e.dst AS node, d0.dist + e.cost AS dist
             FROM e JOIN d0 ON d0.node = e.src)
           GROUP BY node),
    d2 AS (SELECT node, min(dist) AS dist FROM (
             SELECT node, dist FROM d1
             UNION ALL
             SELECT e.dst AS node, d1.dist + e.cost AS dist
             FROM e JOIN d1 ON d1.node = e.src)
           GROUP BY node),
    d3 AS (SELECT node, min(dist) AS dist FROM (
             SELECT node, dist FROM d2
             UNION ALL
             SELECT e.dst AS node, d2.dist + e.cost AS dist
             FROM e JOIN d2 ON d2.node = e.src)
           GROUP BY node)
    SELECT CASE WHEN node < 1099511627776
                THEN 'c' || CAST(node AS VARCHAR)
                ELSE 's' || CAST(node - 1099511627776 AS VARCHAR) END AS node,
           CAST(dist AS BIGINT) AS dist_cost
    FROM d3
    """,
)
def graph_weighted_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bounded Bellman-Ford over the co-purchase graph: cheapest <=3-edge
    # path cost from a 3-customer seed set, with edge cost inversely
    # proportional to tie strength (cost = 1e6 div w) -- "how strongly
    # is this node connected to the trusted set", the weighted
    # completion of graph_bfs_distance's hop counts.  Same iteration
    # discipline as pagerank/BFS (operators/graph.py::weighted_distance):
    # edge base checkpointed once, node-sized distance relation
    # checkpointed per round, one broadcast join + min-combine per
    # round; all-integer min-plus arithmetic, so the oracle unrolls the
    # same three relaxations bit-for-bit.
    from kcl_akka_stream_spark.operators.graph import weighted_distance

    sym = _co_purchase_edges(spark, sf_dir)
    edges = sym.select("src", "dst", F.expr("1000000 div w").alias("cost"))
    # broadcast_scores=True: fixture node set provably fits an executor.
    dist = weighted_distance(edges, [1, 2, 3], rounds=3, broadcast_scores=True)
    return dist.select(
        _graph_decode("node").alias("node"),
        F.col("dist").cast("long").alias("dist_cost"),
    )


def _minhash_incremental_oracle() -> str:
    return f"""
    WITH base AS ({_minhash_oracle()})
    SELECT id_a, id_b,
           CASE WHEN id_a % 5 = 0 AND id_b % 5 = 0 THEN 'new_new'
                ELSE 'new_store' END AS pair_kind
    FROM base
    WHERE id_a % 5 = 0 OR id_b % 5 = 0
    """


@query("dedup_minhash_incremental", _minhash_incremental_oracle())
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental LSH dedup: treat doc_id % 5 == 0 as today's batch and
    # the rest as the standing signature store; candidate pairs are
    # generated ONLY where a new doc is involved (new x store probes the
    # bucket index, new x new covers the batch itself) -- store x store
    # pairs were emitted when those docs arrived and never materialize
    # again (operators/dedup.py::minhash_incremental_pairs).  Per-batch
    # cost is batch-sized x bucket fan-out, independent of corpus
    # history: the minhash twin of pipeline_bloom_dedup's exact-dup
    # increment, and the missing piece that turns dedup_minhash_lsh
    # into a daily delta job at 100 TB.  The oracle derives the same
    # pair set by filtering the full LSH join -- equality proves the
    # incremental split loses nothing involving the batch.
    from kcl_akka_stream_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_lsh_buckets,
    )

    docs = tbl(spark, sf_dir, "documents")
    buckets = minhash_lsh_buckets(docs).withColumn(
        "is_new", F.pmod(F.col("doc_id"), F.lit(5)) == 0
    )
    pairs = minhash_incremental_pairs(buckets)
    return pairs.select(
        "id_a",
        "id_b",
        F.when(
            (F.pmod(F.col("id_a"), F.lit(5)) == 0)
            & (F.pmod(F.col("id_b"), F.lit(5)) == 0),
            F.lit("new_new"),
        )
        .otherwise(F.lit("new_store"))
        .alias("pair_kind"),
    )


# ---------------------------------------------------------------------------
# Wave 17: nearest-centroid classification + deterministic bootstrap CI
# ---------------------------------------------------------------------------

_CENTROID_CLASSIFY_ORACLE = """
    WITH q AS (
      SELECT label, vec_id, vec_id % 2 AS half, s.i AS pos,
             CAST(floor(s.val * 1000000 + 0.5) AS BIGINT) AS qv
      FROM (SELECT label, vec_id,
                   unnest([{'i': i, 'val': CAST(embedding[i] AS DOUBLE)}
                           FOR i IN generate_series(1, len(embedding))]) AS s
            FROM embeddings)),
    cent AS (
      SELECT label AS cand_label, pos,
             CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS cq
      FROM q WHERE half = 0 GROUP BY label, pos),
    scored AS (
      SELECT t.vec_id, t.label AS true_label, c.cand_label,
             CAST(sum(t.qv * c.cq) AS DOUBLE)
               / sqrt(CAST(sum(c.cq * c.cq) AS DOUBLE)) AS score
      FROM q t JOIN cent c ON c.pos = t.pos
      WHERE t.half = 1
      GROUP BY t.vec_id, t.label, c.cand_label),
    pred AS (
      SELECT true_label, cand_label AS pred_label
      FROM (SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY score DESC, cand_label ASC) AS r
            FROM scored)
      WHERE r = 1)
    SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n_vecs
    FROM pred GROUP BY true_label, pred_label
"""


@query("sim_centroid_classify", _CENTROID_CLASSIFY_ORACLE)
def sim_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Nearest-centroid (Rocchio) classification readout (operators/
    # similarity.py::nearest_centroid_classify): train on even vec_ids,
    # classify odd ones, report the confusion matrix.  The
    # production-scale counterpart of sim_knn_classify: the model is a
    # labels x dims table that broadcasts forever, so classification is
    # one broadcast join + combinable agg + per-vector argmax -- no
    # test x train pair relation, ever.  Integer centroids + exact int64
    # dot/norm sums; the score is ONE IEEE div/sqrt from exact ints, so
    # argmax (ties to smallest label) matches DuckDB bit-for-bit.
    from kcl_akka_stream_spark.operators.similarity import (
        nearest_centroid_classify,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    train = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    test = emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1)
    pred = nearest_centroid_classify(train, test)
    return pred.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )


def _bootstrap_oracle(b: int = 32) -> str:
    # Mirrors poisson_bootstrap_weights' one-digest-feeds-four-replicas
    # slicing: replica b's uniform = 8-hex slice (b % 4) of
    # md5(seed | b div 4 | id).
    from kcl_akka_stream_spark.operators.sampling import POISSON1_CDF_U32

    t0, t1, t2, t3 = POISSON1_CDF_U32
    u32 = (
        "CAST(('0x' || substring(md5('boot|' || CAST(b // 4 AS VARCHAR) "
        "|| '|' || CAST(event_id AS VARCHAR)), (b % 4) * 8 + 1, 8)) "
        "AS BIGINT)"
    )
    return f"""
    WITH reps AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, b,
             CASE WHEN {u32} < {t0} THEN 0
                  WHEN {u32} < {t1} THEN 1
                  WHEN {u32} < {t2} THEN 2
                  WHEN {u32} < {t3} THEN 3
                  ELSE 4 END AS w
      FROM events CROSS JOIN (SELECT unnest(range({b})) AS b)),
    rep_means AS (
      SELECT event_type, b,
             (sum(w * cents) * 100) // greatest(sum(w), 1) AS mean_cc
      FROM reps GROUP BY event_type, b),
    ranked AS (
      SELECT event_type, mean_cc,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY mean_cc, b) AS r
      FROM rep_means),
    ci AS (
      SELECT event_type,
             max(CASE WHEN r = 2 THEN mean_cc END) AS ci_lo_cc,
             max(CASE WHEN r = {b - 1} THEN mean_cc END) AS ci_hi_cc
      FROM ranked GROUP BY event_type),
    pt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             (sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 100)
               // count(*) AS mean_cc
      FROM events GROUP BY event_type)
    SELECT pt.event_type, pt.n_events,
           CAST(pt.mean_cc AS BIGINT) AS mean_cc,
           CAST(ci.ci_lo_cc AS BIGINT) AS ci_lo_cc,
           CAST(ci.ci_hi_cc AS BIGINT) AS ci_hi_cc
    FROM pt JOIN ci ON ci.event_type = pt.event_type
    """


@query("agg_bootstrap_ci", _bootstrap_oracle())
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic Poisson bootstrap (operators/sampling.py::
    # poisson_bootstrap_weights, Chamandy 2012): 32 resample replicas of
    # mean event value per type, each row's replica weight a truncated
    # Poisson(1) drawn from seeded md5 -- no RNG state, no resample
    # index, partitioning-independent, so a second engine reproduces
    # every replicate EXACTLY.  The CI is the (2nd, 31st) of the 32
    # ranked replicate means (~94% coverage), in integer centi-cents
    # throughout (div -- no float drift).  Scale: map-only explode x32
    # collapses into the (type, b) partial agg map-side; the rank window
    # rides a types x 32 relation.  This is the eval-pipeline primitive:
    # error bars on any corpus statistic in one pass.
    from kcl_akka_stream_spark.operators.sampling import (
        poisson_bootstrap_weights,
    )

    ev = tbl(spark, sf_dir, "events").select("event_type", "event_id", "value")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    reps = poisson_bootstrap_weights(ev, "event_id", b=32).withColumn(
        "cents", cents
    )
    rep_means = reps.groupBy("event_type", "b").agg(
        F.expr("sum(w * cents) * 100 div greatest(sum(w), 1)").alias("mean_cc")
    )
    pt = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr(
            "sum(cast(floor(value * 100 + 0.5) as bigint)) * 100 div count(*)"
        ).alias("mean_cc"),
    )
    return _bootstrap_finalize(rep_means, pt)


def _bootstrap_finalize(rep_means: DataFrame, pt: DataFrame) -> DataFrame:
    """(2nd, 31st) of the 32 ranked replicate means ``rep_means``
    (event_type, b, mean_cc) as the CI, joined to the point estimate ``pt``
    (event_type, n_events, mean_cc).  Shared by ``agg_bootstrap_ci`` and
    its streaming twin."""
    w = Window.partitionBy("event_type").orderBy("mean_cc", "b")
    ranked = rep_means.withColumn("r", F.row_number().over(w))
    ci = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("r") == 2, F.col("mean_cc"))).alias("ci_lo_cc"),
        F.max(F.when(F.col("r") == 31, F.col("mean_cc"))).alias("ci_hi_cc"),
    )
    return pt.join(ci, "event_type").select(
        "event_type",
        "n_events",
        F.col("mean_cc").cast("long").alias("mean_cc"),
        F.col("ci_lo_cc").cast("long").alias("ci_lo_cc"),
        F.col("ci_hi_cc").cast("long").alias("ci_hi_cc"),
    )


# ---------------------------------------------------------------------------
# Wave 18 (round 9): cosine range search + RAKE keyword extraction
# ---------------------------------------------------------------------------


@query(
    "sim_range_search",
    f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_vec
               FROM embeddings)
    SELECT q_id, n_id,
           round({_COS.format(a="q_vec", b="n_vec")}, 6) AS cos_sim
    FROM c, q
    WHERE q_id <> n_id
      AND round({_COS.format(a="q_vec", b="n_vec")}, 6) >= 0.2
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact cosine RANGE search (operators/similarity.py::range_search):
    # every neighbor within the radius, not a fixed k -- the audit /
    # recall-filter retrieval mode (dense neighborhoods keep all members,
    # sparse ones return none, where top-k would truncate or pad).  Same
    # broadcast-queries shape as sim_topk_bruteforce with the rank window
    # replaced by a map-side threshold filter: ZERO corpus-side shuffles.
    # The cosine rounds to 6 dp BEFORE the comparison, so the boundary
    # set is identical cross-engine.
    emb = tbl(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return S.range_search(emb, queries_df, threshold=0.2)


def _rake_oracle(top_k: int = 20) -> str:
    from kcl_akka_stream_spark.operators.text import RAKE_STOP_RE

    return f"""
    WITH segs AS (
      SELECT unnest(string_split(
               regexp_replace(regexp_replace(lower(text),
                 '{RAKE_STOP_RE}', '|', 'g'), '[^a-z|]+', ' ', 'g'),
               '|')) AS seg
      FROM documents),
    occ AS (
      SELECT regexp_extract_all(seg, '[a-z]+') AS words FROM segs
      WHERE len(regexp_extract_all(seg, '[a-z]+')) BETWEEN 1 AND 3),
    wst AS (
      SELECT w, sum(plen) * 1000000 // count(*) AS wscore_micro
      FROM (SELECT len(words) AS plen, unnest(words) AS w FROM occ)
      GROUP BY w),
    pst AS (
      SELECT array_to_string(words, ' ') AS phrase, count(*) AS n_occurrences
      FROM occ GROUP BY array_to_string(words, ' ')),
    pw AS (SELECT phrase, n_occurrences,
                  unnest(string_split(phrase, ' ')) AS w
           FROM pst),
    sc AS (SELECT phrase, n_occurrences, sum(wscore_micro) AS score_micro
           FROM pw JOIN wst USING (w) GROUP BY phrase, n_occurrences)
    SELECT phrase, CAST(n_occurrences AS BIGINT) AS n_occurrences,
           CAST(score_micro AS BIGINT) AS score_micro
    FROM sc ORDER BY score_micro DESC, phrase LIMIT {top_k}
    """


@query("text_rake_keywords", _rake_oracle())
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RAKE keyword extraction (operators/text.py::rake_keywords; Rose et
    # al. 2010, public): stopword/punctuation boundaries carve content-
    # word runs into candidate phrases; words score degree/frequency in
    # integer micro-units; a phrase scores the sum of its words.  The
    # vocabulary-free complement of pipeline_tfidf_topk (no IDF table to
    # build or broadcast).  Map-only phrase generation, ONE combinable
    # word agg + ONE combinable phrase agg, scoring join on the
    # vocab-sized distinct-phrase relation, TakeOrdered top-20.
    docs = tbl(spark, sf_dir, "documents")
    return X.rake_keywords(docs, top_k=20)


@query(
    "graph_hits_topk",
    """
    WITH p AS (
      SELECT CAST(o_custkey AS BIGINT) AS src,
             CAST(l_suppkey AS BIGINT) AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2),
    a1 AS (SELECT dst, sum(w) AS a FROM p GROUP BY dst),
    h1 AS (SELECT p.src, sum(p.w * a1.a) AS h
           FROM p JOIN a1 ON a1.dst = p.dst GROUP BY p.src),
    a2 AS (SELECT p.dst, sum(p.w * h1.h) AS a
           FROM p JOIN h1 ON h1.src = p.src GROUP BY p.dst),
    h2 AS (SELECT p.src, sum(p.w * a2.a) AS h
           FROM p JOIN a2 ON a2.dst = p.dst GROUP BY p.src),
    th AS (SELECT 'hub' AS role, 'c' || CAST(src AS VARCHAR) AS node,
                  CAST(h AS BIGINT) AS score
           FROM h2 ORDER BY h DESC, src LIMIT 10),
    ta AS (SELECT 'auth' AS role, 's' || CAST(dst AS VARCHAR) AS node,
                  CAST(a AS BIGINT) AS score
           FROM a2 ORDER BY a DESC, dst LIMIT 10)
    SELECT role, node, score FROM th UNION ALL SELECT role, node, score FROM ta
    """,
)
def graph_hits_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HITS hubs & authorities (operators/graph.py::hits, Kleinberg 1999)
    # over the DIRECTED customer->supplier co-purchase graph: the
    # bipartite ranking pagerank cannot give (pagerank needs the
    # symmetrized graph; HITS scores the two sides separately -- "which
    # customers concentrate buying power" x "which suppliers attract
    # it").  Two exact int64 rounds, no normalization (positive per-round
    # scale factors preserve ranking); the oracle unrolls the same four
    # half-steps.  Node ids iterate as longs; decode + top-10 per role
    # happen on the node-sized checkpointed outputs.
    from kcl_akka_stream_spark.operators.graph import hits

    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("long").alias("src"),
            F.col("l_suppkey").cast("long").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    # broadcast_scores=True: fixture node set provably fits an executor.
    hubs, auths = hits(p, iterations=2, broadcast_scores=True)
    th = (
        hubs.orderBy(F.col("hub").desc(), "node")
        .limit(10)
        .select(
            F.lit("hub").alias("role"),
            F.concat(F.lit("c"), F.col("node").cast("string")).alias("node"),
            F.col("hub").alias("score"),
        )
    )
    ta = (
        auths.orderBy(F.col("auth").desc(), "node")
        .limit(10)
        .select(
            F.lit("auth").alias("role"),
            F.concat(F.lit("s"), F.col("node").cast("string")).alias("node"),
            F.col("auth").alias("score"),
        )
    )
    return th.unionByName(ta)


@query(
    "graph_degree_assortativity",
    """
    WITH p AS (
      SELECT CAST(o_custkey AS BIGINT) AS src,
             CAST(l_suppkey + 1099511627776 AS BIGINT) AS dst
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2),
    e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
    deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY src),
    xy AS (
      SELECT ds.d AS x, dd.d AS y
      FROM e JOIN deg ds ON ds.node = e.src JOIN deg dd ON dd.node = e.dst),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sx2,
             CAST(sum(y * y) AS BIGINT) AS sy2
      FROM xy)
    SELECT n, sx, sy, sxy, sx2, sy2,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * sy2
                           - CAST(sy AS DOUBLE) * sy)), 6) AS assortativity_r
    FROM s
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Degree assortativity (Newman 2002, public): Pearson correlation of
    # endpoint degrees across the symmetrized co-purchase edges -- do
    # hubs attach to hubs (r > 0, social-style) or to leaves (r < 0,
    # bipartite/hub-spoke style)?  A one-number graph-shape diagnostic
    # that decides skew strategy before running the iterative
    # algorithms.  Composition: degree agg + two broadcast degree
    # attaches + the exact integer-moments fold (operators/
    # aggregations.py::pearson_stats discipline); r is one double
    # expression from exact int64 sums.  Bipartite co-purchase graphs
    # are strongly disassortative by construction -- the pytest pins
    # r < 0.
    from kcl_akka_stream_spark.operators.aggregations import pearson_stats

    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + (1 << 40)).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("__w"))
        .select("src", "dst")
    )
    e = p.unionByName(
        p.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    xy = (
        e.join(
            F.broadcast(deg.select(F.col("node").alias("__s"), F.col("d").alias("x"))),
            e.src == F.col("__s"),
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("__d"), F.col("d").alias("y"))),
            e.dst == F.col("__d"),
        )
        .select(F.lit("all").alias("g"), "x", "y")
    )
    r = pearson_stats(xy, "g", "x", "y")
    return r.select(
        "n", "sx", "sy", "sxy", "sx2", "sy2",
        F.col("corr_r").alias("assortativity_r"),
    )


#: floor(0.15 * 2^32) -- the frozen span-corruption mask rate threshold
#: (15% of token positions), classified from a seeded-md5 uniform by pure
#: int comparison in both engines.
_MASK_RATE_U32 = 644245094


@query(
    "pipeline_span_corruption",
    f"""
    WITH toks AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
      FROM documents),
    pos AS (
      SELECT doc_id, n_tokens, unnest(generate_series(1, n_tokens)) AS i
      FROM toks WHERE n_tokens > 0),
    m AS (
      SELECT doc_id, n_tokens, i
      FROM pos
      WHERE CAST(('0x' || substring(md5('t5|' || CAST(doc_id AS VARCHAR)
                  || '|' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
            < {_MASK_RATE_U32}),
    sp AS (
      SELECT doc_id, n_tokens,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
               AS island
      FROM m),
    agg AS (
      SELECT doc_id, max(n_tokens) AS n_tokens,
             count(*) AS n_masked,
             count(DISTINCT island) AS n_spans
      FROM sp GROUP BY doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_masked AS BIGINT) AS n_masked,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_masked * 1000000 // n_tokens AS BIGINT) AS mask_ppm
    FROM agg
    """,
)
def pipeline_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T5-style span-corruption PLAN (Raffel et al. 2020, public): each
    # token position masks iff its seeded-md5 uniform clears the frozen
    # 15% threshold (_MASK_RATE_U32 -- pure int comparison, identical
    # cross-engine), and consecutive masked positions merge into spans
    # via the islands trick (i - row_number is constant within a run).
    # Per doc: token count, masked count, span count, integer-ppm mask
    # rate -- the denoising-objective statistics a pretraining pipeline
    # audits before committing a corruption seed.  Deterministic: no RNG
    # state, any engine or partitioning reproduces the same mask.  Scale
    # shape: map-only position explode, one doc-keyed window over the
    # masked subset (15% of tokens), one combinable doc agg.
    docs = tbl(spark, sf_dir, "documents")
    # spread(): the per-position explode + md5 must not serialize onto a
    # 1-partition scan (r9 #5 tripwire)
    toks = spread(docs).select(
        "doc_id", F.size(X.tokens(F.col("text"))).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    pos = toks.select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(1), F.col("n_tokens"))).alias("i"),
    )
    u32 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("t5|"),
                    F.col("doc_id").cast("string"),
                    F.lit("|"),
                    F.col("i").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    m = pos.filter(u32 < F.lit(_MASK_RATE_U32))
    w = Window.partitionBy("doc_id").orderBy("i")
    sp = m.withColumn("island", F.col("i") - F.row_number().over(w))
    agg = sp.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_masked"),
        F.countDistinct("island").cast("long").alias("n_spans"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_masked",
        "n_spans",
        F.expr("n_masked * 1000000 div n_tokens").cast("long").alias("mask_ppm"),
    )


@query(
    "agg_histogram_kl_drift",
    """
    WITH b AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) // 100 AS bin
      FROM events),
    ha AS (SELECT event_type, bin, count(*) AS a FROM b
           WHERE event_id % 2 = 0 GROUP BY event_type, bin),
    hb AS (SELECT event_type, bin, count(*) AS bc FROM b
           WHERE event_id % 2 = 1 GROUP BY event_type, bin),
    j AS (
      SELECT coalesce(ha.event_type, hb.event_type) AS event_type,
             coalesce(ha.bin, hb.bin) AS bin,
             coalesce(a, 0) + 1 AS a1, coalesce(bc, 0) + 1 AS b1
      FROM ha FULL OUTER JOIN hb
        ON ha.event_type = hb.event_type AND ha.bin = hb.bin),
    t AS (
      SELECT event_type, bin, a1, b1,
             sum(a1) OVER (PARTITION BY event_type) AS na,
             sum(b1) OVER (PARTITION BY event_type) AS nb
      FROM j)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(max(na) AS BIGINT) AS n_a_smoothed,
           CAST(max(nb) AS BIGINT) AS n_b_smoothed,
           CAST(sum(a1 * CAST(round(ln((CAST(a1 AS DOUBLE) * nb)
                                       / (CAST(b1 AS DOUBLE) * na)) * 1000000,
                              0) AS BIGINT)) AS BIGINT) AS kl_num_micro
    FROM t GROUP BY event_type
    """,
)
def agg_histogram_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distribution-drift monitor: KL(P||Q) between two snapshot halves'
    # value histograms (parity split on event_id -- the
    # pipeline_embedding_drift fixture discipline), Laplace-smoothed
    # (+1 per observed bin) so no bin divides by zero, emitted as the
    # INTEGER numerator sum(a_i * micro_ln(a_i * Nb / (b_i * Na))) with
    # the smoothed totals alongside (KL = num / (Na * 1e6)) -- each ln
    # frozen to micro-nats before any sum, the entropy-report discipline
    # that keeps cross-engine hashing exact.  The alert a curation
    # pipeline fires when a new crawl slice stops looking like the
    # corpus.  Two combinable hist aggs; the join and windows ride the
    # bounded bin relation.
    ev = tbl(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("cast(floor(value * 100 + 0.5) as bigint) div 100").alias("bin"),
    )
    ha = ev.filter(F.col("event_id") % 2 == 0).groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("a")
    )
    hb = ev.filter(F.col("event_id") % 2 == 1).groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("bc")
    )
    return _kl_drift_finalize(ha, hb)


def _kl_drift_finalize(ha: DataFrame, hb: DataFrame) -> DataFrame:
    """+1 Laplace smoothing, full-outer bin alignment and the frozen-ln KL
    fold over the two halves' per-(event_type, bin) counts ``a`` and
    ``bc``.  Shared by ``agg_histogram_kl_drift`` and its streaming twin
    (smoothing per batch would double-count the prior, so it runs after
    the merge)."""
    j = ha.join(hb, ["event_type", "bin"], "full_outer").select(
        "event_type",
        "bin",
        (F.coalesce("a", F.lit(0)) + 1).alias("a1"),
        (F.coalesce("bc", F.lit(0)) + 1).alias("b1"),
    )
    tw = Window.partitionBy("event_type")
    t = j.withColumn("na", F.sum("a1").over(tw)).withColumn(
        "nb", F.sum("b1").over(tw)
    )
    term = F.round(
        F.log(
            (F.col("a1").cast("double") * F.col("nb"))
            / (F.col("b1").cast("double") * F.col("na"))
        )
        * 1e6,
        0,
    ).cast("long")
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.max("na").cast("long").alias("n_a_smoothed"),
        F.max("nb").cast("long").alias("n_b_smoothed"),
        F.sum(F.col("a1") * term).cast("long").alias("kl_num_micro"),
    )


@query(
    "pipeline_hard_negatives",
    f"""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label,
                      CAST(embedding AS DOUBLE[]) AS q_vec
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS n_id, label AS n_label,
                      CAST(embedding AS DOUBLE[]) AS n_vec FROM embeddings),
         scored AS (
           SELECT q_id, n_id,
                  round({_COS.format(a="q_vec", b="n_vec")}, 6) AS cos_sim
           FROM c, q WHERE q_id <> n_id AND q_label <> n_label)
    SELECT q_id, n_id, cos_sim, rank FROM (
      SELECT q_id, n_id, cos_sim,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos_sim DESC, n_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def pipeline_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hard-negative mining for contrastive embedding training: per query
    # vector, the top-5 most-similar vectors with a DIFFERENT label --
    # the negatives that actually teach the model (random negatives are
    # trivially far; the hard ones sit just across the boundary).  Same
    # broadcast-queries brute-force shape as sim_topk_bruteforce with
    # the label-inequality predicate fused into the scoring join, so
    # mismatched labels never score.  At 100 TB the candidate generator
    # swaps to the IVF/LSH machinery; the label filter stays fused.
    emb = tbl(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_vec"),
    )
    from kcl_akka_stream_spark.plans.hygiene import spread

    c = spread(
        emb.select(
            F.col("vec_id").alias("n_id"),
            F.col("label").alias("n_label"),
            F.col("embedding").alias("n_vec"),
        )
    )
    score = F.round(S.cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("cos_sim")
    scored = S._broadcast_score(
        c, q, score, cond=F.col("q_label") != F.col("n_label")
    )
    return S._rank_topk(scored, "cos_sim", 5).select("q_id", "n_id", "cos_sim", "rank")


@query(
    "text_tokenizer_fertility",
    f"""
    WITH t AS (
      SELECT lang,
             len(regexp_extract_all(lower(text),
                 '{X.BPE_PATTERN.replace(chr(39), chr(39) * 2)}')) AS n_bpe,
             len(string_split_regex(trim(text), '\\s+')) AS n_ws
      FROM documents WHERE len(trim(text)) > 0)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_ws) AS BIGINT) AS n_words,
           CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(n_bpe) * 1000000 // sum(n_ws) AS BIGINT)
             AS fertility_ppm
    FROM t GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokenizer fertility per language: BPE-ish tokens per whitespace
    # word in integer ppm -- THE cross-lingual tokenizer-efficiency
    # diagnostic (a language whose fertility runs 2x pays 2x the compute
    # per word and fills context windows twice as fast; it drives both
    # vocab sizing and per-language token budgets in mixture design).
    # Map-only tokenize passes + one combinable lang agg.
    docs = tbl(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    t = docs.select(
        "lang",
        F.size(X.bpe_tokens(F.col("text"))).alias("n_bpe"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_ws"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_ws").cast("long").alias("n_words"),
        F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
        F.expr("sum(n_bpe) * 1000000 div sum(n_ws)")
        .cast("long")
        .alias("fertility_ppm"),
    )


@query(
    "agg_benford_deviation",
    """
    WITH d AS (
      SELECT event_type,
             CAST(substring(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM events WHERE value >= 0.01),
    c AS (
      SELECT event_type, digit, count(*) AS n FROM d
      GROUP BY event_type, digit),
    t AS (
      SELECT event_type, digit, n,
             sum(n) OVER (PARTITION BY event_type) AS tot
      FROM c)
    SELECT event_type, digit,
           CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // tot AS BIGINT) AS obs_ppm,
           CAST(round(ln(1.0 + 1.0 / digit) / ln(10.0) * 1000000, 0)
                AS BIGINT) AS benford_ppm,
           CAST(abs(n * 1000000 // tot
                    - CAST(round(ln(1.0 + 1.0 / digit) / ln(10.0) * 1000000,
                                 0) AS BIGINT)) AS BIGINT) AS abs_dev_ppm
    FROM t
    """,
)
def agg_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Benford first-digit audit (Newcomb 1881 / Benford 1938, public):
    # observed leading-digit shares vs the log10(1 + 1/d) law, per event
    # type, everything in integer ppm (the expected share is ONE frozen
    # ln-derived constant per digit -- round before any comparison, the
    # entropy-report discipline).  The classic fabricated-data /
    # unit-mixing tripwire a data-quality pipeline runs on monetary
    # columns; a synthetic uniform fixture shows large abs_dev_ppm on
    # digit 1 by construction (uniform value ranges are NOT Benford --
    # the report detects that honestly).  One combinable (type, digit)
    # count; shares ride the <= 9-rows-per-type relation.
    ev = tbl(spark, sf_dir, "events").filter(F.col("value") >= 0.01)
    d = ev.select(
        "event_type",
        F.substring(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit"),
    )
    c = d.groupBy("event_type", "digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.withColumn("tot", F.sum("n").over(Window.partitionBy("event_type")))
    benford = F.round(
        F.log(1.0 + 1.0 / F.col("digit").cast("double")) / F.log(F.lit(10.0)) * 1e6,
        0,
    ).cast("long")
    obs = F.expr("n * 1000000 div tot").cast("long")
    return t.select(
        "event_type",
        "digit",
        F.col("n").cast("long").alias("n"),
        obs.alias("obs_ppm"),
        benford.alias("benford_ppm"),
        F.abs(obs - benford).cast("long").alias("abs_dev_ppm"),
    )


# ---------------------------------------------------------------------------
# Round-10 wave 24: MIPS serving, corpus density/charset cards, prefix dedup,
# cross-language vocabulary overlap
# ---------------------------------------------------------------------------

_IP = "list_dot_product({a}, {b})"


@query(
    "sim_mips_topk",
    f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_vec
               FROM embeddings),
         scored AS (
           SELECT q_id, n_id,
                  round({_IP.format(a="q_vec", b="n_vec")}, 6) AS ip
           FROM c, q WHERE q_id <> n_id)
    SELECT q_id, n_id, ip, rank FROM (
      SELECT q_id, n_id, ip,
             row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, n_id)
               AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact maximum-inner-product top-k (operators/similarity.py::
    # mips_topk; Shrivastava & Li 2014 frame the MIPS-vs-NN gap): the
    # ranking recommenders and reward models serve -- NO norm division,
    # so it deliberately diverges from sim_topk_bruteforce's cosine
    # whenever corpus norms vary (the pytest pins a divergence case).
    # Same serving shape: broadcast queries, map-side corpus scoring,
    # per-query rank window.
    emb = tbl(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return S.mips_topk(emb, queries_df, k=5).select("q_id", "n_id", "ip", "rank")


@query(
    "pipeline_tokens_per_byte",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{TOK}')) AS BIGINT)
             AS n_tokens,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(len(regexp_extract_all(lower(text), '{TOK}')) * 1000000
                // strlen(text) AS BIGINT) AS density_ppm
    FROM documents WHERE strlen(text) > 0
    """,
)
def pipeline_tokens_per_byte(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Token density per byte (integer ppm) -- the compression-ratio
    # proxy quality filters use (Gopher/C4 lineage): too FEW tokens per
    # byte means binary junk / encoding damage, too MANY means
    # boilerplate-ish short-token soup.  Map-only (one regexp pass +
    # octet_length), whole-stage codegen, zero shuffle -- the cheapest
    # corpus card column there is.
    docs = tbl(spark, sf_dir, "documents")
    n_tok = F.size(X.tokens(F.col("text"))).cast("long")
    n_bytes = F.octet_length("text").cast("long")
    return docs.filter(F.octet_length("text") > 0).select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_bytes.alias("n_bytes"),
        F.expr(
            f"cast(size(regexp_extract_all(lower(text), '{TOK}', 0))"
            " * 1000000 div octet_length(text) as bigint)"
        ).alias("density_ppm"),
    )


@query(
    "text_charset_profile",
    """
    WITH c AS (
      SELECT lang,
             CAST(sum(length(text)) AS BIGINT) AS n_chars,
             CAST(sum(length(text) - length(regexp_replace(text, '[a-z]', '', 'g')))
                  AS BIGINT) AS n_lower,
             CAST(sum(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
                  AS BIGINT) AS n_upper,
             CAST(sum(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                  AS BIGINT) AS n_digit,
             CAST(sum(length(text) - length(regexp_replace(text, ' ', '', 'g')))
                  AS BIGINT) AS n_space
      FROM documents GROUP BY lang)
    SELECT lang, n_chars,
           CAST(n_lower * 1000000 // n_chars AS BIGINT) AS lower_ppm,
           CAST(n_upper * 1000000 // n_chars AS BIGINT) AS upper_ppm,
           CAST(n_digit * 1000000 // n_chars AS BIGINT) AS digit_ppm,
           CAST(n_space * 1000000 // n_chars AS BIGINT) AS space_ppm,
           CAST((n_chars - n_lower - n_upper - n_digit - n_space) * 1000000
                // n_chars AS BIGINT) AS other_ppm
    FROM c
    """,
)
def text_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-language character-class profile in integer ppm (lower /
    # upper / digit / space / other shares of all characters) -- the
    # encoding-damage and wrong-language-tag tripwire a corpus card
    # carries: a "de" slice that is 30% digits is scraped tables, an
    # "en" slice heavy in 'other' is mojibake.  Class counts come from
    # length-difference after class-stripping regexp_replace (one pass
    # per class, map-only, zero joins); ONE combinable lang agg.
    # Both engines count CHARACTERS (Spark F.length == DuckDB length();
    # the oracle previously used strlen=BYTES, which agreed only on
    # ASCII fixtures and diverged on exactly the multibyte text this
    # profile exists to catch -- ADVICE r10, multibyte case now
    # pytest-pinned in tests/test_wave24_ops.py).
    docs = tbl(spark, sf_dir, "documents")
    ln = F.length("text").cast("long")
    strip = lambda pat: (  # noqa: E731
        ln - F.length(F.regexp_replace("text", pat, "")).cast("long")
    )
    c = docs.groupBy("lang").agg(
        F.sum(ln).cast("long").alias("n_chars"),
        F.sum(strip("[a-z]")).cast("long").alias("n_lower"),
        F.sum(strip("[A-Z]")).cast("long").alias("n_upper"),
        F.sum(strip("[0-9]")).cast("long").alias("n_digit"),
        F.sum(strip(" ")).cast("long").alias("n_space"),
    )
    ppm = lambda col: F.expr(f"cast({col} * 1000000 div n_chars as bigint)")  # noqa: E731
    return c.select(
        "lang",
        "n_chars",
        ppm("n_lower").alias("lower_ppm"),
        ppm("n_upper").alias("upper_ppm"),
        ppm("n_digit").alias("digit_ppm"),
        ppm("n_space").alias("space_ppm"),
        F.expr(
            "cast((n_chars - n_lower - n_upper - n_digit - n_space)"
            " * 1000000 div n_chars as bigint)"
        ).alias("other_ppm"),
    )


@query(
    "dedup_prefix_digest",
    """
    SELECT md5(lower(substring(text, 1, 16))) AS prefix_digest,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_full
    FROM documents
    GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_prefix_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Prefix-digest dedup report: crawl re-ingests and templated spam
    # share their opening characters long before whole-document hashes
    # collide, so grouping on md5 of the lowercased 16-char prefix is
    # the cheap FIRST-pass blocker a dedup cascade runs before MinHash
    # (one digest per doc vs shingles x hashes).  n_distinct_full
    # counts how many distinct FULL texts hide behind each shared
    # prefix -- the false-positive measure that tells you whether the
    # prefix block needs exact or near-dup verification downstream.
    # One combinable digest agg (partial-distinct map-side for the full
    # digest count); report rows only for colliding groups.
    docs = tbl(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            F.md5(F.lower(F.substring("text", 1, 16))).alias("prefix_digest")
        )
        .agg(
            F.min("doc_id").cast("long").alias("keeper_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct(F.md5("text")).cast("long").alias("n_distinct_full"),
        )
        .filter(F.col("n_copies") > 1)
    )


@query(
    "text_lang_vocab_jaccard",
    f"""
    WITH lt AS (
      SELECT DISTINCT lang, unnest(regexp_extract_all(lower(text), '{TOK}'))
               AS term
      FROM documents),
    sz AS (SELECT lang, count(*) AS v FROM lt GROUP BY lang),
    pairs AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_common
      FROM lt a JOIN lt b ON a.term = b.term AND a.lang < b.lang
      GROUP BY 1, 2)
    SELECT lang_a, lang_b,
           CAST(sa.v AS BIGINT) AS n_vocab_a,
           CAST(sb.v AS BIGINT) AS n_vocab_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 1000000 // (sa.v + sb.v - n_common) AS BIGINT)
             AS jaccard_ppm
    FROM pairs
    JOIN sz sa ON sa.lang = lang_a
    JOIN sz sb ON sb.lang = lang_b
    """,
)
def text_lang_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-language vocabulary overlap: Jaccard of the distinct-token
    # sets for every language pair, in integer ppm -- the
    # contamination/mislabeling diagnostic for a multilingual corpus
    # (two "different" languages sharing 60% of their vocabulary are
    # one language with bad tags, or share a boilerplate injection).
    # Scale shape: token explode -> (lang, term) DISTINCT (one
    # combinable exchange, vocab-sized output); the pair join runs on
    # the VOCAB-sized relation keyed by term (never doc-sized), sizes
    # attach broadcast; output is lang-pair-sized.
    docs = tbl(spark, sf_dir, "documents")
    # the distinct vocab relation feeds THREE consumers (sizes + both join
    # sides); localCheckpoint materializes the tokenize+distinct once --
    # without it the plan re-runs the whole subtree per consumer (11
    # exchanges vs 4, measured at sf0.001)
    lt = (
        spread(docs)
        .select("lang", F.explode(X.tokens(F.col("text"))).alias("term"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sz = lt.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("v"))
    a = lt.select(F.col("lang").alias("lang_a"), "term")
    b = lt.select(F.col("lang").alias("lang_b"), "term")
    pairs = (
        a.join(b, "term")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = F.broadcast(sz.select(F.col("lang").alias("lang_a"), F.col("v").alias("n_vocab_a")))
    sb = F.broadcast(sz.select(F.col("lang").alias("lang_b"), F.col("v").alias("n_vocab_b")))
    return (
        pairs.join(sa, "lang_a")
        .join(sb, "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_vocab_a",
            "n_vocab_b",
            "n_common",
            F.expr(
                "cast(n_common * 1000000 div (n_vocab_a + n_vocab_b - n_common)"
                " as bigint)"
            ).alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Round-10 wave 25: rank fusion, order-aware ANN acceptance, reciprocity
# ---------------------------------------------------------------------------


@query(
    "sim_rrf_fusion",
    f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_vec
               FROM embeddings),
         s AS (SELECT q_id, n_id,
                      round({_COS.format(a="q_vec", b="n_vec")}, 6) AS cos_sim,
                      round({_IP.format(a="q_vec", b="n_vec")}, 6) AS ip
               FROM c, q WHERE q_id <> n_id),
         rc AS (SELECT q_id, n_id,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY cos_sim DESC, n_id) AS r
                FROM s),
         ri AS (SELECT q_id, n_id,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY ip DESC, n_id) AS r
                FROM s),
         fused AS (
           SELECT coalesce(a.q_id, b.q_id) AS q_id,
                  coalesce(a.n_id, b.n_id) AS n_id,
                  CAST(coalesce(1000000000 // (60 + a.r), 0)
                       + coalesce(1000000000 // (60 + b.r), 0) AS BIGINT)
                    AS rrf_score
           FROM (SELECT * FROM rc WHERE r <= 10) a
           FULL OUTER JOIN (SELECT * FROM ri WHERE r <= 10) b
             ON a.q_id = b.q_id AND a.n_id = b.n_id)
    SELECT q_id, n_id, rrf_score, fused_rank FROM (
      SELECT q_id, n_id, rrf_score,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY rrf_score DESC, n_id) AS fused_rank
      FROM fused)
    WHERE fused_rank <= 5
    """,
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009, public)
    # of the two retrieval rankings this engine serves -- cosine
    # (semantic direction) and inner product (magnitude-aware) -- with
    # the standard k=60 damping: score = sum over lists of
    # 1e9 div (60 + rank), integer end-to-end (missing from a list
    # contributes 0), fused top-5 with ties on neighbor id.  RRF is the
    # production way to combine heterogeneous rankers without score
    # calibration (ranks, not scores, fuse).  Scale shape: both
    # rankings are the broadcast-query serving shape; fusion is a
    # (q, n)-keyed full-outer join of two k-bounded relations + one
    # rank window -- everything after the scoring is query-set-sized.
    emb = tbl(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    cos = S.brute_force_topk(emb, queries_df, k=10).select(
        "q_id", "n_id", F.col("rank").alias("r_cos")
    )
    ip = S.mips_topk(emb, queries_df, k=10).select(
        F.col("q_id").alias("qi"), F.col("n_id").alias("ni"),
        F.col("rank").alias("r_ip"),
    )
    fused = (
        cos.join(
            ip,
            (F.col("q_id") == F.col("qi")) & (F.col("n_id") == F.col("ni")),
            "full_outer",
        )
        .select(
            F.coalesce("q_id", "qi").alias("q_id"),
            F.coalesce("n_id", "ni").alias("n_id"),
            (
                F.coalesce(
                    F.expr("1000000000 div (60 + r_cos)"), F.lit(0)
                )
                + F.coalesce(F.expr("1000000000 div (60 + r_ip)"), F.lit(0))
            ).cast("long").alias("rrf_score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("rrf_score").desc(), "n_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= 5)
        .select("q_id", "n_id", "rrf_score", "fused_rank")
    )


def _ndcg_oracle() -> str:
    # Compose the exact and IVF rankings (both independently verified);
    # relevance = 6 - exact_rank, frozen integer position discounts
    # W[p] = round(1e6 / log2(p + 1)).
    exact = ORACLES["sim_topk_bruteforce"]
    approx = _ivf_oracle()
    return f"""
    WITH exact AS (SELECT * FROM ({exact})),
    approx AS (SELECT * FROM ({approx})),
    w(p, wt) AS (VALUES (1, 1000000), (2, 630930), (3, 500000),
                        (4, 430677), (5, 386853)),
    dcg AS (
      SELECT a.q_id,
             CAST(sum(coalesce(6 - e.rank, 0) * w.wt) AS BIGINT) AS dcg_micro
      FROM approx a
      JOIN w ON w.p = a.rank
      LEFT JOIN exact e ON e.q_id = a.q_id AND e.n_id = a.n_id
      GROUP BY a.q_id)
    SELECT q_id, dcg_micro,
           CAST(10271927 AS BIGINT) AS idcg_micro,
           CAST(dcg_micro * 1000000 // 10271927 AS BIGINT) AS ndcg_ppm
    FROM dcg
    """


@query("sim_ndcg_eval", _ndcg_oracle())
def sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Order-aware ANN acceptance contract: nDCG@5 of the IVF nprobe=1
    # ranking against the exact ranking (Jarvelin & Kekalainen 2002,
    # public) -- recall@k (sim_ivf_recall_report) treats positions as a
    # set; nDCG charges the index for returning the right neighbors in
    # the WRONG order, which is what serving quality actually is.
    # Integer end-to-end: relevance = 6 - exact_rank (0 if outside the
    # exact top-5), position discounts frozen as round(1e6/log2(p+1))
    # literals, ideal DCG = the constant 10,271,927 (rels 5..1 in
    # order), ndcg in ppm by integer division.  Both rankings break
    # ties on n_id, so the measurement is deterministic cross-engine.
    emb = tbl(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(emb, queries_df, k=5).select(
        F.col("q_id").alias("eq"), F.col("n_id").alias("en"),
        F.col("rank").alias("e_rank"),
    )
    approx = S.ivf_topk(emb, queries_df, k=5, nprobe=1).select(
        "q_id", "n_id", F.col("rank").alias("a_rank")
    )
    wts = F.element_at(
        F.array(*[F.lit(w) for w in (1000000, 630930, 500000, 430677, 386853)]),
        F.col("a_rank").cast("int"),
    )
    idcg = 5 * 1000000 + 4 * 630930 + 3 * 500000 + 2 * 430677 + 1 * 386853
    dcg = (
        approx.join(
            exact,
            (F.col("q_id") == F.col("eq")) & (F.col("n_id") == F.col("en")),
            "left",
        )
        .select(
            "q_id",
            (
                F.coalesce(F.lit(6) - F.col("e_rank"), F.lit(0)) * wts
            ).cast("long").alias("g"),
        )
        .groupBy("q_id")
        .agg(F.sum("g").cast("long").alias("dcg_micro"))
    )
    return dcg.select(
        "q_id",
        "dcg_micro",
        F.lit(idcg).cast("long").alias("idcg_micro"),
        F.expr(f"dcg_micro * 1000000 div {idcg}").cast("long").alias("ndcg_ppm"),
    )


@query(
    "graph_reciprocity",
    """
    WITH sd AS (
      SELECT l_orderkey AS k, l_suppkey AS s, min(l_shipdate) AS d
      FROM lineitem GROUP BY 1, 2),
    e AS (
      SELECT DISTINCT a.s AS src, b.s AS dst
      FROM sd a JOIN sd b ON a.k = b.k
       AND (a.d < b.d OR (a.d = b.d AND a.s < b.s))),
    mutual AS (
      SELECT e.src, e.dst FROM e
      WHERE EXISTS (SELECT 1 FROM e r
                    WHERE r.src = e.dst AND r.dst = e.src))
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM mutual) AS BIGINT) AS n_mutual,
           CAST((SELECT count(*) FROM mutual) * 1000000
                // (SELECT count(*) FROM e) AS BIGINT) AS reciprocity_ppm
    """,
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Directed-graph reciprocity (Newman 2002 family): the fraction of
    # directed edges whose reverse edge also exists, over the
    # ships-earlier supplier precedence graph (a -> b iff a's first
    # shipment in some shared order precedes b's; date ties break by
    # suppkey, so the relation is deterministic).  Reciprocity near 1
    # means precedence is incidental (pairs alternate across orders);
    # near 0 means a stable shipping hierarchy -- the
    # hierarchy-vs-exchange diagnostic for any interaction graph, and
    # the third one-number graph-shape probe next to assortativity and
    # clustering coefficient.  Scale shape: one (order, supplier) agg,
    # one per-order wedge join, edge distinct, and a self-semi-join on
    # the reversed key -- all hash-partitioned; output is one row.
    # The wedge blow-up is sum_k C(m_k, 2), governed by ORDER WIDTH
    # (distinct suppliers per order), and the r10 probe measured it
    # super-linear (3.80x wall at 10x) when widths grow with replication
    # -- so the 100 TB knob is max_order_width (VERDICT r10 #5, the
    # cooccurrence_pairs(max_basket_size=) pattern): orders wider than
    # the cap are dropped ENTIRELY before the self-join (whole-order
    # drop, not truncation -- a truncated order would emit an arbitrary
    # edge subset and bias reciprocity; a dropped one is an explicit,
    # auditable exclusion).  64 drops nothing at any fixture SF (TPC-H
    # max order width 7), so the uncapped oracle matches bit-for-bit;
    # production sets it to the order-width p99.9.  Cap behavior
    # pytest-pinned (test_wave25_ops.py).
    return _reciprocity_plan(spark, sf_dir, max_order_width=64)


def _reciprocity_plan(
    spark: SparkSession, sf_dir: str, max_order_width: int | None
) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    sd = li.groupBy(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("s")
    ).agg(F.min("l_shipdate").alias("d"))
    # Edges per order WITHOUT the wedge self-join (r15: the
    # minhash_candidate_pairs shape): collect each order's (d, s) rows,
    # sort, and emit ordered pairs map-side -- (s_i -> s_j) for i < j in
    # (d, s) lexicographic order is exactly the old
    # "da < db OR (da = db AND sa < sb)" wedge filter.  One k-keyed
    # aggregation replaces the self-join AND the order-width Window
    # (the cap is now a size() filter on the collected array; whole-
    # order drop semantics unchanged).  ABBA at sf0.1: 2.574 -> 2.149 s;
    # edge sets collect-compared equal.
    grouped = sd.groupBy("k").agg(
        F.array_sort(F.collect_list(F.struct("d", "s"))).alias("arr")
    )
    if max_order_width is not None:
        grouped = grouped.filter(F.size("arr") <= max_order_width)
    big = F.lit(1 << 30)
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("arr"),
                    lambda x, i: F.transform(
                        F.slice(F.col("arr"), i + 2, big),
                        lambda y: F.struct(
                            x.getField("s").alias("src"),
                            y.getField("s").alias("dst"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    e = (
        pairs.select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds 3 consumers (counts + both semi sides)
    )
    mutual = e.join(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
        "left_semi",
    )
    n_e = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_m = mutual.agg(F.count(F.lit(1)).cast("long").alias("n_mutual"))
    return (
        F.broadcast(n_e)
        .crossJoin(F.broadcast(n_m))
        .select(
            "n_edges",
            "n_mutual",
            F.expr("n_mutual * 1000000 div n_edges").cast("long").alias(
                "reciprocity_ppm"
            ),
        )
    )


def _sorted_neighborhood_oracle(w: int = 3, threshold: float = 0.2) -> str:
    # Window-w sorted-neighborhood candidates + the exact-Jaccard verify
    # stage shared with _minhash_verified_oracle.
    return f"""
    WITH {_SH_CTE},
    keyed AS (
      SELECT doc_id, lang, lower(substring(text, 1, 24)) AS k
      FROM documents),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn
      FROM keyed),
    cands AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                      greatest(a.doc_id, b.doc_id) AS id_b
      FROM ranked a JOIN ranked b
        ON a.lang = b.lang AND b.rn BETWEEN a.rn + 1 AND a.rn + {w}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_common
      FROM cands c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b,
           round(CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common), 6)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE round(CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common), 6)
          >= {threshold}
    """


@query("dedup_sorted_neighborhood", _sorted_neighborhood_oracle())
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sorted-neighborhood blocking (Hernandez & Stolfo 1995, public) --
    # the THIRD candidate-generation family next to LSH banding
    # (probabilistic) and prefix digests (exact head): sort each
    # language's docs by a canonical key (lowercased 24-char prefix) and
    # pair every doc with its w=3 successors in sort order, then verify
    # candidates with exact shingle Jaccard (the shared two-stage
    # recipe).  Catches near-dups whose edits fall OUTSIDE the hashed
    # prefix but keep the sort locality LSH can miss on short docs.
    # Scale shape (VERDICT r10 #4 de-skew): the sort partitions on
    # (lang, first-char band) with exact-global-rank boundary stitching
    # (operators/dedup.py::sorted_neighborhood_pairs) -- a monolingual
    # corpus no longer forces a one-partition sort; candidate set is
    # provably IDENTICAL to the global per-lang sort (set equality
    # pytest-pinned, skewed 10x probe row in SCALE_PROBE.md).
    # Verification cost stays |candidates| = w x docs.
    docs = tbl(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "lang",
        F.lower(F.substring("text", 1, 24)).alias("k"),
    )
    cands = D.sorted_neighborhood_pairs(
        keyed, key_col="k", id_col="doc_id", block_col="lang", w=3
    )
    return D.verify_candidate_jaccard(docs, cands, k=3, threshold=0.2)


# ---------------------------------------------------------------------------
# Round-10 wave 27: LSH recall acceptance contract
# ---------------------------------------------------------------------------


def _lsh_recall_oracle() -> str:
    # Compose the two independently-verified oracles: exact top-5 and the
    # sign-LSH bucketed top-5, count the per-query overlap -- the
    # recall-contract shape shared with _ivf_recall_oracle.
    exact = ORACLES["sim_topk_bruteforce"]
    approx = _lsh_topk_oracle()
    return f"""
    WITH exact AS (SELECT * FROM ({exact})),
    approx AS (SELECT * FROM ({approx}))
    SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.n_id) AS BIGINT) AS n_hits,
           CAST((count(a.n_id) * 100) // count(*) AS BIGINT) AS recall_pct
    FROM exact e LEFT JOIN approx a
      ON a.q_id = e.q_id AND a.n_id = e.n_id
    GROUP BY e.q_id
    """


@query("sim_lsh_recall_report", _lsh_recall_oracle())
def sim_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The LSH acceptance contract, completing the per-index recall
    # family: IVF has sim_ivf_recall_report, matryoshka has its overlap
    # report -- sign-LSH (the remaining serving tier) now carries the
    # same in-query recall@5 vs exact brute force.  Different indices
    # lose recall in DIFFERENT ways (IVF at cluster boundaries; sign-LSH
    # on near-orthant-boundary vectors), so each tier needs its own
    # measured gate -- a deployment picks the tier by these reports, not
    # by faith.  Integer-exact hits*100 div k; both branches tie-break
    # on n_id.
    return _top5_overlap(
        spark,
        sf_dir,
        lambda emb, queries_df: S.lsh_topk(emb, queries_df, k=5, bucket_dims=4),
    )


# ---------------------------------------------------------------------------
# Round-10 wave 30: collocation mining (PMI)
# ---------------------------------------------------------------------------


@query(
    "text_pmi_collocations",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    pairs AS (
      SELECT doc_id, unnest([{{'a': t[i], 'b': t[i + 1]}}
                             FOR i IN generate_series(1, len(t) - 1)]) AS p
      FROM toks WHERE len(t) >= 2),
    pr AS (SELECT p.a AS a, p.b AS b FROM pairs),
    pc AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY a, b
           HAVING count(*) >= 5),
    la AS (SELECT a, count(*) AS n_a FROM pr GROUP BY a),
    lb AS (SELECT b, count(*) AS n_b FROM pr GROUP BY b),
    tot AS (SELECT count(*) AS n FROM pr),
    scored AS (
      SELECT pc.a, pc.b, CAST(pc.n_ab AS BIGINT) AS n_ab,
             CAST(round(ln(CAST(pc.n_ab AS DOUBLE) * n
                           / (CAST(n_a AS DOUBLE) * n_b)) * 1000000)
                  AS BIGINT) AS pmi_micro
      FROM pc JOIN la USING (a) JOIN lb USING (b) CROSS JOIN tot)
    SELECT a, b, n_ab, pmi_micro FROM scored
    ORDER BY pmi_micro DESC, a, b LIMIT 20
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Collocation mining by pointwise mutual information (Church & Hanks
    # 1990, public): adjacent token pairs scoring
    # ln(P(a,b) / (P(a)P(b))) in frozen integer micro-nats, min support
    # 5, top-20 -- the multiword-expression detector ("new york",
    # "machine learning") a tokenizer/phrase pipeline runs before
    # merging phrases into units.  Distinct from the bigram LM
    # (conditional P(b|a) for scoring) and BPE pairs (raw frequency):
    # PMI normalizes BOTH margins, surfacing rare-but-exclusive pairs.
    # Scale shape: the kept bigram-pair spread seam feeds ONE combinable
    # (a, b) count; margins are word-sized aggs broadcast back; support
    # filter bounds the scored relation; TakeOrdered top-20.
    from kcl_akka_stream_spark.operators.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    # bigram_structs binds the token array once (optimization r15: the
    # inline zip_with(slice, slice) form paid the tokenizer regexp 4x
    # per row -- see operators/text.py::bind_once)
    pair_struct = X.bigram_structs(tokens(F.col("text")))
    # the pair relation feeds FOUR consumers (pair counts, both margins,
    # the total); localCheckpoint materializes the tokenize+explode once
    # (8 -> 4 exchanges measured at sf0.001)
    pr = (
        spread(docs)
        .select(F.explode(pair_struct).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .localCheckpoint(eager=True)
    )
    pc = (
        pr.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    la = pr.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    lb = pr.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    tot = pr.agg(F.count(F.lit(1)).cast("long").alias("n"))
    scored = (
        pc.join(F.broadcast(la), "a")
        .join(F.broadcast(lb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "n_ab",
            F.expr(
                "cast(round(ln(cast(n_ab as double) * n"
                " / (cast(n_a as double) * n_b)) * 1000000) as bigint)"
            ).alias("pmi_micro"),
        )
    )
    return scored.orderBy(F.col("pmi_micro").desc(), "a", "b").limit(20)


# ---------------------------------------------------------------------------
# Round-11 wave 31: containment dedup, temperature mixture, epoch shuffle,
# readability
# ---------------------------------------------------------------------------


def _containment_oracle(threshold: float = 0.8) -> str:
    mh = _minhash_oracle()
    return f"""
    WITH {_SH_CTE},
    cands AS (SELECT * FROM ({mh})),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_common
      FROM cands c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(sa.n_sh AS BIGINT) AS n_a,
           CAST(sb.n_sh AS BIGINT) AS n_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           round(CAST(i.n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6)
             AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE round(CAST(i.n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6)
          >= {threshold}
    """


@query("dedup_containment_verified", _containment_oracle())
def dedup_containment_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Containment verification (Broder 1997's second resemblance
    # measure) on the SAME LSH candidate stream as
    # dedup_minhash_verified: |A∩B| / min(|A|,|B|) instead of Jaccard.
    # The asymmetric measure is the quote-inclusion / boilerplate-
    # wrapper detector -- a short doc pasted inside a long one scores
    # containment ~1.0 but Jaccard ~|A|/|B|, so the Jaccard gate alone
    # ships exactly the wrapped dups a training corpus most wants gone.
    # Same 100 TB shape as the Jaccard verify: candidate-bounded, two
    # id-keyed joins, map-side array_intersect
    # (operators/dedup.py::verify_candidate_containment).
    docs = tbl(spark, sf_dir, "documents")
    buckets = D.minhash_lsh_buckets(docs, num_hashes=8, bands=4, k=3)
    cands = D.minhash_candidate_pairs(buckets)
    return D.verify_candidate_containment(docs, cands, k=3, threshold=0.8)


@query(
    "pipeline_mixture_temperature",
    """
    WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    w AS (
      SELECT lang, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
               AS w_micro
      FROM n),
    t AS (SELECT sum(w_micro) AS tw, sum(n_docs) AS tn FROM w)
    SELECT w.lang, CAST(w.n_docs AS BIGINT) AS n_docs,
           CAST(w.n_docs * 1000000 // t.tn AS BIGINT) AS raw_share_ppm,
           CAST(w.w_micro * 1000000 // t.tw AS BIGINT) AS sampled_share_ppm,
           CAST(w.w_micro * 1000000 // t.tw
                - w.n_docs * 1000000 // t.tn AS BIGINT) AS boost_ppm
    FROM w, t
    """,
)
def pipeline_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Temperature-scaled source mixture (the multilingual sampling rule
    # from public mBERT/mT5/PaLM recipes: sample source i with
    # probability proportional to n_i^tau, tau < 1, so low-resource
    # slices are up-sampled).  tau is pinned to 0.5 because sqrt is an
    # IEEE CORRECTLY-ROUNDED op (identical in Spark and DuckDB from
    # identical int64 counts) while pow(x, tau) is not -- the weights
    # freeze to integer micro-units immediately after the sqrt, so the
    # shares and the boost deltas are exact integer arithmetic
    # cross-engine.  Scale shape: one combinable lang count, everything
    # after rides the LANG-sized relation with a broadcast total.
    docs = tbl(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = n.select(
        "lang",
        "n_docs",
        F.expr("cast(floor(sqrt(cast(n_docs as double)) * 1000000) as bigint)")
        .alias("w_micro"),
    )
    t = w.agg(
        F.sum("w_micro").alias("tw"), F.sum("n_docs").alias("tn")
    )
    return w.crossJoin(F.broadcast(t)).select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.expr("n_docs * 1000000 div tn").cast("long").alias("raw_share_ppm"),
        F.expr("w_micro * 1000000 div tw").cast("long").alias("sampled_share_ppm"),
        F.expr(
            "w_micro * 1000000 div tw - n_docs * 1000000 div tn"
        ).cast("long").alias("boost_ppm"),
    )


@query(
    "corpus_epoch_shuffle",
    """
    WITH e AS (SELECT unnest([0, 1]) AS epoch),
    keyed AS (
      SELECT e.epoch, d.doc_id,
             md5('epoch-' || e.epoch || ':' || d.doc_id) AS k
      FROM documents d, e),
    ranked AS (
      SELECT epoch, doc_id, k,
             row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS pos
      FROM keyed)
    SELECT epoch, CAST(pos % 8 AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(bit_xor(doc_id * 1048573 + pos) AS BIGINT) AS perm_checksum,
           min(k) AS first_key, max(k) AS last_key
    FROM ranked GROUP BY epoch, pos % 8
    """,
)
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic epoch shuffle + shard assignment -- the data-loader
    # contract a multi-epoch training run needs: every epoch is a
    # DIFFERENT but REPRODUCIBLE permutation (md5 of epoch:doc_id; no
    # RNG state, so any worker can recompute any shard), and docs land
    # on 8 round-robin shards in permuted order.  The report pins the
    # FULL permutation per (epoch, shard): count, an order-sensitive
    # xor checksum of doc_id*P + position (P = 1048573; exact for
    # doc_id < ~8.8e12), and the first/last sort keys -- a wrong
    # position anywhere flips the checksum in both engines.  Scale
    # shape: the permutation sort is ONE epoch-partitioned exchange
    # (production shards the sort by key prefix like the banded SN);
    # the report is a bounded (epoch x shard) rollup.
    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.crossJoin(
        F.broadcast(
            tbl(spark, sf_dir, "documents")
            .sparkSession.range(2)
            .select(F.col("id").cast("int").alias("epoch"))
        )
    ).select(
        "epoch",
        "doc_id",
        F.md5(F.concat(F.lit("epoch-"), F.col("epoch"), F.lit(":"), F.col("doc_id")))
        .alias("k"),
    )
    wp = Window.partitionBy("epoch").orderBy("k", "doc_id")
    ranked = keyed.select(
        "epoch", "doc_id", "k", F.row_number().over(wp).alias("pos")
    )
    return ranked.groupBy(
        "epoch", (F.col("pos") % 8).cast("long").alias("shard")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("bit_xor(doc_id * 1048573 + pos)").cast("long").alias("perm_checksum"),
        F.min("k").alias("first_key"),
        F.max("k").alias("last_key"),
    )


@query(
    "text_readability",
    """
    WITH d AS (
      SELECT lang,
             greatest(1, len(regexp_extract_all(text, '\\S+'))) AS words,
             greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS sents,
             greatest(1, len(regexp_extract_all(lower(text), '[aeiou]+')))
               AS sylls
      FROM documents),
    g AS (
      SELECT lang, count(*) AS n_docs,
             sum(words) AS words, sum(sents) AS sents, sum(sylls) AS sylls
      FROM d GROUP BY lang)
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(words AS BIGINT) AS words,
           CAST(sents AS BIGINT) AS sents,
           CAST(sylls AS BIGINT) AS sylls,
           CAST(floor((206.835
                       - 1.015 * (CAST(words AS DOUBLE) / sents)
                       - 84.6 * (CAST(sylls AS DOUBLE) / words)) * 1000000)
                AS BIGINT) AS flesch_micro
    FROM g
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Flesch reading-ease per language slice (Flesch 1948, public
    # formula) with a deterministic vowel-run syllable heuristic -- the
    # quality-mix readability gate a corpus card reports next to the
    # Gopher rules.  Counts are exact integers (whitespace tokens,
    # [.!?]+ sentence runs, [aeiou]+ vowel runs, each floored at 1 per
    # doc so empty/fragment docs cannot zero a denominator); the formula
    # is ONE shared double expression from identical int64s, floored to
    # micro-units.  Map-only per-doc counts + ONE combinable lang agg.
    docs = tbl(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.greatest(F.lit(1), F.expr(r"regexp_count(text, '\\S+')")).alias("words"),
        F.greatest(F.lit(1), F.expr("regexp_count(text, '[.!?]+')")).alias("sents"),
        F.greatest(
            F.lit(1), F.expr("regexp_count(lower(text), '[aeiou]+')")
        ).alias("sylls"),
    )
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("words"),
        F.sum("sents").cast("long").alias("sents"),
        F.sum("sylls").cast("long").alias("sylls"),
    )
    return g.select(
        "lang",
        "n_docs",
        "words",
        "sents",
        "sylls",
        F.expr(
            "cast(floor((206.835 - 1.015 * (cast(words as double) / sents)"
            " - 84.6 * (cast(sylls as double) / words)) * 1000000) as bigint)"
        ).alias("flesch_micro"),
    )


# ---------------------------------------------------------------------------
# Round-11 wave 32: filter-rule attribution, binary magic sniff
# ---------------------------------------------------------------------------


def _attribution_oracle() -> str:
    # Reuse the quality oracle's metric computation, then score the five
    # Gopher rules independently (rule-level fail + unique-kill ablation).
    qual = _quality_oracle()
    return f"""
    WITH m AS (SELECT * FROM ({qual})),
    f AS (
      SELECT doc_id,
             CAST(NOT (n_words BETWEEN {Q.MIN_WORDS} AND {Q.MAX_WORDS}) AS INT) AS f_words,
             CAST(NOT (mean_word_len BETWEEN {Q.MIN_MEAN_WORD_LEN}
                       AND {Q.MAX_MEAN_WORD_LEN}) AS INT) AS f_wordlen,
             CAST(frac_alpha_words < {Q.MIN_ALPHA_FRAC} AS INT) AS f_alpha,
             CAST(top_bigram_frac > {Q.MAX_TOP_BIGRAM_FRAC} AS INT) AS f_bigram,
             CAST(dup_trigram_frac > {Q.MAX_DUP_TRIGRAM_FRAC} AS INT) AS f_trigram
      FROM m),
    t AS (
      SELECT *, f_words + f_wordlen + f_alpha + f_bigram + f_trigram AS n_f
      FROM f),
    g AS (
      SELECT count(*) AS n_docs,
             sum(CAST(n_f = 0 AS INT)) AS n_pass,
             sum(f_words) AS fw, sum(CAST(f_words = 1 AND n_f = 1 AS INT)) AS uw,
             sum(f_wordlen) AS fl, sum(CAST(f_wordlen = 1 AND n_f = 1 AS INT)) AS ul,
             sum(f_alpha) AS fa, sum(CAST(f_alpha = 1 AND n_f = 1 AS INT)) AS ua,
             sum(f_bigram) AS fb, sum(CAST(f_bigram = 1 AND n_f = 1 AS INT)) AS ub,
             sum(f_trigram) AS ft, sum(CAST(f_trigram = 1 AND n_f = 1 AS INT)) AS ut
      FROM t)
    SELECT r.rule,
           CAST(r.n_fail AS BIGINT) AS n_fail,
           CAST(r.n_unique_kill AS BIGINT) AS n_unique_kill,
           CAST(g.n_docs AS BIGINT) AS n_docs,
           CAST(g.n_pass AS BIGINT) AS n_pass_all,
           CAST(r.n_fail * 1000000 // g.n_docs AS BIGINT) AS fail_ppm
    FROM g, LATERAL (VALUES
      ('word_count', g.fw, g.uw),
      ('mean_word_len', g.fl, g.ul),
      ('alpha_frac', g.fa, g.ua),
      ('top_bigram', g.fb, g.ub),
      ('dup_trigram', g.ft, g.ut)) AS r(rule, n_fail, n_unique_kill)
    """


@query("pipeline_filter_attribution", _attribution_oracle())
def pipeline_filter_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-rule attribution for the Gopher/C4 quality gate -- the
    # ablation a data-curation team runs before tightening a filter:
    # n_fail is each rule's gross kill count, n_unique_kill the docs
    # ONLY that rule catches (its marginal value: a rule with zero
    # unique kills is redundant at current thresholds).  The five rule
    # flags come from the same one-Arrow-pass metrics as gopher_pass
    # (operators/quality.py), the rollup is ONE combinable agg, and the
    # 5-row report unpivots JVM-side with stack() -- no joins, bounded
    # output.
    flags = Q.gopher_quality_flags(tbl(spark, sf_dir, "documents"))
    f = flags.select(
        (~F.col("n_words").between(Q.MIN_WORDS, Q.MAX_WORDS)).cast("int").alias("f_words"),
        (~F.col("mean_word_len").between(Q.MIN_MEAN_WORD_LEN, Q.MAX_MEAN_WORD_LEN))
        .cast("int").alias("f_wordlen"),
        (F.col("frac_alpha_words") < Q.MIN_ALPHA_FRAC).cast("int").alias("f_alpha"),
        (F.col("top_bigram_frac") > Q.MAX_TOP_BIGRAM_FRAC).cast("int").alias("f_bigram"),
        (F.col("dup_trigram_frac") > Q.MAX_DUP_TRIGRAM_FRAC).cast("int").alias("f_trigram"),
    ).withColumn(
        "n_f",
        F.expr("f_words + f_wordlen + f_alpha + f_bigram + f_trigram"),
    )
    g = f.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_f") == 0).cast("int")).alias("n_pass"),
        F.sum("f_words").alias("fw"),
        F.sum(F.expr("cast(f_words = 1 and n_f = 1 as int)")).alias("uw"),
        F.sum("f_wordlen").alias("fl"),
        F.sum(F.expr("cast(f_wordlen = 1 and n_f = 1 as int)")).alias("ul"),
        F.sum("f_alpha").alias("fa"),
        F.sum(F.expr("cast(f_alpha = 1 and n_f = 1 as int)")).alias("ua"),
        F.sum("f_bigram").alias("fb"),
        F.sum(F.expr("cast(f_bigram = 1 and n_f = 1 as int)")).alias("ub"),
        F.sum("f_trigram").alias("ft"),
        F.sum(F.expr("cast(f_trigram = 1 and n_f = 1 as int)")).alias("ut"),
    )
    return g.select(
        F.expr(
            "stack(5,"
            " 'word_count', fw, uw,"
            " 'mean_word_len', fl, ul,"
            " 'alpha_frac', fa, ua,"
            " 'top_bigram', fb, ub,"
            " 'dup_trigram', ft, ut) as (rule, n_fail, n_unique_kill)"
        ),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_pass").cast("long").alias("n_pass_all"),
    ).select(
        "rule",
        F.col("n_fail").cast("long").alias("n_fail"),
        F.col("n_unique_kill").cast("long").alias("n_unique_kill"),
        "n_docs",
        "n_pass_all",
        F.expr("n_fail * 1000000 div n_docs").cast("long").alias("fail_ppm"),
    )


@query(
    "multimodal_magic_sniff",
    """
    WITH media AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'text' END AS claimed,
             CASE WHEN doc_id % 3 = 0
                   THEN '\\x89PNG'::BLOB || encode(text)
                  WHEN doc_id % 3 = 1
                   THEN 'RIFF'::BLOB || encode(text)
                  ELSE encode(text) END AS payload
      FROM documents),
    sniffed AS (
      SELECT media_id, claimed,
             octet_length(payload) AS n_bytes,
             CASE WHEN substr(hex(payload), 1, 8) = '89504E47' THEN 'image'
                  WHEN substr(hex(payload), 1, 8) = '52494646' THEN 'audio'
                  ELSE 'text' END AS sniffed
      FROM media)
    SELECT claimed, sniffed,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(sum(CAST(claimed != sniffed AS INT)) AS BIGINT) AS n_mismatch
    FROM sniffed GROUP BY claimed, sniffed
    """,
)
def multimodal_magic_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Magic-byte validation for opaque binary media columns -- the
    # corrupt-blob / mislabeled-metadata tripwire a multimodal ingest
    # runs BEFORE wasting decode cycles: sniff the payload's leading
    # bytes (PNG / RIFF signatures, public file-format magic) and
    # cross-tab claimed kind vs sniffed kind.  The fixture synthesizes
    # the three cases deterministically from doc_id so both engines see
    # identical payloads (documents-as-media, the multimodal stand-in
    # convention).  All byte-level: substring on BINARY + exact byte
    # compare, map-only + ONE bounded (claimed x sniffed) agg -- the
    # production shape for a 100 TB blob scan (no decode, no Python).
    docs = tbl(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr(
            "CASE WHEN doc_id % 3 = 0 THEN 'image'"
            " WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'text' END"
        ).alias("claimed"),
        F.expr(
            "CASE WHEN doc_id % 3 = 0 THEN concat(X'89504E47', encode(text, 'UTF-8'))"
            " WHEN doc_id % 3 = 1 THEN concat(encode('RIFF', 'UTF-8'), encode(text, 'UTF-8'))"
            " ELSE encode(text, 'UTF-8') END"
        ).alias("payload"),
    )
    sniffed = media.select(
        "claimed",
        F.expr("octet_length(payload)").alias("n_bytes"),
        F.expr(
            "CASE WHEN substring(hex(payload), 1, 8) = '89504E47' THEN 'image'"
            " WHEN substring(hex(payload), 1, 8) = '52494646' THEN 'audio'"
            " ELSE 'text' END"
        ).alias("sniffed"),
    )
    return sniffed.groupBy("claimed", "sniffed").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.sum((F.col("claimed") != F.col("sniffed")).cast("int"))
        .cast("long")
        .alias("n_mismatch"),
    )


@query(
    "pipeline_token_apportionment",
    """
    WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    w AS (
      SELECT lang, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
               AS w_micro
      FROM n),
    t AS (SELECT sum(w_micro) AS tw FROM w),
    base AS (
      SELECT w.lang, w.n_docs, w.w_micro,
             1000000 * w.w_micro // t.tw AS base_alloc,
             1000000 * w.w_micro % t.tw AS rem
      FROM w, t),
    lv AS (SELECT 1000000 - sum(base_alloc) AS leftover FROM base),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk
      FROM base)
    SELECT r.lang, CAST(r.n_docs AS BIGINT) AS n_docs,
           CAST(r.w_micro AS BIGINT) AS w_micro,
           CAST(r.base_alloc AS BIGINT) AS base_alloc,
           CAST(CASE WHEN r.rk <= lv.leftover THEN 1 ELSE 0 END AS BIGINT)
             AS extra,
           CAST(r.base_alloc
                + CASE WHEN r.rk <= lv.leftover THEN 1 ELSE 0 END AS BIGINT)
             AS final_alloc
    FROM ranked r, lv
    """,
)
def pipeline_token_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Token-budget apportionment by the largest-remainder (Hamilton)
    # method, public: given a 1M-token budget and temperature weights
    # (the sqrt shares from pipeline_mixture_temperature), every source
    # gets floor(B * w / Σw) tokens and the leftover units go to the
    # largest fractional remainders (deterministic lang tiebreak) -- so
    # the allocations are INTEGERS that sum EXACTLY to the budget, the
    # property a training-data mixer needs (probabilistic rounding
    # drifts; plain flooring under-fills).  All int64: B*w ~ 1e6 * 1e9
    # stays well inside range for any real source count.  Scale shape:
    # one combinable lang count; apportionment rides the LANG-sized
    # relation with broadcast totals and one bounded rank window.
    docs = tbl(spark, sf_dir, "documents")
    w = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).select(
        "lang",
        "n_docs",
        F.expr("cast(floor(sqrt(cast(n_docs as double)) * 1000000) as bigint)")
        .alias("w_micro"),
    )
    t = w.agg(F.sum("w_micro").alias("tw"))
    base = w.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        "w_micro",
        F.expr("1000000 * w_micro div tw").alias("base_alloc"),
        F.expr("1000000 * w_micro % tw").alias("rem"),
    )
    lv = base.agg((F.lit(1_000_000) - F.sum("base_alloc")).alias("leftover"))
    ranked = base.select(
        "*", F.row_number().over(Window.orderBy(F.col("rem").desc(), "lang")).alias("rk")
    )
    return ranked.crossJoin(F.broadcast(lv)).select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("w_micro").cast("long").alias("w_micro"),
        F.col("base_alloc").cast("long").alias("base_alloc"),
        F.expr("cast(case when rk <= leftover then 1 else 0 end as bigint)").alias("extra"),
        F.expr(
            "cast(base_alloc + case when rk <= leftover then 1 else 0 end as bigint)"
        ).alias("final_alloc"),
    )


@query(
    "text_boolean_retrieval",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    m AS (
      SELECT doc_id,
             CAST(list_contains(t, 'merge') AND list_contains(t, 'sort')
                  AND NOT list_contains(t, 'dup') AS INT) AS branch_a,
             CAST(list_contains(t, 'window') AND list_contains(t, 'scan')
                  AS INT) AS branch_b
      FROM toks)
    SELECT doc_id, branch_a, branch_b
    FROM m WHERE branch_a = 1 OR branch_b = 1
    """,
)
def text_boolean_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Boolean retrieval over an inverted index -- the posting-list
    # algebra every search/dedup-lookup service runs: the query
    # ("merge" AND "sort" AND NOT "dup") OR ("window" AND "scan")
    # evaluates as posting-set intersections (left_semi), difference
    # (left_anti) and union, NEVER a per-doc full-text rescan.  The
    # postings relation materializes ONLY the five query terms (the
    # explode filters to the term set map-side, so its size is the
    # selectivity of the terms, not the corpus token count) -- on
    # 100 TB this is the index-probe plan, while the oracle's per-doc
    # list_contains scan is the honest contrast it must equal.
    docs = tbl(spark, sf_dir, "documents")
    terms = ("merge", "sort", "dup", "window", "scan")
    postings = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{TOK}', 0)")
            ).alias("t"),
        )
        .filter(F.col("t").isin(*terms))
        .distinct()
        # materialized ONCE: five posting() consumers would otherwise
        # replay the corpus explode per term (5 scans + 5 Generate
        # seams, flagged by the r9 spread tripwire); the postings
        # relation is term-selectivity-sized, the textbook thing to pin
        .localCheckpoint(eager=True)
    )

    def posting(term):
        return postings.filter(F.col("t") == term).select("doc_id")

    branch_a = (
        posting("merge")
        .join(posting("sort"), "doc_id", "left_semi")
        .join(posting("dup"), "doc_id", "left_anti")
    )
    branch_b = posting("window").join(posting("scan"), "doc_id", "left_semi")
    hits = (
        branch_a.select("doc_id", F.lit(1).alias("ba"))
        .unionByName(branch_b.select("doc_id", F.lit(0).alias("ba")))
        .groupBy("doc_id")
        .agg(F.max("ba").alias("branch_a_hit"), F.count(F.lit(1)).alias("k"))
    )
    # branch_b holds iff the doc appeared with ba=0, or with both rows
    return hits.select(
        "doc_id",
        F.col("branch_a_hit").cast("int").alias("branch_a"),
        F.expr(
            "cast(k = 2 or branch_a_hit = 0 as int)"
        ).alias("branch_b"),
    )


def _inertia_oracle(k: int = 8) -> str:
    d2 = _D2.format(a="v_vec", b="c_vec")
    return f"""
    WITH c AS (
      SELECT vec_id AS cluster_id, CAST(embedding AS DOUBLE[]) AS c_vec
      FROM embeddings WHERE vec_id < {k}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v_vec FROM embeddings),
    scored AS (
      SELECT vec_id, cluster_id,
             CAST(round({d2} * 1000000) AS BIGINT) AS d2_micro,
             row_number() OVER (PARTITION BY vec_id ORDER BY {d2}, cluster_id) AS rn
      FROM v CROSS JOIN c),
    assign AS (SELECT vec_id, cluster_id, d2_micro FROM scored WHERE rn = 1)
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(d2_micro) AS BIGINT) AS inertia_micro,
           CAST(sum(d2_micro) // count(*) AS BIGINT) AS mean_d2_micro,
           CAST(max(d2_micro) AS BIGINT) AS max_d2_micro
    FROM assign GROUP BY cluster_id
    """


@query("cluster_inertia_report", _inertia_oracle())
def cluster_inertia_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Clustering-quality acceptance report (the k-means analogue of the
    # ANN recall contracts): per-cluster member count, total/mean/max
    # within-cluster squared distance -- the inertia readout that gates
    # a centroid set before it serves as an IVF index or a SemDeDup
    # partition.  Distances freeze to integer micro-units per VECTOR
    # (the d2 doubles are bit-identical cross-engine -- same
    # left-to-right fold the assign step already relies on -- and the
    # per-vector round happens before any data-sized summation), so the
    # aggregate inertia is exact int64 in both engines regardless of
    # partial-agg order.  Centroids broadcast; one member-keyed agg.
    emb, centroids = _kmeans_seeds(spark, sf_dir)
    assigned = CL.kmeans_assign(emb, centroids, keep_distance=True)
    d2m = assigned.select(
        "cluster_id",
        F.expr("cast(round(d2 * 1000000) as bigint)").alias("d2_micro"),
    )
    return d2m.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("d2_micro").cast("long").alias("inertia_micro"),
        F.expr("sum(d2_micro) div count(1)").cast("long").alias("mean_d2_micro"),
        F.max("d2_micro").cast("long").alias("max_d2_micro"),
    )


# ---------------------------------------------------------------------------
# Round-11 wave 35: dedup cascade accounting, embedding dimension QA,
# per-user frequency capping
# ---------------------------------------------------------------------------


def _cascade_oracle(threshold: float = 0.5) -> str:
    # Stage pairs come from the UNCAPPED minhash-verified oracle over all
    # docs, then restrict both endpoints to stage-2 survivors -- exact,
    # because an uncapped band bucket shared by two survivors is shared
    # regardless of what other docs sit in it.
    mhv = _minhash_verified_oracle(threshold)
    return f"""
    WITH RECURSIVE s1k AS (
      SELECT md5(text) AS dg, min(doc_id) AS keeper
      FROM documents GROUP BY md5(text)),
    s1 AS (SELECT d.doc_id, d.text FROM documents d
           JOIN s1k ON s1k.keeper = d.doc_id),
    s2k AS (
      SELECT md5(lower(substring(text, 1, 16))) AS dg, min(doc_id) AS keeper
      FROM s1 GROUP BY 1),
    s2 AS (SELECT s1.doc_id FROM s1 JOIN s2k ON s2k.keeper = s1.doc_id),
    pairs AS (
      SELECT p.id_a, p.id_b FROM ({mhv}) p
      JOIN s2 a ON a.doc_id = p.id_a
      JOIN s2 b ON b.doc_id = p.id_b),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM s2
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
    s3lab AS (SELECT src AS doc_id, min(dst) AS cluster_id
              FROM reach GROUP BY src),
    counts AS (
      SELECT (SELECT count(*) FROM documents) AS n0,
             (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2,
             (SELECT count(*) FROM s3lab WHERE doc_id = cluster_id) AS n3)
    SELECT s.stage, s.n_in, s.n_removed, s.n_in - s.n_removed AS n_out
    FROM counts, LATERAL (VALUES
      (CAST(1 AS BIGINT), CAST(n0 AS BIGINT), CAST(n0 - n1 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(n1 AS BIGINT), CAST(n1 - n2 AS BIGINT)),
      (CAST(3 AS BIGINT), CAST(n2 AS BIGINT), CAST(n2 - n3 AS BIGINT))
    ) AS s(stage, n_in, n_removed)
    """


@query("pipeline_dedup_cascade_report", _cascade_oracle())
def pipeline_dedup_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The dedup CASCADE as production runs it -- cheap exact pass, then
    # prefix blocking, then MinHash+verify+connected-components on what
    # survives -- with per-stage kill accounting (the report a corpus
    # card publishes: which stage removes how much, and is the expensive
    # stage still earning its cost after the cheap ones ran).  Stage
    # ordering matters for COST, not results: every stage sees only the
    # prior stage's survivors, so the near-dup stage's candidate volume
    # is already exact-dup-free.  Spark side reuses the operator
    # library end-to-end (exact digest keep-min, prefix keep-min,
    # LSH -> verify -> CC keep-min); the oracle replays the same
    # cascade with a recursive-CTE closure.  Output: 3 bounded rows.
    docs = tbl(spark, sf_dir, "documents")
    n0 = docs.count()
    s1 = (
        docs.groupBy(F.md5("text").alias("dg"))
        .agg(F.min("doc_id").alias("doc_id"))
        .join(docs, "doc_id")
        .select("doc_id", "text")
        .localCheckpoint(eager=True)  # feeds stage 2 + the pair filter
    )
    n1 = s1.count()
    s2 = (
        s1.groupBy(F.md5(F.lower(F.substring("text", 1, 16))).alias("dg"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    n2 = s2.count()
    buckets = D.minhash_lsh_buckets(docs, num_hashes=8, bands=4, k=3)
    cands = D.minhash_candidate_pairs(buckets)
    verified = D.verify_candidate_jaccard(docs, cands, k=3, threshold=0.5)
    pairs = (
        verified.join(s2.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(s2.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        .select("id_a", "id_b")
    )
    labels = D.connected_components(pairs, s2, id_col="doc_id")
    n3 = labels.filter(F.col("doc_id") == F.col("cluster_id")).count()
    rows = [
        (1, n0, n0 - n1, n1),
        (2, n1, n1 - n2, n2),
        (3, n2, n2 - n3, n3),
    ]
    return docs.sparkSession.createDataFrame(
        rows, "stage long, n_in long, n_removed long, n_out long"
    )


@query(
    "emb_dim_stats",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    v AS (
      SELECT vec_id,
             unnest([{'dim': i, 'x': CAST(round(emb[i] * 1000000.0)
                                         AS BIGINT)}
                     FOR i IN generate_series(1, len(emb))]) AS s
      FROM e),
    d AS (SELECT s.dim AS dim, s.x AS x FROM v)
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sum_micro,
           CAST(min(x) AS BIGINT) AS min_micro,
           CAST(max(x) AS BIGINT) AS max_micro,
           CAST(sum(CAST(x = 0 AS INT)) AS BIGINT) AS n_zero
    FROM d GROUP BY dim
    """,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-DIMENSION embedding QA -- the dead-dimension / scale-outlier
    # screen run before quantization or whitening: a dim whose n_zero
    # is the corpus (dead output unit), or whose min/max dwarf the
    # others (scale blow-up), corrupts int8 quantization and distance
    # geometry.  Values freeze to micro-units per CELL before any
    # aggregation (exact int64 cross-engine); posexplode keeps the
    # per-(dim) agg combinable; output is DIM-sized (16 rows).
    emb = tbl(spark, sf_dir, "embeddings")
    d = emb.select(
        F.posexplode("embedding").alias("dim0", "xf")
    ).select(
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.expr("cast(round(cast(xf as double) * 1000000.0) as bigint)").alias("x"),
    )
    return d.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sum_micro"),
        F.min("x").cast("long").alias("min_micro"),
        F.max("x").cast("long").alias("max_micro"),
        F.sum((F.col("x") == 0).cast("int")).cast("long").alias("n_zero"),
    )


@query(
    "sample_user_cap",
    """
    WITH r AS (
      SELECT event_type, user_id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY md5('cap:' || event_id), event_id)
               AS rk
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(rk <= 20 AS INT)) AS BIGINT) AS n_kept,
           CAST(sum(CAST(rk > 20 AS INT)) AS BIGINT) AS n_dropped,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM r GROUP BY event_type
    """,
)
def sample_user_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic per-user frequency cap (at most 20 events per user,
    # chosen by seeded-md5 rank, not recency) -- the contribution
    # bounding every user-generated corpus applies so power users can't
    # dominate training data, and the preprocessing step that makes the
    # pseudo-DP noising's sensitivity-1 assumption meaningful.  The
    # md5 rank makes the KEPT SET reproducible across engines and runs
    # (recency-based caps drift with late data).  ONE user-keyed
    # window; the report is a bounded per-type rollup.
    ev = tbl(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy(
        F.md5(F.concat(F.lit("cap:"), F.col("event_id"))), "event_id"
    )
    r = ev.select(
        "event_type", "user_id", F.row_number().over(wu).alias("rk")
    )
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("rk") <= 20).cast("int")).cast("long").alias("n_kept"),
        F.sum((F.col("rk") > 20).cast("int")).cast("long").alias("n_dropped"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Round-11 wave 37: BM25 retrieval scoring, dedup threshold calibration
# ---------------------------------------------------------------------------


def _bm25_oracle() -> str:
    # k1 = 1.2, b = 0.75 (the Robertson defaults); query terms frozen.
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    d AS (
      SELECT doc_id,
             len(t) AS dl,
             len(list_filter(t, x -> x = 'merge')) AS tf_merge,
             len(list_filter(t, x -> x = 'sort')) AS tf_sort,
             len(list_filter(t, x -> x = 'scan')) AS tf_scan
      FROM toks),
    g AS (
      SELECT count(*) AS n,
             sum(dl) AS sum_dl,
             sum(CAST(tf_merge > 0 AS INT)) AS df_merge,
             sum(CAST(tf_sort > 0 AS INT)) AS df_sort,
             sum(CAST(tf_scan > 0 AS INT)) AS df_scan
      FROM d),
    idf AS (
      SELECT n, CAST(sum_dl AS DOUBLE) / n AS avgdl,
             CAST(round(ln((n - df_merge + 0.5) / (df_merge + 0.5) + 1.0)
                        * 1000000) AS BIGINT) AS idf_merge,
             CAST(round(ln((n - df_sort + 0.5) / (df_sort + 0.5) + 1.0)
                        * 1000000) AS BIGINT) AS idf_sort,
             CAST(round(ln((n - df_scan + 0.5) / (df_scan + 0.5) + 1.0)
                        * 1000000) AS BIGINT) AS idf_scan
      FROM g),
    scored AS (
      SELECT d.doc_id,
             CAST(round(
               idf_merge * (tf_merge * 2.2
                 / (tf_merge + 1.2 * (0.25 + 0.75 * dl / avgdl)))
             + idf_sort * (tf_sort * 2.2
                 / (tf_sort + 1.2 * (0.25 + 0.75 * dl / avgdl)))
             + idf_scan * (tf_scan * 2.2
                 / (tf_scan + 1.2 * (0.25 + 0.75 * dl / avgdl)))
             ) AS BIGINT) AS score_micro
      FROM d, idf)
    SELECT doc_id, score_micro
    FROM scored WHERE score_micro > 0
    ORDER BY score_micro DESC, doc_id LIMIT 20
    """


@query("text_bm25_topk", _bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BM25 ranking (Robertson & Walker 1994, public; k1=1.2, b=0.75)
    # for the frozen query {merge, sort, scan} -- the retrieval scorer
    # TF-IDF doesn't cover: per-term saturation (tf/(tf+k1...)) and
    # doc-length normalization (b*dl/avgdl).  Exactness recipe: tf/dl/df
    # are exact ints; idf freezes to micro-nats (one ln per TERM, from
    # identical ints); the per-doc score is ONE shared IEEE expression
    # with a FIXED three-term addition order, rounded to micro-units
    # identically in both engines.  Scale shape: tf/dl come from
    # map-side higher-order array ops (filter/size -- no explode, no
    # per-token shuffle); the corpus stats are ONE combinable agg
    # broadcast back; top-20 is TakeOrderedAndProject.
    docs = tbl(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.expr(f"regexp_extract_all(lower(text), '{TOK}', 0)").alias("t"),
    ).select(
        "doc_id",
        F.expr("size(t)").alias("dl"),
        F.expr("size(filter(t, x -> x = 'merge'))").alias("tf_merge"),
        F.expr("size(filter(t, x -> x = 'sort'))").alias("tf_sort"),
        F.expr("size(filter(t, x -> x = 'scan'))").alias("tf_scan"),
    )
    g = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("sum_dl"),
        F.sum((F.col("tf_merge") > 0).cast("int")).alias("df_merge"),
        F.sum((F.col("tf_sort") > 0).cast("int")).alias("df_sort"),
        F.sum((F.col("tf_scan") > 0).cast("int")).alias("df_scan"),
    ).select(
        F.col("n"),
        F.expr("cast(sum_dl as double) / n").alias("avgdl"),
        F.expr(
            "cast(round(ln((n - df_merge + 0.5) / (df_merge + 0.5) + 1.0)"
            " * 1000000) as bigint)"
        ).alias("idf_merge"),
        F.expr(
            "cast(round(ln((n - df_sort + 0.5) / (df_sort + 0.5) + 1.0)"
            " * 1000000) as bigint)"
        ).alias("idf_sort"),
        F.expr(
            "cast(round(ln((n - df_scan + 0.5) / (df_scan + 0.5) + 1.0)"
            " * 1000000) as bigint)"
        ).alias("idf_scan"),
    )
    scored = d.crossJoin(F.broadcast(g)).select(
        "doc_id",
        F.expr(
            "cast(round("
            "  idf_merge * (tf_merge * 2.2"
            "    / (tf_merge + 1.2 * (0.25 + 0.75 * dl / avgdl)))"
            "+ idf_sort * (tf_sort * 2.2"
            "    / (tf_sort + 1.2 * (0.25 + 0.75 * dl / avgdl)))"
            "+ idf_scan * (tf_scan * 2.2"
            "    / (tf_scan + 1.2 * (0.25 + 0.75 * dl / avgdl)))"
            ") as bigint)"
        ).alias("score_micro"),
    )
    return (
        scored.filter(F.col("score_micro") > 0)
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(20)
    )


def _threshold_sweep_oracle() -> str:
    mhv = _minhash_verified_oracle(0.5)
    return f"""
    WITH pairs AS (SELECT * FROM ({mhv})),
    t AS (SELECT unnest([500000, 600000, 700000, 800000, 900000])
            AS threshold_ppm)
    SELECT t.threshold_ppm,
           CAST(count(CASE WHEN p.jaccard * 1000000 >= t.threshold_ppm
                           THEN 1 END) AS BIGINT) AS n_pairs
    FROM t LEFT JOIN pairs p ON true
    GROUP BY t.threshold_ppm
    """


@query("dedup_threshold_sweep", _threshold_sweep_oracle())
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Threshold calibration curve: how many verified near-dup pairs
    # survive at jaccard >= 0.5 .. 0.9 -- computed from ONE verified
    # pair relation (verify once, sweep in-memory), the curve a dedup
    # team reads before committing a threshold (a cliff between 0.6 and
    # 0.7 means the corpus has a distinct template-dup population).
    # The sweep is a broadcast 5-row threshold relation joined to the
    # candidate-bounded pair set -- no re-verification per threshold.
    docs = tbl(spark, sf_dir, "documents")
    buckets = D.minhash_lsh_buckets(docs, num_hashes=8, bands=4, k=3)
    cands = D.minhash_candidate_pairs(buckets)
    pairs = D.verify_candidate_jaccard(docs, cands, k=3, threshold=0.5)
    th = docs.sparkSession.range(5, 10).select(
        (F.col("id") * 100_000).cast("long").alias("threshold_ppm")
    )
    return (
        F.broadcast(th)
        .join(pairs, F.expr("jaccard * 1000000 >= threshold_ppm"), "left")
        .groupBy("threshold_ppm")
        .agg(F.count("jaccard").cast("long").alias("n_pairs"))
    )


@query(
    "text_js_divergence",
    f"""
    WITH toks AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '{{T}}')) AS t
      FROM documents WHERE lang IN ('en', 'de')),
    c AS (SELECT lang, t, count(*) AS c FROM toks GROUP BY 1, 2),
    p AS (
      SELECT t,
             sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ca,
             sum(CASE WHEN lang = 'de' THEN c ELSE 0 END) AS cb
      FROM c GROUP BY t),
    n AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM p),
    terms AS (
      SELECT
        CASE WHEN ca > 0 THEN
          (ca * 1000000 // na)
          * CAST(round(ln(2.0 * (CAST(ca AS DOUBLE) / na)
                          / (CAST(ca AS DOUBLE) / na
                             + CAST(cb AS DOUBLE) / nb)) * 1000000) AS BIGINT)
        ELSE 0 END AS ta,
        CASE WHEN cb > 0 THEN
          (cb * 1000000 // nb)
          * CAST(round(ln(2.0 * (CAST(cb AS DOUBLE) / nb)
                          / (CAST(ca AS DOUBLE) / na
                             + CAST(cb AS DOUBLE) / nb)) * 1000000) AS BIGINT)
        ELSE 0 END AS tb
      FROM p, n)
    SELECT CAST((SELECT count(*) FROM p) AS BIGINT) AS n_vocab,
           CAST(sum(ta) // 2000000 AS BIGINT) AS kl_a_micro_half,
           CAST(sum(tb) // 2000000 AS BIGINT) AS kl_b_micro_half,
           CAST((sum(ta) // 2000000 + sum(tb) // 2000000) AS BIGINT)
             AS jsd_micronats
    FROM terms
    """.replace("{T}", TOK),
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Jensen-Shannon divergence between the en and de unigram
    # DISTRIBUTIONS (Lin 1991, public) -- the symmetric, always-finite
    # corpus-comparison metric that reads how differently two slices
    # USE a shared vocabulary, where text_lang_vocab_jaccard only reads
    # which words exist.  JSD = (KL(P||M) + KL(Q||M)) / 2 with
    # M = (P+Q)/2; zero-count terms contribute 0 to their own KL (the
    # 0*log0 convention), so no smoothing is needed and the value is
    # bounded by ln 2.  Frozen-integer recipe: ppm masses x micro-nat
    # frozen logs (one ln per VOCAB term, bounded relation), halves by
    # integer division.  ONE combinable (lang, term) count agg;
    # everything after rides the vocabulary.
    docs = tbl(spark, sf_dir, "documents").filter(F.col("lang").isin("en", "de"))
    toks = docs.select(
        "lang",
        F.explode(F.expr(f"regexp_extract_all(lower(text), '{TOK}', 0)")).alias("t"),
    )
    p = toks.groupBy("t").agg(
        F.sum((F.col("lang") == "en").cast("long")).alias("ca"),
        F.sum((F.col("lang") == "de").cast("long")).alias("cb"),
    ).localCheckpoint(eager=True)  # vocab-bounded; 3 consumers (terms, totals, n_vocab) -- one corpus explode instead of three
    n = p.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    terms = p.crossJoin(F.broadcast(n)).select(
        F.expr(
            "CASE WHEN ca > 0 THEN (ca * 1000000 div na)"
            " * cast(round(ln(2.0 * (cast(ca as double) / na)"
            " / (cast(ca as double) / na + cast(cb as double) / nb))"
            " * 1000000) as bigint) ELSE 0 END"
        ).alias("ta"),
        F.expr(
            "CASE WHEN cb > 0 THEN (cb * 1000000 div nb)"
            " * cast(round(ln(2.0 * (cast(cb as double) / nb)"
            " / (cast(ca as double) / na + cast(cb as double) / nb))"
            " * 1000000) as bigint) ELSE 0 END"
        ).alias("tb"),
    )
    nv = p.agg(F.count(F.lit(1)).cast("long").alias("n_vocab"))
    return (
        terms.agg(
            F.expr("cast(sum(ta) div 2000000 as bigint)").alias("kl_a_micro_half"),
            F.expr("cast(sum(tb) div 2000000 as bigint)").alias("kl_b_micro_half"),
            F.expr(
                "cast(sum(ta) div 2000000 + sum(tb) div 2000000 as bigint)"
            ).alias("jsd_micronats"),
        )
        .crossJoin(F.broadcast(nv))
        .select("n_vocab", "kl_a_micro_half", "kl_b_micro_half", "jsd_micronats")
    )


# ---------------------------------------------------------------------------
# Round-11 wave 40: LSH band-config sweep, modularity acceptance
# ---------------------------------------------------------------------------


def _band_sweep_oracle() -> str:
    parts = []
    for bands in (8, 4, 2):
        mh = _minhash_oracle(num_hashes=8, bands=bands)
        parts.append(
            f"SELECT {bands} AS bands, {8 // bands} AS rows_per_band,"
            f" CAST(count(*) AS BIGINT) AS n_candidate_pairs"
            f" FROM ({mh})"
        )
    return "\nUNION ALL\n".join(parts)


@query("dedup_band_config_sweep", _band_sweep_oracle())
def dedup_band_config_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH band-configuration tuning table (the S-curve knob from Broder/
    # Indyk-Motwani LSH theory, public): the SAME 8 min-hashes bucketed
    # as 8x1 / 4x2 / 2x4 bands -- more rows per band sharpens the
    # candidate threshold (P(cand) = 1-(1-s^r)^b), so the pair counts
    # fall monotonically.  This is the table a dedup team reads next to
    # dedup_threshold_sweep: config picks the RECALL/COST point,
    # threshold picks the verify cut.  The signature relation computes
    # ONCE for all three configs (optimization r15, guide §1.2 step 1:
    # the data-sized shingle explode + 2 md5/shingle + min-agg ran per
    # config; the 8 minhash components are config-independent, only the
    # banding differs).  It is doc-sized (8 short hex chunks per doc) --
    # the cheap-to-materialize sibling of the minhash_estimate_vs_exact
    # checkpoint; candidate generation stays bucket-bounded.
    docs = tbl(spark, sf_dir, "documents")
    sig = D.minhash_signatures(docs, num_hashes=8, k=3).localCheckpoint(
        eager=True
    )
    out = None
    for bands in (8, 4, 2):
        buckets = D._band_buckets(sig, 8, bands, "doc_id")
        cands = D.minhash_candidate_pairs(buckets)
        row = cands.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs")
        ).select(
            F.lit(bands).cast("int").alias("bands"),
            F.lit(8 // bands).cast("int").alias("rows_per_band"),
            "n_candidate_pairs",
        )
        out = row if out is None else out.unionByName(row)
    return out


def _modularity_oracle() -> str:
    # Reuse the LPA oracle's unrolled two rounds, then Newman modularity
    # over the final labels on the same mirrored weighted edge relation.
    return """
    WITH p AS (
      SELECT CAST(o_custkey AS BIGINT) AS src,
             CAST(l_suppkey + 1099511627776 AS BIGINT) AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2),
    e AS (SELECT src, dst, w FROM p
          UNION ALL SELECT dst AS src, src AS dst, w FROM p),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
    l1 AS (
      SELECT dst AS node, label FROM (
        SELECT e.dst, l.label, sum(e.w) AS votes,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY sum(e.w) DESC, l.label) AS rn
        FROM e JOIN l0 l ON l.node = e.src
        GROUP BY e.dst, l.label)
      WHERE rn = 1),
    l2 AS (
      SELECT dst AS node, label FROM (
        SELECT e.dst, l.label, sum(e.w) AS votes,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY sum(e.w) DESC, l.label) AS rn
        FROM e JOIN l1 l ON l.node = e.src
        GROUP BY e.dst, l.label)
      WHERE rn = 1),
    tot AS (SELECT sum(w) AS w2 FROM e),
    intra AS (
      SELECT ls.label, sum(e.w) AS intra2
      FROM e JOIN l2 ls ON ls.node = e.src
             JOIN l2 ld ON ld.node = e.dst AND ld.label = ls.label
      GROUP BY ls.label),
    deg AS (
      SELECT l2.label, sum(e.w) AS d
      FROM e JOIN l2 ON l2.node = e.src
      GROUP BY l2.label),
    terms AS (
      SELECT deg.label,
             CAST(round((CAST(coalesce(intra.intra2, 0) AS DOUBLE) * tot.w2
                         - CAST(deg.d AS DOUBLE) * deg.d)
                        / (CAST(tot.w2 AS DOUBLE) * tot.w2)
                        * 1000000) AS BIGINT) AS t_micro
      FROM deg LEFT JOIN intra ON intra.label = deg.label, tot)
    SELECT CAST(count(*) AS BIGINT) AS n_communities,
           CAST((SELECT max(w2) FROM tot) / 2 AS BIGINT) AS total_weight,
           CAST(sum(t_micro) AS BIGINT) AS q_modularity_micro
    FROM terms
    """


@query("graph_modularity_report", _modularity_oracle())
def graph_modularity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Newman modularity (Newman & Girvan 2004, public) of the LPA
    # communities -- the community-quality ACCEPTANCE contract, the
    # graph analogue of cluster_inertia_report and the ANN recall gates:
    # Q near 0 means the partition is no better than random (don't ship
    # those communities into features), Q > ~0.3 means real structure.
    # Q = sum_c [intra_c/m - (deg_c/2m)^2] evaluates per community as
    # ONE shared double expression from exact int64 edge weights,
    # frozen to micro BEFORE the community sum (order-independent).
    # Scale shape: labels from the operator (2 rounds;
    # broadcast_scores=True here because the fixture node set provably
    # fits an executor -- the operator DEFAULT stays False, the
    # shuffled-attach billion-node posture); intra/deg are two
    # label-keyed joins + combinable sums; terms ride the
    # COMMUNITY-sized relation.
    from kcl_akka_stream_spark.operators.graph import label_propagation

    # checkpointed: feeds labels + intra + deg + total
    e = _co_purchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    labels = label_propagation(
        e, iterations=2, broadcast_scores=True
    ).localCheckpoint(eager=True)  # node-sized; 2 consumers (src+dst attach)
    ls = labels.select(F.col("node").alias("src"), F.col("label").alias("lsrc"))
    ld = labels.select(F.col("node").alias("dst"), F.col("label").alias("ldst"))
    ej = e.join(ls, "src").join(ld, "dst")
    # ONE grouped aggregation computes deg_c AND intra_c (r15): the two
    # separate aggs executed the e-join-labels double join twice per
    # action and re-joined their outputs; the conditional sum folds both
    # in a single pass (sum(when(lsrc = ldst, w) else 0) = the old
    # intra-filtered sum, with 0 where the old left join yielded NULL --
    # identical through the existing coalesce).  ABBA at sf0.1:
    # 3.454 -> 3.157 s; report collect-compared equal.
    g = ej.groupBy(F.col("lsrc").alias("label")).agg(
        F.sum("w").alias("d"),
        F.sum(
            F.when(F.col("lsrc") == F.col("ldst"), F.col("w")).otherwise(
                F.lit(0)
            )
        ).alias("intra2"),
    )
    tot = e.agg(F.sum("w").alias("w2"))
    terms = (
        g.crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "cast(round((cast(coalesce(intra2, 0) as double) * w2"
                " - cast(d as double) * d)"
                " / (cast(w2 as double) * w2) * 1000000) as bigint)"
            ).alias("t_micro"),
            "w2",
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.expr("cast(max(w2) / 2 as bigint)").alias("total_weight"),
        F.sum("t_micro").cast("long").alias("q_modularity_micro"),
    )


def _bloom_fpr_oracle() -> str:
    inner = _bloom_dedup_oracle()
    return f"""
    WITH r AS (SELECT * FROM ({inner})),
    hist AS (SELECT count(DISTINCT md5(text)) AS n_hist FROM documents
             WHERE doc_id % 3 != 0),
    g AS (
      SELECT count(*) AS n_incoming,
             sum(bloom_candidate) AS n_candidates,
             sum(is_known) AS n_known,
             sum(CASE WHEN bloom_candidate = 1 AND is_known = 0
                      THEN 1 ELSE 0 END) AS n_false_pos
      FROM r)
    SELECT CAST(g.n_incoming AS BIGINT) AS n_incoming,
           CAST(g.n_candidates AS BIGINT) AS n_candidates,
           CAST(g.n_known AS BIGINT) AS n_known,
           CAST(g.n_false_pos AS BIGINT) AS n_false_pos,
           CAST(floor(CAST(g.n_false_pos AS DOUBLE) * 1000000
                      / (g.n_incoming - g.n_known)) AS BIGINT)
             AS fpr_measured_ppm,
           CAST(round(pow(1.0 - exp(-{_BLOOM_K}.0 * h.n_hist / {_BLOOM_M}),
                          {_BLOOM_K}) * 1000000) AS BIGINT)
             AS fpr_theory_ppm
    FROM g, hist h
    """


@query("dedup_bloom_fpr_report", _bloom_fpr_oracle())
def dedup_bloom_fpr_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bloom-filter acceptance contract (the sketch-family pattern: KMV,
    # CMS and the recall reports all carry one): measured false-positive
    # rate of the SAME m=1024/k=3 filter pipeline_bloom_dedup ships,
    # next to the textbook prediction (1 - e^(-kn/m))^k from the exact
    # history cardinality -- a broken position hash or a mis-sized m
    # turns the comparison red in both engines.  Measured FPR divides
    # false positives by the TRUE-NEGATIVE opportunity set
    # (incoming - known), the quantity the formula predicts.  All
    # counts exact ints; both rates are single shared IEEE expressions.
    existing, flagged = _bloom_flagged(spark, sf_dir)
    g = flagged.agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum("bloom_candidate").alias("n_candidates"),
        F.sum("is_known").alias("n_known"),
        F.sum(
            ((F.col("bloom_candidate") == 1) & (F.col("is_known") == 0)).cast("int")
        ).alias("n_false_pos"),
    )
    hist = existing.agg(F.count(F.lit(1)).alias("n_hist"))
    return g.crossJoin(F.broadcast(hist)).select(
        F.col("n_incoming").cast("long").alias("n_incoming"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_known").cast("long").alias("n_known"),
        F.col("n_false_pos").cast("long").alias("n_false_pos"),
        F.expr(
            "cast(floor(cast(n_false_pos as double) * 1000000"
            " / (n_incoming - n_known)) as bigint)"
        ).alias("fpr_measured_ppm"),
        F.expr(
            f"cast(round(pow(1.0 - exp(-{_BLOOM_K}.0 * n_hist / {_BLOOM_M}),"
            f" {_BLOOM_K}) * 1000000) as bigint)"
        ).alias("fpr_theory_ppm"),
    )


@query(
    "text_zipf_slope",
    f"""
    WITH toks AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '{TOK}')) AS t
      FROM documents),
    tc AS (SELECT lang, t, count(*) AS c FROM toks GROUP BY 1, 2),
    ranked AS (
      SELECT lang, c,
             row_number() OVER (PARTITION BY lang ORDER BY c DESC, t) AS rn
      FROM tc),
    xy AS (
      SELECT lang,
             CAST(round(ln(CAST(rn AS DOUBLE)) * 1000000) AS BIGINT) AS x,
             CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
      FROM ranked WHERE rn <= 100),
    m AS (
      SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM xy GROUP BY lang)
    SELECT lang, CAST(n AS BIGINT) AS n_terms,
           CAST(round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                      / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * 1000000) AS BIGINT) AS zipf_slope_micro
    FROM m
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Zipf-law slope fit per language (Zipf 1949, public): OLS of
    # log(count) on log(rank) over the top-100 terms -- natural text
    # sits near slope -1, and a slope far from it flags synthetic /
    # templated / tokenizer-mismatched corpora; this completes the
    # text_vocab_stats card (which reports the head MASS but not the
    # decay EXPONENT).  Frozen-integer recipe: x/y freeze to micro-nat
    # logs per (rank, count) pair (bounded: 100 per lang), the OLS
    # moments are exact int64 (|xy| <= (ln 1e9 * 1e6)^2 * 100 ~ 4e17),
    # and the slope is ONE shared IEEE expression rounded to micro.
    # One data-sized (lang, term) count; everything after rides the
    # vocab / top-100 relations.
    docs = tbl(spark, sf_dir, "documents")
    tc = (
        docs.select(
            "lang",
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{TOK}', 0)")
            ).alias("t"),
        )
        .groupBy("lang", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wr = Window.partitionBy("lang").orderBy(F.col("c").desc(), "t")
    xy = (
        tc.select("lang", "c", F.row_number().over(wr).alias("rn"))
        .filter(F.col("rn") <= 100)
        .select(
            "lang",
            F.expr("cast(round(ln(cast(rn as double)) * 1000000) as bigint)").alias("x"),
            F.expr("cast(round(ln(cast(c as double)) * 1000000) as bigint)").alias("y"),
        )
    )
    m = xy.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return m.select(
        "lang",
        F.col("n").cast("long").alias("n_terms"),
        F.expr(
            "cast(round((cast(n as double) * sxy - cast(sx as double) * sy)"
            " / (cast(n as double) * sxx - cast(sx as double) * sx)"
            " * 1000000) as bigint)"
        ).alias("zipf_slope_micro"),
    )


@query(
    "scd2_consistency_report",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    ch AS (
      SELECT user_id, event_type, ts, event_id FROM o
      WHERE prev IS NULL OR prev <> event_type),
    v AS (
      SELECT user_id, event_type AS state,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT)
               AS version,
             ts AS vf,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS vt
      FROM ch),
    x AS (
      SELECT user_id, state, version, vf, vt,
             CASE WHEN vt IS NULL THEN 1 ELSE 0 END AS cur,
             lead(vf) OVER (PARTITION BY user_id ORDER BY version) AS nf,
             lead(state) OVER (PARTITION BY user_id ORDER BY version) AS ns
      FROM v),
    pk AS (
      SELECT user_id, count(*) AS n, sum(cur) AS ncur,
             min(version) AS vmin, max(version) AS vmax,
             sum(CASE WHEN cur = 1 AND vt IS NOT NULL THEN 1 ELSE 0 END)
               AS open_end,
             sum(CASE WHEN cur = 0 AND vt IS NULL THEN 1 ELSE 0 END)
               AS closed_noend,
             sum(CASE WHEN nf IS NOT NULL
                       AND (vt IS NULL OR vt <> nf) THEN 1 ELSE 0 END)
               AS contig,
             sum(CASE WHEN vt IS NOT NULL AND vt <= vf THEN 1 ELSE 0 END)
               AS nonpos,
             sum(CASE WHEN ns IS NOT NULL AND state = ns THEN 1 ELSE 0 END)
               AS samestate
      FROM x GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN ncur <> 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS viol_current_per_key,
           CAST(sum(open_end) AS BIGINT) AS viol_open_with_end,
           CAST(sum(closed_noend) AS BIGINT) AS viol_closed_without_end,
           CAST(sum(contig) AS BIGINT) AS viol_contiguity,
           CAST(sum(nonpos) AS BIGINT) AS viol_nonpositive_span,
           CAST(sum(CASE WHEN vmin <> 1 OR vmax <> n THEN 1 ELSE 0 END)
                AS BIGINT) AS viol_version_numbering,
           CAST(sum(samestate) AS BIGINT) AS viol_adjacent_same_state
    FROM pk
    """,
)
def scd2_consistency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SCD2 acceptance contract (VERDICT r11 #5): prove the dimension
    # built by operators/cdc.py::scd2_compact serves correct
    # point-in-time lookups -- exactly-one current row per key, no
    # overlapping/gapped validity ranges (half-open contiguity), dense
    # 1..n version numbering, positive spans, and the compaction
    # property (adjacent versions differ).  Every viol_* column is a
    # ship-gate: 0 on a sound build, and pytest pins an engineered
    # overlap/duplicate-current table RED through the same operator
    # (tests/test_round12_fixes.py).  The oracle recomputes the build
    # AND the audit independently in SQL.  Scale shape: the audit adds
    # one lead() window + one per-key agg on the build's existing
    # user_id partitioning -- no new exchange, single-row output.
    from kcl_akka_stream_spark.operators.cdc import scd2_compact, scd2_consistency

    return scd2_consistency(scd2_compact(tbl(spark, sf_dir, "events")))


def _wav_oracle() -> str:
    # DuckDB mirror of the WAV fixture build + parse (LE reads via hex
    # slicing -- DuckDB has no blob substring, so BOTH engines slice
    # hex(payload); see operators/multimodal.py::parse_wav_header).
    def le(v: str, w: int) -> str:  # int expr -> little-endian blob
        h = f"lpad(hex({v}), {w * 2}, '0')"
        pairs = " || ".join(
            f"substr({h}, {2 * i + 1}, 2)" for i in reversed(range(w))
        )
        return f"from_hex({pairs})"

    def rd(off: int, w: int) -> str:  # little-endian int read from h
        # TRY_CAST: a corrupt payload shorter than the header makes the
        # substr empty and '0x' alone is not a number (Spark's conv is
        # NULL-tolerant; the oracle must match, not error)
        pairs = " || ".join(
            f"substr(h, {2 * (off + i) + 1}, 2)" for i in reversed(range(w))
        )
        return f"TRY_CAST(('0x' || {pairs}) AS BIGINT)"

    return f"""
    WITH p AS (
      SELECT doc_id,
             1 + doc_id % 2 AS ch,
             CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                             WHEN 2 THEN 44100 ELSE 48000 END AS sr,
             octet_length(encode(text)) * 16 AS dsz,
             text
      FROM documents),
    media AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN encode(text)
                  ELSE 'RIFF'::BLOB || {le('36 + dsz', 4)} || 'WAVE'::BLOB
                       || 'fmt '::BLOB || {le('16', 4)} || {le('1', 2)}
                       || {le('ch', 2)} || {le('sr', 4)}
                       || {le('sr * ch * 2', 4)} || {le('ch * 2', 2)}
                       || {le('16', 2)} || 'data'::BLOB || {le('dsz', 4)}
             END AS payload
      FROM p),
    parsed AS (
      SELECT CASE WHEN substr(h, 1, 8) = '52494646'
                   AND substr(h, 17, 8) = '57415645'
                   AND substr(h, 25, 8) = '666D7420'
                   AND substr(h, 33, 8) = '10000000'
                   AND substr(h, 73, 8) = '64617461' THEN 1 ELSE 0 END AS ok,
             {rd(22, 2)} AS channels, {rd(24, 4)} AS sample_rate,
             {rd(28, 4)} AS byte_rate, {rd(40, 4)} AS data_bytes
      FROM (SELECT hex(payload) AS h FROM media))
    SELECT CASE WHEN ok = 1 THEN sample_rate END AS sample_rate,
           CASE WHEN ok = 1 THEN channels END AS channels,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN ok = 1 THEN data_bytes END) AS BIGINT)
             AS total_data_bytes,
           CAST(sum(CASE WHEN ok = 1
                         THEN data_bytes * 1000000 // byte_rate END)
                AS BIGINT) AS total_duration_us,
           CAST(sum(1 - ok) AS BIGINT) AS n_bad
    FROM parsed GROUP BY 1, 2
    """


def _wav_media(docs: DataFrame) -> DataFrame:
    """Deterministic WAV fixture build: payload per doc, every 13th
    corrupted."""

    def le(v: str, w: int) -> str:
        h = f"lpad(hex({v}), {w * 2}, '0')"
        pairs = ", ".join(
            f"substring({h}, {2 * i + 1}, 2)" for i in reversed(range(w))
        )
        return f"unhex(concat({pairs}))"

    p = docs.select(
        "doc_id",
        "text",
        F.expr("1 + doc_id % 2").alias("ch"),
        F.expr(
            "CASE cast(doc_id % 4 as int) WHEN 0 THEN 8000 WHEN 1 THEN 16000"
            " WHEN 2 THEN 44100 ELSE 48000 END"
        ).alias("sr"),
        F.expr("octet_length(encode(text, 'UTF-8')) * 16").alias("dsz"),
    )
    return p.select(
        F.expr(
            "CASE WHEN doc_id % 13 = 0 THEN encode(text, 'UTF-8')"
            " ELSE concat(encode('RIFF', 'UTF-8'), "
            + le("36 + dsz", 4)
            + ", encode('WAVE', 'UTF-8'), encode('fmt ', 'UTF-8'), "
            + le("16", 4) + ", " + le("1", 2) + ", " + le("ch", 2) + ", "
            + le("sr", 4) + ", " + le("sr * ch * 2", 4) + ", "
            + le("ch * 2", 2) + ", " + le("16", 2)
            + ", encode('data', 'UTF-8'), " + le("dsz", 4)
            + ") END"
        ).alias("payload")
    )


@query("multimodal_wav_header", _wav_oracle())
def multimodal_wav_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Container-level audio metadata at scan speed (wave 43, VERDICT r11
    # #7): build deterministic PCM WAV payloads from the documents
    # fixture (RIFF spec, public; every 13th doc corrupted to exercise
    # the riff_ok=0 path), then PARSE them back with the byte-ops
    # operator -- channels, sample rate, byte rate, data size, exact
    # integer duration -- and roll up per (sample_rate, channels).  No
    # codec, no Python row path: hex-slice reads inside whole-stage
    # codegen, map-only + ONE bounded agg, the shape that sweeps 100 TB
    # of blobs for a duration census before any decode is scheduled.
    # The oracle rebuilds AND re-parses the same bytes independently.
    from kcl_akka_stream_spark.operators.multimodal import parse_wav_header

    media = _wav_media(tbl(spark, sf_dir, "documents"))
    parsed = parse_wav_header(media)
    return parsed.groupBy(
        F.expr("CASE WHEN riff_ok = 1 THEN sample_rate END").alias(
            "sample_rate"
        ),
        F.expr("CASE WHEN riff_ok = 1 THEN channels END").alias("channels"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.expr("CASE WHEN riff_ok = 1 THEN data_bytes END"))
        .cast("long")
        .alias("total_data_bytes"),
        F.sum(F.expr("CASE WHEN riff_ok = 1 THEN duration_us END"))
        .cast("long")
        .alias("total_duration_us"),
        F.sum(1 - F.col("riff_ok")).cast("long").alias("n_bad"),
    )


def _mp4_oracle() -> str:
    # DuckDB mirror of the MP4 fixture build + box-walk parse (BE reads
    # via hex slicing; the moov offset comes from the ftyp size FIELD,
    # not a constant -- see operators/multimodal.py::parse_mp4_header).
    def be(v: str, w: int) -> str:  # int expr -> big-endian blob
        return f"from_hex(lpad(hex({v}), {w * 2}, '0'))"

    def rd(off: str, w: int) -> str:  # big-endian int read from h
        # TRY_CAST: see the WAV oracle note -- corrupt rows must parse
        # to NULL, not error
        return (
            f"TRY_CAST(('0x' || substr(h, 2 * ({off}) + 1, {2 * w}))"
            " AS BIGINT)"
        )

    fsz = rd("0", 4)
    cc = lambda off: f"decode(from_hex(substr(h, 2 * ({off}) + 1, 8)))"  # noqa: E731
    return f"""
    WITH p AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
             CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                             ELSE 90000 END AS ts,
             text
      FROM documents),
    p2 AS (
      SELECT doc_id, brand, ts,
             (octet_length(encode(text)) + 1) * ts // 10 AS dur, text
      FROM p),
    media AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN encode(text)
                  ELSE {be('16', 4)} || 'ftyp'::BLOB || encode(brand)
                       || {be('0', 4)}
                       || {be('116', 4)} || 'moov'::BLOB
                       || {be('108', 4)} || 'mvhd'::BLOB || {be('0', 4)}
                       || {be('0', 4)} || {be('0', 4)} || {be('ts', 4)}
                       || {be('dur', 4)} || from_hex(repeat('00', 80))
             END AS payload
      FROM p2),
    parsed AS (
      SELECT CASE WHEN substr(h, 9, 8) = '66747970'
                   AND {cc(f'{fsz} + 4')} = 'moov'
                   AND {cc(f'{fsz} + 12')} = 'mvhd'
                   AND {rd(f'{fsz} + 16', 1)} = 0 THEN 1 ELSE 0 END AS ok,
             {cc('8')} AS brand,
             {rd(f'{fsz} + 28', 4)} AS timescale,
             {rd(f'{fsz} + 32', 4)} AS dur
      FROM (SELECT hex(payload) AS h FROM media))
    SELECT CASE WHEN ok = 1 THEN brand END AS brand,
           CASE WHEN ok = 1 THEN timescale END AS timescale,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN ok = 1 THEN dur * 1000 // timescale END)
                AS BIGINT) AS total_duration_ms,
           CAST(sum(1 - ok) AS BIGINT) AS n_bad
    FROM parsed GROUP BY 1, 2
    """


def _mp4_media(docs: DataFrame) -> DataFrame:
    """Deterministic faststart-MP4 fixture build: payload per doc, every
    11th corrupted."""

    def be(v: str, w: int) -> str:
        return f"unhex(lpad(hex({v}), {w * 2}, '0'))"

    p = docs.select(
        "doc_id",
        "text",
        F.expr(
            "CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END"
        ).alias("brand"),
        F.expr(
            "CASE cast(doc_id % 3 as int) WHEN 0 THEN 600 WHEN 1 THEN 1000"
            " ELSE 90000 END"
        ).alias("ts"),
    ).withColumn(
        "dur",
        F.expr("(octet_length(encode(text, 'UTF-8')) + 1) * ts div 10"),
    )
    return p.select(
        F.expr(
            "CASE WHEN doc_id % 11 = 0 THEN encode(text, 'UTF-8')"
            " ELSE concat(" + be("16", 4) + ", encode('ftyp', 'UTF-8'),"
            " encode(brand, 'UTF-8'), " + be("0", 4) + ", "
            + be("116", 4) + ", encode('moov', 'UTF-8'), "
            + be("108", 4) + ", encode('mvhd', 'UTF-8'), "
            + be("0", 4) + ", " + be("0", 4) + ", " + be("0", 4) + ", "
            + be("ts", 4) + ", " + be("dur", 4)
            + ", unhex(repeat('00', 80))) END"
        ).alias("payload")
    )


@query("multimodal_mp4_header", _mp4_oracle())
def multimodal_mp4_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Container-level video metadata at scan speed (wave 43, VERDICT r11
    # #7): ISO-BMFF box walk with pure byte-ops -- major brand from
    # ftyp, timescale/duration from mvhd, the moov offset read from the
    # ftyp size field (a real parse, not a template; ISO 14496-12,
    # public).  Fixture synthesizes faststart-layout MP4s from documents
    # (every 11th corrupted); rollup per (brand, timescale) with exact
    # integer duration_ms.  Same 100 TB posture as the WAV census:
    # hex-slice reads in codegen, map-only + ONE bounded agg, no codec.
    from kcl_akka_stream_spark.operators.multimodal import parse_mp4_header

    media = _mp4_media(tbl(spark, sf_dir, "documents"))
    parsed = parse_mp4_header(media)
    return parsed.groupBy(
        F.expr("CASE WHEN mp4_ok = 1 THEN brand END").alias("brand"),
        F.expr("CASE WHEN mp4_ok = 1 THEN timescale END").alias("timescale"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.expr("CASE WHEN mp4_ok = 1 THEN duration_ms END"))
        .cast("long")
        .alias("total_duration_ms"),
        F.sum(1 - F.col("mp4_ok")).cast("long").alias("n_bad"),
    )


def _decontaminate_fuzzy_oracle(
    modulus: int = 97, threshold: float = 0.5, bands: int = 8
) -> str:
    # Cross-dataset mirror of _minhash_oracle + _minhash_verified_oracle:
    # same 8-hash/4-band signature over ALL docs, candidates restricted
    # to corpus x eval, verify by exact 3-shingle Jaccard, then fold with
    # the exact 5-gram path into ONE coverage report row.
    mins, bands_sql = _minhash_band_sql(8, bands)
    return f"""
    WITH {_SH_CTE},
    h AS (
      SELECT doc_id, md5(shingle) AS h1, md5(shingle || '#1') AS h2 FROM sh
    ),
    mh AS (
      SELECT doc_id,
        {mins}
      FROM h GROUP BY doc_id
    ),
    allb AS (
      {bands_sql}
    ),
    cand AS (
      SELECT DISTINCT c.doc_id AS id_a, e.doc_id AS id_b
      FROM allb c JOIN allb e ON c.band = e.band AND c.bucket = e.bucket
      WHERE c.doc_id % {modulus} <> 0 AND e.doc_id % {modulus} = 0),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b),
    fuzzy AS (
      SELECT DISTINCT i.id_a AS doc_id
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE round(CAST(i.n_common AS DOUBLE)
                  / (sa.n_sh + sb.n_sh - i.n_common), 6) >= {threshold}),
    toks5 AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    g5 AS (
      SELECT DISTINCT doc_id, unnest(
        CASE WHEN len(t) >= 5
             THEN [array_to_string(list_slice(t, i, i + 4), ' ')
                   FOR i IN generate_series(1, len(t) - 4)]
             ELSE [array_to_string(t, ' ')] END) AS gram
      FROM toks5),
    ev5 AS (SELECT DISTINCT gram FROM g5 WHERE doc_id % {modulus} = 0),
    exact AS (
      SELECT DISTINCT g5.doc_id FROM g5 JOIN ev5 ON g5.gram = ev5.gram
      WHERE g5.doc_id % {modulus} <> 0),
    flags AS (
      SELECT COALESCE(e.doc_id, f.doc_id) AS doc_id,
             CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_exact,
             CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_fuzzy
      FROM exact e FULL OUTER JOIN fuzzy f ON e.doc_id = f.doc_id)
    SELECT
      CAST((SELECT count(*) FROM documents
            WHERE doc_id % {modulus} <> 0) AS BIGINT) AS n_corpus,
      CAST((SELECT count(*) FROM documents
            WHERE doc_id % {modulus} = 0) AS BIGINT) AS n_eval,
      CAST(sum(is_exact) AS BIGINT) AS n_flagged_exact,
      CAST(sum(is_fuzzy) AS BIGINT) AS n_flagged_fuzzy,
      CAST(sum(is_exact * is_fuzzy) AS BIGINT) AS n_both,
      CAST(sum(is_exact * (1 - is_fuzzy)) AS BIGINT) AS n_exact_only,
      CAST(sum(is_fuzzy * (1 - is_exact)) AS BIGINT) AS n_fuzzy_only
    FROM flags
    """


def _corpus_eval_split(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The documents, the training corpus (doc_id % 97 != 0) and the
    fixture eval set (doc_id % 97 == 0)."""
    docs = tbl(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    return docs, corpus, eval_df


@query("pipeline_decontaminate_fuzzy", _decontaminate_fuzzy_oracle())
def pipeline_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MinHash-LSH decontamination twin + coverage report (wave 44,
    # VERDICT r11 #7): the exact 5-gram path catches verbatim leakage;
    # the LSH+verify path (operators/corpus.py::decontaminate_fuzzy)
    # catches near-duplicate paraphrases the gram join is blind to.  The
    # single-row report audits both paths over the same corpus/eval
    # split: n_fuzzy_only is the contamination a verbatim-only
    # decontaminator SHIPS, n_exact_only the small-overlap hits below
    # the Jaccard threshold -- the two numbers that justify running both
    # stages in production.  Scale shape: eval buckets and eval grams
    # broadcast; the corpus never self-joins; verification is
    # candidate-bounded; the final fold is flagged-docs-sized.
    from kcl_akka_stream_spark.operators.corpus import (
        decontaminate,
        decontaminate_fuzzy,
    )

    docs, corpus, eval_df = _corpus_eval_split(spark, sf_dir)
    exact = decontaminate(corpus, eval_df, k=5).select(
        "doc_id", F.lit(1).alias("is_exact")
    )
    # bands=8 (1 row/band): decontamination is RECALL-critical -- at the
    # j ~ 0.25-0.5 paraphrase range, 8x1 banding roughly triples pair
    # recall over the dedup default 4x2 at the same 8-hash budget, and
    # measured CHEAPER at sf0.1 (warm 1.42 vs 1.77 s; the collision-
    # volume trade is guarded by max_bucket_size if a corpus degenerates)
    fuzzy = decontaminate_fuzzy(corpus, eval_df, bands=8, threshold=0.5).select(
        "doc_id", F.lit(1).alias("is_fuzzy")
    )
    flags = exact.join(fuzzy, "doc_id", "full_outer").select(
        F.coalesce("is_exact", F.lit(0)).alias("is_exact"),
        F.coalesce("is_fuzzy", F.lit(0)).alias("is_fuzzy"),
    )
    tot = docs.agg(
        F.sum((F.col("doc_id") % 97 != 0).cast("long")).alias("n_corpus"),
        F.sum((F.col("doc_id") % 97 == 0).cast("long")).alias("n_eval"),
    )
    rep = flags.agg(
        F.sum("is_exact").cast("long").alias("n_flagged_exact"),
        F.sum("is_fuzzy").cast("long").alias("n_flagged_fuzzy"),
        F.sum(F.col("is_exact") * F.col("is_fuzzy"))
        .cast("long")
        .alias("n_both"),
        F.sum(F.col("is_exact") * (1 - F.col("is_fuzzy")))
        .cast("long")
        .alias("n_exact_only"),
        F.sum(F.col("is_fuzzy") * (1 - F.col("is_exact")))
        .cast("long")
        .alias("n_fuzzy_only"),
    )
    return tot.crossJoin(F.broadcast(rep)).select(
        F.col("n_corpus").cast("long").alias("n_corpus"),
        F.col("n_eval").cast("long").alias("n_eval"),
        "n_flagged_exact",
        "n_flagged_fuzzy",
        "n_both",
        "n_exact_only",
        "n_fuzzy_only",
    )


def _png_media(docs: DataFrame) -> DataFrame:
    """Deterministic PNG IHDR fixture build: payload per doc, every 17th
    corrupted."""

    def be(v: str, w: int) -> str:
        return f"unhex(lpad(hex({v}), {w * 2}, '0'))"

    return docs.select(
        F.expr(
            "CASE WHEN doc_id % 17 = 0 THEN encode(text, 'UTF-8')"
            " ELSE concat(unhex('89504E470D0A1A0A'), " + be("13", 4)
            + ", encode('IHDR', 'UTF-8'), "
            + be("16 + (doc_id % 7) * 100", 4) + ", "
            + be("16 + (doc_id % 5) * 90", 4) + ", "
            + be("CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END", 1) + ", "
            + be("CASE cast(doc_id % 3 as int) WHEN 0 THEN 0"
                 " WHEN 1 THEN 2 ELSE 6 END", 1)
            + ", unhex('000000')) END"
        ).alias("payload")
    )


def _png_media_sql() -> str:
    # DuckDB mirror of _png_media's deterministic IHDR build.
    def be(v: str, w: int) -> str:
        return f"from_hex(lpad(hex({v}), {w * 2}, '0'))"

    return f"""
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN encode(text)
                  ELSE from_hex('89504E470D0A1A0A') || {be('13', 4)}
                       || 'IHDR'::BLOB
                       || {be('16 + (doc_id % 7) * 100', 4)}
                       || {be('16 + (doc_id % 5) * 90', 4)}
                       || {be('CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END', 1)}
                       || {be("CASE doc_id % 3 WHEN 0 THEN 0"
                              " WHEN 1 THEN 2 ELSE 6 END", 1)}
                       || from_hex('000000')
             END AS payload
      FROM documents"""


@query(
    "multimodal_png_dims",
    f"""
    WITH media AS ({_png_media_sql()}),
    parsed AS (
      SELECT CASE WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
                   AND substr(h, 25, 8) = '49484452' THEN 1 ELSE 0 END AS ok,
             TRY_CAST(('0x' || substr(h, 33, 8)) AS BIGINT) AS w,
             TRY_CAST(('0x' || substr(h, 41, 8)) AS BIGINT) AS hh,
             TRY_CAST(('0x' || substr(h, 49, 2)) AS BIGINT) AS depth,
             TRY_CAST(('0x' || substr(h, 51, 2)) AS BIGINT) AS ctype
      FROM (SELECT hex(payload) AS h FROM media))
    SELECT CASE WHEN ok = 1 THEN ctype END AS color_type,
           CASE WHEN ok = 1 THEN depth END AS bit_depth,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN ok = 1 THEN w * hh END) AS BIGINT)
             AS total_pixels,
           CAST(max(CASE WHEN ok = 1 THEN w END) AS BIGINT) AS max_width,
           CAST(max(CASE WHEN ok = 1 THEN hh END) AS BIGINT) AS max_height,
           CAST(sum(1 - ok) AS BIGINT) AS n_bad
    FROM parsed GROUP BY 1, 2
    """,
)
def multimodal_png_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Image-axis container census (wave 45): PNG signature + IHDR parse
    # (operators/multimodal.py::parse_png_header) -- dimensions, bit
    # depth, color type, total pixel volume per (color_type, bit_depth)
    # -- the decode-cost budget a multimodal ingest computes BEFORE
    # scheduling any real decode (pixels, not bytes, drive GPU decode
    # cost).  Fixture synthesizes IHDR chunks from documents (every
    # 17th corrupted; dims/depth/type derived from doc_id so both
    # engines build identical bytes).  Same posture as the WAV/MP4
    # census: map-only hex-slice byte-ops + ONE bounded agg.
    from kcl_akka_stream_spark.operators.multimodal import parse_png_header

    media = _png_media(tbl(spark, sf_dir, "documents"))
    parsed = parse_png_header(media)
    return parsed.groupBy(
        F.expr("CASE WHEN png_ok = 1 THEN color_type END").alias("color_type"),
        F.expr("CASE WHEN png_ok = 1 THEN bit_depth END").alias("bit_depth"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.expr("CASE WHEN png_ok = 1 THEN n_pixels END"))
        .cast("long")
        .alias("total_pixels"),
        F.max(F.expr("CASE WHEN png_ok = 1 THEN width END"))
        .cast("long")
        .alias("max_width"),
        F.max(F.expr("CASE WHEN png_ok = 1 THEN height END"))
        .cast("long")
        .alias("max_height"),
        F.sum(1 - F.col("png_ok")).cast("long").alias("n_bad"),
    )


def _dsir_oracle(k: int = 100, n_buckets: int = 64, modulus: int = 97) -> str:
    # Mirror of operators/sampling.py::dsir_select: distinct word
    # 2-shingles, md5-hex bucket, Laplace-smoothed micro-nat log-ratio
    # frozen per bucket, exact int64 per-doc dot product, top-k.
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    g2 AS (
      SELECT DISTINCT doc_id, unnest(
        CASE WHEN len(t) >= 2
             THEN [array_to_string(list_slice(t, i, i + 1), ' ')
                   FOR i IN generate_series(1, len(t) - 1)]
             ELSE [array_to_string(t, ' ')] END) AS gram
      FROM toks),
    bkt AS (
      SELECT doc_id,
             ('0x' || substr(md5(gram), 1, 6))::BIGINT % {n_buckets}
               AS bucket
      FROM g2),
    tgt AS (
      SELECT bucket, count(*) AS ct FROM bkt
      WHERE doc_id % {modulus} = 0 GROUP BY bucket),
    doc_b AS (
      SELECT doc_id, bucket, count(*) AS c FROM bkt
      WHERE doc_id % {modulus} <> 0 GROUP BY doc_id, bucket),
    cq AS (SELECT bucket, sum(c) AS cq FROM doc_b GROUP BY bucket),
    tt AS (SELECT sum(ct) AS tt FROM tgt),
    tq AS (SELECT sum(cq) AS tq FROM cq),
    delta AS (
      SELECT cq.bucket,
             CAST(round(ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)
                           / (tt.tt + {n_buckets})) * 1e6, 0) AS BIGINT)
             - CAST(round(ln(CAST(cq.cq + 1 AS DOUBLE)
                             / (tq.tq + {n_buckets})) * 1e6, 0) AS BIGINT)
               AS delta_micro
      FROM cq LEFT JOIN tgt t ON t.bucket = cq.bucket, tt, tq),
    weights AS (
      SELECT d.doc_id,
             CAST(sum(d.c * dl.delta_micro) AS BIGINT) AS weight_micro
      FROM doc_b d JOIN delta dl ON dl.bucket = d.bucket
      GROUP BY d.doc_id)
    SELECT doc_id, weight_micro,
           CAST(row_number() OVER (ORDER BY weight_micro DESC, doc_id)
                AS BIGINT) AS rank
    FROM weights
    ORDER BY weight_micro DESC, doc_id
    LIMIT {k}
    """


@query("sample_dsir", _dsir_oracle())
def sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR importance resampling (wave 45; Xie et al. 2023, public) --
    # the data-SELECTION pillar: rank corpus docs by the frozen
    # micro-nat log-likelihood ratio of their hashed-bigram features
    # under the target (eval) vs raw corpus distributions, keep the top
    # 100 (operators/sampling.py::dsir_select).  Exact int64 dot
    # product per doc -- rank order is bit-stable across engines and
    # partial-agg orders.  Scale: B-sized broadcast delta vector, one
    # doc-keyed exchange, TakeOrderedAndProject top-k.
    from kcl_akka_stream_spark.operators.sampling import dsir_select

    _, corpus, target = _corpus_eval_split(spark, sf_dir)
    return dsir_select(corpus, target, k=100, n_buckets=64)


def _chain_audit_oracle(threshold: float = 0.5) -> str:
    # Verified pairs (the _minhash_verified_oracle relation) -> recursive
    # transitive closure restricted to DUP-INVOLVED nodes -> per-cluster
    # edge-density audit.
    ver = _minhash_verified_oracle(threshold)
    return f"""
    WITH RECURSIVE ver AS (
      SELECT id_a, id_b FROM ({ver})
    ),
    nodes AS (
      SELECT DISTINCT id_a AS doc_id FROM ver
      UNION SELECT DISTINCT id_b FROM ver
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM ver
      UNION ALL SELECT id_b, id_a FROM ver
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
    members AS (
      SELECT cluster_id, count(*) AS m FROM lab GROUP BY cluster_id),
    epc AS (
      SELECT la.cluster_id, count(*) AS e
      FROM ver v
      JOIN lab la ON la.doc_id = v.id_a
      GROUP BY la.cluster_id),
    per_cluster AS (
      SELECT m.cluster_id, m.m, COALESCE(e.e, 0) AS e,
             m.m * (m.m - 1) // 2 AS possible
      FROM members m LEFT JOIN epc e ON e.cluster_id = m.cluster_id
      WHERE m.m >= 2)
    SELECT CAST(m AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(e) AS BIGINT) AS total_edges,
           CAST(min(e * 1000000 // possible) AS BIGINT) AS min_density_ppm,
           CAST(sum(CASE WHEN e < possible THEN 1 ELSE 0 END) AS BIGINT)
             AS n_chained
    FROM per_cluster GROUP BY m
    """


@query("dedup_chain_audit", _chain_audit_oracle())
def dedup_chain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cluster-transitivity acceptance contract (wave 46): connected
    # components over VERIFIED near-dup edges is the production cluster
    # build (dedup_clusters + keep-best), and its classic failure is
    # CHAINING -- A~B~C merged although jaccard(A,C) < threshold, so
    # keep-best silently drops a non-duplicate.  The audit reports, per
    # cluster size, how many clusters are full cliques of verified edges
    # vs chained (edge density < 1), with the minimum density as the
    # severity -- the number that tells you whether min-label CC is safe
    # to ship or the threshold/banding needs tightening.  Scale shape:
    # clusters ride the dup-involved relation (CC's own state bound);
    # density math is exact int64 on cluster-bounded rows; the report is
    # cluster-size-bounded.  Oracle recomputes closure + audit via a
    # recursive CTE.
    docs = tbl(spark, sf_dir, "documents")
    buckets = D.minhash_lsh_buckets(docs, num_hashes=8, bands=4, k=3)
    cands = D.minhash_candidate_pairs(buckets)
    ver = D.verify_candidate_jaccard(docs, cands, k=3, threshold=0.5)
    return D.chain_audit(ver)


def _span_coverage_oracle(k: int = 8) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    wins AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(list_slice(t, i, i + {k - 1}), ' ') AS gram
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {k - 1}))
                   AS i
            FROM toks WHERE len(t) >= {k})),
    dup AS (SELECT gram FROM wins GROUP BY gram HAVING count(*) > 1),
    hits AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (gram)),
    runs AS (
      SELECT doc_id, pos,
             max(pos + {k}) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS prev_end
      FROM hits),
    per_doc AS (
      SELECT doc_id,
             sum(greatest(0, pos + {k}
                          - greatest(coalesce(prev_end, pos), pos)))
               AS covered_tokens,
             count(*) AS n_dup_windows
      FROM runs GROUP BY doc_id),
    alld AS (SELECT doc_id, len(regexp_extract_all(lower(text), '{TOK}'))
                      AS n_tokens
             FROM documents)
    SELECT a.doc_id,
           CAST(a.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(p.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           CAST(CASE WHEN a.n_tokens > 0
                     THEN COALESCE(p.covered_tokens, 0) * 1000000
                          // a.n_tokens
                     ELSE 0 END AS BIGINT) AS coverage_ppm
    FROM alld a LEFT JOIN per_doc p ON p.doc_id = a.doc_id
    """


@query("dedup_span_coverage", _span_coverage_oracle())
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact-substring duplication coverage (wave 46; Lee et al. 2022,
    # public): per doc, the exact interval-union fraction of tokens
    # covered by corpus-duplicated 8-token windows -- the span-level
    # signal document-level MinHash is blind to (a unique article
    # quoting one boilerplate paragraph).  operators/dedup.py::
    # duplicate_span_coverage; the interval union is a streaming-frame
    # running max, never an unbounded-FOLLOWING re-scan.
    from kcl_akka_stream_spark.operators.dedup import duplicate_span_coverage

    return duplicate_span_coverage(tbl(spark, sf_dir, "documents"), k=8)


@query(
    "text_min_k_prob",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOK}')) AS term
      FROM documents),
    vocab AS (SELECT term, count(*) AS n_t FROM toks GROUP BY term),
    tot AS (SELECT count(*) AS n_total FROM toks),
    lp AS (
      SELECT doc_id, term,
             CAST(round(ln(CAST(n_t AS DOUBLE) / CAST(n_total AS DOUBLE))
                        * 1e6, 0) AS BIGINT) AS lp
      FROM toks JOIN vocab USING (term), tot),
    r AS (
      SELECT doc_id, lp,
             row_number() OVER (PARTITION BY doc_id ORDER BY lp, term) AS rn,
             count(*) OVER (PARTITION BY doc_id) AS n
      FROM lp)
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS k_used,
           CAST((-sum(lp)) // count(*) AS BIGINT) AS mink_nll_micro
    FROM r WHERE rn <= greatest(1, n * 20 // 100)
    GROUP BY doc_id
    """,
)
def text_min_k_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Min-K% Prob membership signal (wave 48; Shi et al. 2023, public):
    # mean NLL of each doc's 20% lowest-probability tokens under the
    # corpus-fit unigram LM (operators/text.py::min_k_prob) -- the
    # memorization/benchmark-leakage screen average-NLL smooths away:
    # memorized text has no surprising tail.  Frozen micro-nat lps, a
    # deterministic bottom-k cut, positive-dividend integer mean.
    return X.min_k_prob(tbl(spark, sf_dir, "documents"), k_pct=20)


@query(
    "privacy_k_anonymity_report",
    """
    WITH q AS (
      SELECT event_type,
             CAST(extract(hour FROM ts) AS BIGINT) AS hour_bucket,
             CAST(floor(value * 100 + 0.5) AS BIGINT) // 500 AS value_band,
             user_id
      FROM events),
    g AS (
      SELECT event_type, hour_bucket, value_band,
             count(*) AS n, count(DISTINCT user_id) AS nd
      FROM q GROUP BY 1, 2, 3)
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(min(n) AS BIGINT) AS min_group_size,
           CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS viol_k_anonymity,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS risk_rows_k,
           CAST(sum(CASE WHEN nd < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS viol_l_diversity,
           CAST(sum(CASE WHEN nd < 2 THEN n ELSE 0 END) AS BIGINT)
             AS risk_rows_l
    FROM g
    """,
)
def privacy_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k-anonymity / l-diversity release gate (wave 49; Sweeney 2002,
    # Machanavajjhala et al. 2007) -- completes the privacy pillar next
    # to PII redaction and the pseudo-DP counts: before shipping a
    # derived events extract keyed by (event_type, hour, value band),
    # count the QI groups that isolate < 5 rows or < 2 distinct users,
    # and the row mass at risk.  operators/sampling.py::
    # k_anonymity_report; ONE combinable group agg + single-row fold.
    from kcl_akka_stream_spark.operators.sampling import k_anonymity_report

    ev = tbl(spark, sf_dir, "events")
    qis = [
        F.col("event_type"),
        F.hour("ts").cast("long").alias("hour_bucket"),
        F.expr(
            "cast(floor(value * 100 + 0.5) as bigint) div 500"
        ).alias("value_band"),
    ]
    return k_anonymity_report(ev, quasi_cols=qis, k=5, l_div=2)


def _ivf_delta_oracle(n_clusters: int = 8, k: int = 5, mod: int = 10) -> str:
    # Base-only IVF (the prebuilt index: quantizer learned from and lists
    # built over vec_id % mod <> 0) + exact brute force over the fresh
    # delta (% mod = 0), merged and re-ranked per query -- the lambda
    # serving recipe for ANN freshness.
    cos_qc = _COS.format(a="q.q_vec", b="c.centroid")
    cos_qn = _COS.format(a="qa.q_vec", b="e.v")
    cos_qd = _COS.format(a="q.q_vec", b="d.v_vec")
    return f"""
    WITH {_ivf_assign_ctes(n_clusters, where=f" WHERE vec_id % {mod} <> 0")},
    vfull AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v_vec
              FROM embeddings),
    dims0 AS (
      SELECT a.cluster_id,
             [{{'dim': i, 'val': v_vec[i]}}
              FOR i IN generate_series(1, len(v_vec))] AS dv
      FROM assign a JOIN v USING (vec_id)),
    dims AS (
      SELECT cluster_id, s.dim AS dim, avg(s.val) AS mval
      FROM (SELECT cluster_id, unnest(dv) AS s FROM dims0)
      GROUP BY cluster_id, s.dim),
    cent AS (SELECT cluster_id, list(mval ORDER BY dim) AS centroid
             FROM dims GROUP BY cluster_id),
    e AS (SELECT v.vec_id, v.v_vec AS v, a.cluster_id AS cl
          FROM v JOIN assign a USING (vec_id)),
    q AS (SELECT vec_id AS q_id, v_vec AS q_vec FROM vfull WHERE vec_id < 5),
    qa AS (
      SELECT q_id, q_vec, cluster FROM (
        SELECT q.q_id, q.q_vec, c.cluster_id AS cluster,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY {cos_qc} DESC, c.cluster_id) AS r
        FROM q, cent c)
      WHERE r = 1),
    scored_base AS (
      SELECT qa.q_id, e.vec_id AS n_id, round({cos_qn}, 6) AS cos_sim
      FROM qa JOIN e ON e.cl = qa.cluster AND e.vec_id <> qa.q_id),
    scored_delta AS (
      SELECT q.q_id, d.vec_id AS n_id, round({cos_qd}, 6) AS cos_sim
      FROM q, (SELECT * FROM vfull WHERE vec_id % {mod} = 0) d
      WHERE d.vec_id <> q.q_id),
    merged AS (
      SELECT * FROM scored_base UNION ALL SELECT * FROM scored_delta)
    SELECT q_id, n_id, cos_sim, rank FROM (
      SELECT q_id, n_id, cos_sim,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos_sim DESC, n_id) AS rank
      FROM merged)
    WHERE rank <= {k}
    """


@query("sim_ivf_delta_serving", _ivf_delta_oracle())
def sim_ivf_delta_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ANN index FRESHNESS (wave 50) -- the lambda serving recipe every
    # production vector store runs: the prebuilt IVF index covers the
    # 90% base corpus (cluster-pruned probe, the offline-built path of
    # sim_topk_ivf_prebuilt), the fresh 10% delta since the last index
    # build is brute-forced exactly (small by contract -- it is ONE
    # ingest window), and per-query candidates merge by score with the
    # deterministic (cos DESC, n_id) tiebreak.  No reindex on the hot
    # path; the delta folds into the base at the next offline build.
    # Scale: base side stays cluster-pruned, delta side is the exact
    # broadcast-query scan, the merge is k-bounded per query.
    emb = tbl(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    queries = emb.filter(F.col("vec_id") < 5)
    ivf = S.ivf_topk(base, queries, k=5).select("q_id", "n_id", "cos_sim")
    br = S.brute_force_topk(delta, queries, k=5).select("q_id", "n_id", "cos_sim")
    merged = ivf.unionByName(br).filter(F.col("n_id") != F.col("q_id"))
    return S._rank_topk(merged, "cos_sim", 5).select(
        "q_id", "n_id", "cos_sim", F.col("rank").cast("long")
    )


@query(
    "text_backoff_lm_score",
    f"""
    WITH lmdocs AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
    lmp AS (
      SELECT t[i] AS a, t[i + 1] AS b
      FROM (SELECT regexp_extract_all(lower(text), '{TOK}') AS t FROM lmdocs),
           unnest(generate_series(1, len(t) - 1)) AS u(i)),
    pc AS (SELECT a, b, count(*) AS n_ab FROM lmp GROUP BY a, b),
    cc AS (SELECT a, sum(n_ab) AS n_a FROM pc GROUP BY a),
    uni AS (
      SELECT w, count(*) AS n_w FROM (
        SELECT unnest(regexp_extract_all(lower(text), '{TOK}')) AS w
        FROM lmdocs) GROUP BY w),
    tot AS (SELECT sum(n_w) AS n_total FROM uni),
    dp AS (
      SELECT doc_id, t[i] AS a, t[i + 1] AS b
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t
            FROM documents),
           unnest(generate_series(1, len(t) - 1)) AS u(i)),
    scored AS (
      SELECT dp.doc_id,
             CAST(round(CASE
               WHEN pc.n_ab IS NOT NULL
                 THEN ln(CAST(pc.n_ab AS DOUBLE) / CAST(cc.n_a AS DOUBLE))
               WHEN uni.n_w IS NOT NULL
                 THEN ln(0.4 * CAST(uni.n_w AS DOUBLE)
                         / CAST(tot.n_total AS DOUBLE))
               ELSE ln(0.4 / (CAST(tot.n_total AS DOUBLE) + 1))
             END * 1e6, 0) AS BIGINT) AS lp,
             CASE WHEN pc.n_ab IS NOT NULL THEN 1 ELSE 0 END AS hit_pair,
             CASE WHEN pc.n_ab IS NULL AND uni.n_w IS NOT NULL
                  THEN 1 ELSE 0 END AS hit_uni
      FROM dp
      LEFT JOIN pc ON pc.a = dp.a AND pc.b = dp.b
      LEFT JOIN cc ON cc.a = dp.a
      LEFT JOIN uni ON uni.w = dp.b, tot)
    SELECT s.doc_id, d.lang,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(hit_pair) AS BIGINT) AS n_pair_hits,
           CAST(sum(hit_uni) AS BIGINT) AS n_backoff_uni,
           CAST((-sum(lp)) // count(*) AS BIGINT) AS avg_nll_micro
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    GROUP BY s.doc_id, d.lang
    """,
)
def text_backoff_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stupid-backoff cross-corpus LM gate (wave 52; Brants et al. 2007):
    # fit bigram+unigram counts on the ENGLISH half, score EVERY doc --
    # the held-out-LM quality gate where unseen bigrams are the point
    # (bigram_logprob fits on the scored corpus, so it never backs off).
    # Out-of-domain docs surface through n_backoff_uni and the floored
    # NLL; operators/text.py::backoff_lm_score.
    from kcl_akka_stream_spark.operators.text import backoff_lm_score

    docs = tbl(spark, sf_dir, "documents")
    lm = docs.filter(F.col("lang") == "en")
    scored = backoff_lm_score(docs, lm)
    return scored.join(
        docs.select("doc_id", "lang"), "doc_id"
    ).select(
        "doc_id", "lang", "n_bigrams", "n_pair_hits", "n_backoff_uni",
        "avg_nll_micro",
    )


def _mmr_oracle(n_candidates: int = 20, lam: int = 7) -> str:
    # Unrolled exact-integer MMR greedy (k=3) mirroring
    # operators/similarity.py::mmr_rerank: micro-frozen relevance and
    # pairwise sims, argmax with id tiebreak per step.
    cos_qn = _COS.format(a="q_vec", b="n_vec")
    cos_ab = _COS.format(a="a.v", b="b.v")
    mu = 10 - lam
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS q_vec FROM v WHERE vec_id < 5),
    scored AS (
      SELECT q_id, c.vec_id AS n_id,
             round({cos_qn.replace('n_vec', 'c.v')}, 6) AS cos6
      FROM v c, q WHERE q_id <> c.vec_id),
    cand AS (
      SELECT q_id, n_id,
             CAST(round(cos6 * 1000000, 0) AS BIGINT) AS rel_micro
      FROM (SELECT q_id, n_id, cos6,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos6 DESC, n_id) AS rk
            FROM scored)
      WHERE rk <= {n_candidates}),
    ps AS (
      SELECT ca.q_id, ca.n_id AS id_a, cb.n_id AS id_b,
             CAST(round({cos_ab} * 1000000, 0) AS BIGINT) AS sim_micro
      FROM cand ca JOIN cand cb
        ON ca.q_id = cb.q_id AND ca.n_id <> cb.n_id
      JOIN v a ON a.vec_id = ca.n_id
      JOIN v b ON b.vec_id = cb.n_id),
    s1 AS (
      SELECT q_id, n_id, rel_micro, CAST(1 AS BIGINT) AS step FROM (
        SELECT q_id, n_id, rel_micro,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY rel_micro * 10 DESC, n_id) AS rk
        FROM cand) WHERE rk = 1),
    sc2 AS (
      SELECT c.q_id, c.n_id, c.rel_micro,
             c.rel_micro * {lam} - COALESCE(p.sim_micro, 0) * {mu} AS sc
      FROM cand c
      JOIN s1 ON s1.q_id = c.q_id AND s1.n_id <> c.n_id
      LEFT JOIN ps p ON p.q_id = c.q_id AND p.id_a = c.n_id
                     AND p.id_b = s1.n_id),
    s2 AS (
      SELECT q_id, n_id, rel_micro, CAST(2 AS BIGINT) AS step FROM (
        SELECT q_id, n_id, rel_micro,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY sc DESC, n_id) AS rk
        FROM sc2) WHERE rk = 1),
    sel12 AS (SELECT q_id, n_id FROM s1 UNION ALL SELECT q_id, n_id FROM s2),
    ms3 AS (
      SELECT p.q_id, p.id_a AS n_id, max(p.sim_micro) AS ms
      FROM ps p JOIN sel12 s ON s.q_id = p.q_id AND s.n_id = p.id_b
      GROUP BY p.q_id, p.id_a),
    sc3 AS (
      SELECT c.q_id, c.n_id, c.rel_micro,
             c.rel_micro * {lam} - COALESCE(m.ms, 0) * {mu} AS sc
      FROM cand c
      LEFT JOIN ms3 m ON m.q_id = c.q_id AND m.n_id = c.n_id
      WHERE NOT EXISTS (SELECT 1 FROM sel12 s
                        WHERE s.q_id = c.q_id AND s.n_id = c.n_id)),
    s3 AS (
      SELECT q_id, n_id, rel_micro, CAST(3 AS BIGINT) AS step FROM (
        SELECT q_id, n_id, rel_micro,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY sc DESC, n_id) AS rk
        FROM sc3) WHERE rk = 1)
    SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
    """


@query("sim_mmr_rerank", _mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MMR diversified re-ranking (wave 54; Carbonell & Goldstein 1998)
    # -- the diversity pass after ANN retrieval: greedy k=3 selection
    # maximizing 0.7*relevance - 0.3*max-sim-to-selected, EXACT in
    # integer micro cosines with id tiebreaks so both engines pick
    # identical sets in identical order
    # (operators/similarity.py::mmr_rerank).  Candidates and their
    # pairwise-sim relation are (queries x 20^2)-bounded; each greedy
    # step is one bounded join + argmax window.
    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.mmr_rerank(emb, queries, n_candidates=20, k=3)


def _decon_span_oracle(k: int = 8, modulus: int = 97) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    wins AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(list_slice(t, i, i + {k - 1}), ' ') AS gram
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {k - 1}))
                   AS i
            FROM toks WHERE len(t) >= {k})),
    evg AS (
      SELECT DISTINCT gram FROM wins WHERE doc_id % {modulus} = 0),
    hits AS (
      SELECT w.doc_id, w.pos FROM wins w JOIN evg USING (gram)
      WHERE w.doc_id % {modulus} <> 0),
    runs AS (
      SELECT doc_id, pos,
             max(pos + {k}) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS prev_end
      FROM hits),
    per_doc AS (
      SELECT doc_id,
             sum(greatest(0, pos + {k}
                          - greatest(coalesce(prev_end, pos), pos)))
               AS covered_tokens,
             count(*) AS n_eval_windows
      FROM runs GROUP BY doc_id),
    alld AS (SELECT doc_id, len(regexp_extract_all(lower(text), '{TOK}'))
                      AS n_tokens
             FROM documents WHERE doc_id % {modulus} <> 0)
    SELECT a.doc_id,
           CAST(a.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(p.n_eval_windows, 0) AS BIGINT) AS n_eval_windows,
           CAST(COALESCE(p.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           CAST(CASE WHEN a.n_tokens > 0
                     THEN COALESCE(p.covered_tokens, 0) * 1000000
                          // a.n_tokens
                     ELSE 0 END AS BIGINT) AS coverage_ppm
    FROM alld a LEFT JOIN per_doc p ON p.doc_id = a.doc_id
    """


@query("pipeline_decontaminate_spans", _decon_span_oracle())
def pipeline_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Span-level decontamination (wave 56): the interval-union fraction
    # of each corpus doc covered by 8-token windows occurring anywhere
    # in the eval set -- QUANTIFIES contamination where the exact/fuzzy
    # paths only flag it, which is what sets a removal-vs-redaction
    # threshold (operators/corpus.py::decontaminate_span_coverage).
    # Eval windows broadcast; corpus never self-joins.
    from kcl_akka_stream_spark.operators.corpus import (
        decontaminate_span_coverage,
    )

    _, corpus, eval_df = _corpus_eval_split(spark, sf_dir)
    return decontaminate_span_coverage(corpus, eval_df, k=8)


def _jpeg_oracle(max_segments: int = 6) -> str:
    # DuckDB mirror of the JPEG fixture build + SOF segment walk (BE
    # reads via hex slicing; the SOF offset is reached by WALKING the
    # marker-length chain -- see operators/multimodal.py::
    # parse_jpeg_header).  The walk unrolls the same bounded hop chain
    # with lateral column aliases.
    def rd(off: str, w: int) -> str:
        return (
            f"TRY_CAST(('0x' || substr(h, 2 * ({off}) + 1, {2 * w}))"
            " AS BIGINT)"
        )

    hops = []
    valid = "substr(h, 1, 4) = 'FFD8'"
    for i in range(max_segments):
        hops.append(
            f"({valid}) AND substr(h, 2 * o{i} + 1, 2) = 'FF' AS v{i},\n"
            f"             substr(h, 2 * o{i} + 3, 2) AS m{i},\n"
            f"             o{i} + 2 + {rd(f'o{i} + 2', 2)} AS o{i + 1},"
        )
        valid = f"v{i} AND m{i} NOT IN ('C0', 'C2', 'D9', 'DA')"
    sof = (
        "CASE "
        + " ".join(
            f"WHEN v{i} AND m{i} IN ('C0', 'C2') THEN o{i}"
            for i in range(max_segments)
        )
        + " END"
    )
    hop_cols = "\n             ".join(hops)
    return f"""
    WITH p AS (
      SELECT doc_id,
             160 + (doc_id % 13) * 16 AS w,
             120 + (doc_id % 7) * 24 AS hh,
             CASE WHEN doc_id % 2 = 0 THEN 'FFC0' ELSE 'FFC2' END AS kind,
             CAST(doc_id % 3 AS BIGINT) AS nfill,
             CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS ncomp,
             text
      FROM documents),
    media AS (
      SELECT doc_id,
             CASE WHEN doc_id % 19 = 0 THEN encode(text)
                  ELSE from_hex('FFD8' || 'FFE00010' || '4A46494600'
                        || repeat('00', 9)
                        || repeat('FFDB0005010203', CAST(nfill AS INT))
                        || kind || lpad(hex(8 + 3 * ncomp), 4, '0') || '08'
                        || lpad(hex(hh), 4, '0') || lpad(hex(w), 4, '0')
                        || lpad(hex(ncomp), 2, '0')
                        || substr('011100022101031101', 1, 6 * ncomp))
             END AS payload
      FROM p),
    walked AS (
      SELECT CAST(2 AS BIGINT) AS o0,
             {hop_cols}
             h
      FROM (SELECT hex(payload) AS h FROM media)),
    parsed AS (
      SELECT {sof} AS sof, h FROM walked),
    fields AS (
      SELECT CASE WHEN sof IS NOT NULL THEN 1 ELSE 0 END AS ok,
             CASE WHEN sof IS NOT NULL THEN
               CASE substr(h, 2 * sof + 3, 2)
                    WHEN 'C0' THEN 'baseline' ELSE 'progressive' END
             END AS sof_kind,
             {rd('sof + 9', 1)} AS n_components,
             {rd('sof + 5', 2)} AS height,
             {rd('sof + 7', 2)} AS width
      FROM parsed)
    SELECT CASE WHEN ok = 1 THEN sof_kind END AS sof_kind,
           CASE WHEN ok = 1 THEN n_components END AS n_components,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN ok = 1 THEN height * width END) AS BIGINT)
             AS total_pixels,
           CAST(max(CASE WHEN ok = 1 THEN width END) AS BIGINT) AS max_width,
           CAST(max(CASE WHEN ok = 1 THEN height END) AS BIGINT)
             AS max_height,
           CAST(sum(1 - ok) AS BIGINT) AS n_bad
    FROM fields GROUP BY 1, 2
    """


def _jpeg_media(docs: DataFrame) -> DataFrame:
    """Deterministic JPEG fixture build: JFIF APP0 + 0..2 DQT filler
    segments + SOF0 or SOF2, dims/kind/components derived from doc_id;
    every 19th doc corrupted.  The VARIABLE filler count is the point: the
    SOF lands at a data-dependent offset, so only a real segment walk
    parses it."""
    p = docs.select(
        "doc_id",
        "text",
        F.expr("160 + (doc_id % 13) * 16").alias("w"),
        F.expr("120 + (doc_id % 7) * 24").alias("hh"),
        F.expr(
            "CASE WHEN doc_id % 2 = 0 THEN 'FFC0' ELSE 'FFC2' END"
        ).alias("kind"),
        F.expr("cast(doc_id % 3 as int)").alias("nfill"),
        F.expr("CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END").alias("ncomp"),
    )
    return p.select(
        F.expr(
            "CASE WHEN doc_id % 19 = 0 THEN encode(text, 'UTF-8')"
            " ELSE unhex(concat('FFD8', 'FFE00010', '4A46494600',"
            " repeat('00', 9),"
            " repeat('FFDB0005010203', nfill),"
            " kind, lpad(hex(8 + 3 * ncomp), 4, '0'), '08',"
            " lpad(hex(hh), 4, '0'), lpad(hex(w), 4, '0'),"
            " lpad(hex(ncomp), 2, '0'),"
            " substring('011100022101031101', 1, 6 * ncomp))) END"
        ).alias("payload")
    )


@query("multimodal_jpeg_dims", _jpeg_oracle())
def multimodal_jpeg_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JPEG dimension census (wave 57, VERDICT r12 #3): the fourth of the
    # big-five container parsers -- walk the JFIF marker-segment chain
    # to SOF0/SOF2 and roll up pixel volume per (sof_kind,
    # n_components).  Unlike PNG the frame header's offset is
    # data-dependent (APPn/DQT segments of arbitrary length precede
    # it), so this exercises a bounded WALK like the MP4 box parse; the
    # fixture varies the filler-segment count per doc to prove it.
    # Same 100 TB posture: hex-slice reads inside whole-stage codegen,
    # map-only + ONE bounded agg, corrupt payloads counted not parsed.
    from kcl_akka_stream_spark.operators.multimodal import parse_jpeg_header

    media = _jpeg_media(tbl(spark, sf_dir, "documents"))
    parsed = parse_jpeg_header(media)
    return parsed.groupBy(
        F.expr("CASE WHEN jpeg_ok = 1 THEN sof_kind END").alias("sof_kind"),
        F.expr("CASE WHEN jpeg_ok = 1 THEN n_components END").alias(
            "n_components"
        ),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.expr("CASE WHEN jpeg_ok = 1 THEN n_pixels END"))
        .cast("long")
        .alias("total_pixels"),
        F.max(F.expr("CASE WHEN jpeg_ok = 1 THEN width END"))
        .cast("long")
        .alias("max_width"),
        F.max(F.expr("CASE WHEN jpeg_ok = 1 THEN height END"))
        .cast("long")
        .alias("max_height"),
        F.sum(1 - F.col("jpeg_ok")).cast("long").alias("n_bad"),
    )


def _mp3_oracle() -> str:
    # DuckDB mirror of the MP3 fixture build + first-frame parse
    # (syncsafe ID3v2 skip, bitrate/sample-rate tables, exact integer
    # frame math -- see operators/multimodal.py::parse_mp3_header).
    def rd(off: str, w: int) -> str:
        return (
            f"TRY_CAST(('0x' || substr(h, 2 * ({off}) + 1, {2 * w}))"
            " AS BIGINT)"
        )

    br_case = "CASE br_idx " + " ".join(
        f"WHEN {i} THEN {k}"
        for i, k in (
            (1, 32), (2, 40), (3, 48), (4, 56), (5, 64), (6, 80), (7, 96),
            (8, 112), (9, 128), (10, 160), (11, 192), (12, 224), (13, 256),
            (14, 320),
        )
    ) + " END"
    return f"""
    WITH p AS (
      SELECT doc_id,
             1 + doc_id % 14 AS br_idx,
             CAST(doc_id % 3 AS BIGINT) AS sr_idx,
             2 + doc_id % 4 AS n_frames,
             5 + doc_id % 20 AS tag_body,
             text
      FROM documents),
    p2 AS (
      SELECT doc_id, br_idx, sr_idx, n_frames, tag_body,
             144000 * ({br_case})
               // (CASE sr_idx WHEN 0 THEN 44100 WHEN 1 THEN 48000
                               ELSE 32000 END) AS fl,
             text
      FROM p),
    media AS (
      SELECT doc_id,
             CASE WHEN doc_id % 23 = 0 THEN encode(text)
                  ELSE CASE WHEN doc_id % 2 = 0
                       THEN from_hex('494433' || '0400' || '00'
                            || '000000' || lpad(hex(tag_body), 2, '0')
                            || repeat('00', CAST(tag_body AS INT)))
                       ELSE ''::BLOB END
                       || from_hex('FF' || 'FB'
                            || lpad(hex(br_idx * 16 + sr_idx * 4), 2, '0')
                            || 'C0'
                            || repeat('00', CAST(n_frames * fl - 4 AS INT)))
             END AS payload
      FROM p2),
    hx AS (
      SELECT hex(payload) AS h, octet_length(payload) AS nb FROM media),
    offs AS (
      SELECT h, nb,
             CASE WHEN substr(h, 1, 6) = '494433'
                  THEN 10 + ({rd('6', 1)} * 2097152 + {rd('7', 1)} * 16384
                             + {rd('8', 1)} * 128 + {rd('9', 1)})
                  ELSE 0 END AS off
      FROM hx),
    hdr AS (
      SELECT h, nb, off,
             {rd('off + 1', 1)} AS b1, {rd('off + 2', 1)} AS b2
      FROM offs),
    parsed AS (
      SELECT CASE WHEN substr(h, 2 * off + 1, 2) = 'FF'
                   AND b1 // 32 = 7 AND (b1 // 8) % 4 = 3
                   AND (b1 // 2) % 4 = 1
                   AND b2 // 16 BETWEEN 1 AND 14
                   AND (b2 // 4) % 4 <= 2 THEN 1 ELSE 0 END AS ok,
             (SELECT {br_case.replace('br_idx', '(b2 // 16)')}) AS br,
             CASE (b2 // 4) % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                                WHEN 2 THEN 32000 END AS sr,
             (b2 // 2) % 2 AS pad, nb, off
      FROM hdr),
    fr AS (
      SELECT ok, br, sr,
             144000 * br // sr + pad AS frame_bytes,
             (nb - off) // (144000 * br // sr + pad) AS est_frames
      FROM parsed)
    SELECT CASE WHEN ok = 1 THEN sr END AS sample_rate,
           CASE WHEN ok = 1 THEN br END AS bitrate_kbps,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN ok = 1 THEN est_frames END) AS BIGINT)
             AS total_frames,
           CAST(sum(CASE WHEN ok = 1
                         THEN est_frames * 1152000 // sr END) AS BIGINT)
             AS total_duration_ms,
           CAST(sum(1 - ok) AS BIGINT) AS n_bad
    FROM fr GROUP BY 1, 2
    """


def _mp3_media(docs: DataFrame) -> DataFrame:
    """Deterministic MP3 fixture build: optional ID3v2 tag (variable
    syncsafe body size -- the first audio frame lands at a data-dependent
    offset) + n_frames Layer III frames of the exact frame-equation size;
    every 23rd doc corrupted."""
    br_case = (
        "CASE br_idx WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48"
        " WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96"
        " WHEN 8 THEN 112 WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192"
        " WHEN 12 THEN 224 WHEN 13 THEN 256 WHEN 14 THEN 320 END"
    )
    p = docs.select(
        "doc_id",
        "text",
        F.expr("1 + doc_id % 14").alias("br_idx"),
        F.expr("cast(doc_id % 3 as bigint)").alias("sr_idx"),
        F.expr("2 + doc_id % 4").alias("n_frames"),
        F.expr("5 + doc_id % 20").alias("tag_body"),
    ).withColumn(
        "fl",
        F.expr(
            f"144000 * ({br_case}) div (CASE sr_idx WHEN 0 THEN 44100"
            " WHEN 1 THEN 48000 ELSE 32000 END)"
        ),
    )
    return p.select(
        F.expr(
            "CASE WHEN doc_id % 23 = 0 THEN encode(text, 'UTF-8')"
            " ELSE concat("
            " CASE WHEN doc_id % 2 = 0"
            " THEN unhex(concat('494433', '0400', '00', '000000',"
            " lpad(hex(tag_body), 2, '0'),"
            " repeat('00', cast(tag_body as int))))"
            " ELSE cast('' as binary) END,"
            " unhex(concat('FF', 'FB',"
            " lpad(hex(br_idx * 16 + sr_idx * 4), 2, '0'), 'C0',"
            " repeat('00', cast(n_frames * fl - 4 as int))))) END"
        ).alias("payload")
    )


@query("multimodal_mp3_header", _mp3_oracle())
def multimodal_mp3_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MP3 frame-header census (wave 57, VERDICT r12 #3): the fifth of
    # the big-five container parsers -- skip a variable-size ID3v2 tag
    # via its SYNCSAFE size field (a real data-dependent read, like the
    # ftyp size walk), validate the MPEG-1 Layer III sync/version/layer
    # bits, decode bitrate/sample-rate via the frozen public tables,
    # and estimate whole-file duration from the exact integer frame
    # equation.  Rollup per (sample_rate, bitrate_kbps); corrupt
    # payloads counted, never parsed.  Map-only byte-ops + ONE bounded
    # agg -- the audio sweep that budgets transcode cost across 100 TB
    # before any codec is scheduled.
    from kcl_akka_stream_spark.operators.multimodal import parse_mp3_header

    media = _mp3_media(tbl(spark, sf_dir, "documents"))
    parsed = parse_mp3_header(media)
    return parsed.groupBy(
        F.expr("CASE WHEN mp3_ok = 1 THEN sample_rate END").alias(
            "sample_rate"
        ),
        F.expr("CASE WHEN mp3_ok = 1 THEN bitrate_kbps END").alias(
            "bitrate_kbps"
        ),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.expr("CASE WHEN mp3_ok = 1 THEN est_frames END"))
        .cast("long")
        .alias("total_frames"),
        F.sum(F.expr("CASE WHEN mp3_ok = 1 THEN duration_ms END"))
        .cast("long")
        .alias("total_duration_ms"),
        F.sum(1 - F.col("mp3_ok")).cast("long").alias("n_bad"),
    )


def _qmodel_fixture_sql() -> str:
    # Shared engineered-label corpus (the acceptance-contract pattern:
    # the labels and their textual signal are INJECTED deterministically,
    # so the report must RECOVER them -- a broken fit scores ~chance).
    # Positive docs (even doc_id) get three 'good' marker tokens,
    # negatives three 'bad' ones; every 7th positive / 11th negative
    # ALSO gets the opposite marker set (symmetric markers cancel, so
    # those docs classify on base-text noise) -- the report is
    # non-degenerate by construction.
    return """
    lbl AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS lb,
             text || CASE WHEN doc_id % 2 = 0
                          THEN ' coherent cited edited'
                          ELSE ' clickbait spam adfarm' END
                  || CASE WHEN doc_id % 2 = 0 AND doc_id % 7 = 0
                          THEN ' clickbait spam adfarm'
                          WHEN doc_id % 2 <> 0 AND doc_id % 11 = 0
                          THEN ' coherent cited edited'
                          ELSE '' END AS text2
      FROM documents)
    """


def _qmodel_scored_sql(n_buckets: int = 256, holdout_mod: int = 3) -> str:
    # DuckDB mirror of operators/quality.py::hashed_logodds_fit_score
    # over the engineered fixture: distinct hashed-unigram presence
    # features, Bernoulli-NB log-odds weights with every ln frozen to
    # integer micro-nats BEFORE summation, exact int64 scores.
    def ml(e: str) -> str:
        return (
            f"CAST(round(ln(CAST({e} AS DOUBLE)) * 1000000, 0) AS BIGINT)"
        )

    return f"""
    WITH {_qmodel_fixture_sql()},
    feats AS (
      SELECT DISTINCT doc_id, lb,
             CASE WHEN doc_id % {holdout_mod} = 0 THEN 1 ELSE 0 END AS tst,
             ('0x' || substr(md5(tok), 1, 6))::BIGINT % {n_buckets} AS bkt
      FROM (SELECT doc_id, lb,
                   unnest(regexp_extract_all(lower(text2), '{TOK}')) AS tok
            FROM lbl)),
    totals AS (
      SELECT CAST(sum(lb) AS BIGINT) AS np,
             CAST(sum(1 - lb) AS BIGINT) AS nn
      FROM lbl WHERE doc_id % {holdout_mod} <> 0),
    bktc AS (
      SELECT bkt, CAST(sum(lb) AS BIGINT) AS pb,
             CAST(sum(1 - lb) AS BIGINT) AS nb
      FROM feats WHERE tst = 0 GROUP BY bkt),
    w AS (
      SELECT bkt,
             {ml('pb + 1')} - {ml('np + 2')}
             - {ml('nb + 1')} + {ml('nn + 2')} AS wv
      FROM bktc, totals),
    sc AS (
      SELECT doc_id, lb,
             CAST(count(*) AS BIGINT) AS nf,
             CAST(sum(COALESCE(wv,
                  {ml('1')} - {ml('np + 2')}
                  - {ml('1')} + {ml('nn + 2')})) AS BIGINT) AS ws
      FROM feats f LEFT JOIN w ON w.bkt = f.bkt, totals
      WHERE tst = 1 GROUP BY doc_id, lb),
    fin AS (
      SELECT doc_id, lb AS label, nf AS n_feat_buckets,
             ws + {ml('np + 1')} - {ml('nn + 1')} AS score_micro,
             CASE WHEN ws + {ml('np + 1')} - {ml('nn + 1')} > 0
                  THEN 1 ELSE 0 END AS pred
      FROM sc, totals)
    """


def _qmodel_fixture(docs: DataFrame) -> DataFrame:
    """Spark side of the engineered-label corpus (see
    _qmodel_fixture_sql): (doc_id, label, text)."""
    return docs.select(
        "doc_id",
        F.expr("CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END").alias("label"),
        F.expr(
            "text || CASE WHEN doc_id % 2 = 0"
            " THEN ' coherent cited edited'"
            " ELSE ' clickbait spam adfarm' END"
            " || CASE WHEN doc_id % 2 = 0 AND doc_id % 7 = 0"
            " THEN ' clickbait spam adfarm'"
            " WHEN doc_id % 2 <> 0 AND doc_id % 11 = 0"
            " THEN ' coherent cited edited'"
            " ELSE '' END"
        ).alias("text"),
    )


@query(
    "text_quality_model_scores",
    _qmodel_scored_sql()
    + """
    SELECT doc_id, CAST(label AS BIGINT) AS label,
           n_feat_buckets, score_micro, CAST(pred AS BIGINT) AS pred
    FROM fin
    ORDER BY score_micro DESC, doc_id
    LIMIT 100
    """,
)
def text_quality_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Model-based quality scoring (wave 58, VERDICT r12 #4): fastText/
    # CCNet-style hashed-unigram linear classifier with a CLOSED-FORM
    # Bernoulli-NB log-odds fit (frozen integer micro-nat weights) on
    # the train split of an engineered-label corpus; this query serves
    # the top-100 held-out docs by model score.  Scale: the model is a
    # <=256-row broadcast relation; scoring is one docs-keyed agg +
    # TakeOrderedAndProject -- the shape that scores a 100 TB crawl.
    from kcl_akka_stream_spark.operators.quality import (
        hashed_logodds_fit_score,
    )

    fx = _qmodel_fixture(tbl(spark, sf_dir, "documents"))
    scored = hashed_logodds_fit_score(fx)
    return (
        scored.select(
            "doc_id",
            F.col("label").cast("long").alias("label"),
            "n_feat_buckets",
            "score_micro",
            F.col("pred").cast("long").alias("pred"),
        )
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(100)
    )


@query(
    "text_quality_model_report",
    _qmodel_scored_sql()
    + """
    SELECT CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(sum(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(sum(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(sum(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS tn,
           CAST(sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END)
                * 1000000
                // nullif(sum(CASE WHEN pred = 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS precision_ppm,
           CAST(sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END)
                * 1000000
                // nullif(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS recall_ppm,
           CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS accuracy_ppm
    FROM fin
    """,
)
def text_quality_model_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Acceptance contract for the model-based quality scorer (wave 58):
    # held-out confusion counts + precision/recall/accuracy in exact
    # ppm.  The labels' textual signal is INJECTED (marker tokens), so
    # a working fit must recover it -- precision/recall collapse to
    # ~chance if the hashing, the fit, or the split leaks/breaks, and
    # pytest pins exactly that red case (labels decoupled from markers
    # -> accuracy ~ 500000 ppm) plus the green floor here.
    from kcl_akka_stream_spark.operators.quality import (
        hashed_logodds_fit_score,
    )

    fx = _qmodel_fixture(tbl(spark, sf_dir, "documents"))
    scored = hashed_logodds_fit_score(fx)
    agree = F.expr("CASE WHEN label = pred THEN 1 ELSE 0 END")
    tp = F.expr("CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END")
    fp = F.expr("CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END")
    fn_ = F.expr("CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END")
    tn = F.expr("CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END")
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(tp).cast("long").alias("tp"),
        F.sum(fp).cast("long").alias("fp"),
        F.sum(fn_).cast("long").alias("fn"),
        F.sum(tn).cast("long").alias("tn"),
        F.expr(
            "cast(sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END)"
            " * 1000000 div nullif(sum(pred), 0) as bigint)"
        ).alias("precision_ppm"),
        F.expr(
            "cast(sum(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END)"
            " * 1000000 div nullif(sum(label), 0) as bigint)"
        ).alias("recall_ppm"),
        F.expr(
            "cast(sum(CASE WHEN label = pred THEN 1 ELSE 0 END)"
            " * 1000000 div count(*) as bigint)"
        ).alias("accuracy_ppm"),
    )


def _kcenter_oracle(k: int = 4) -> str:
    # Unrolled exact-integer greedy k-center mirroring
    # operators/similarity.py::kcenter_select: micro-frozen cosine
    # distances, per-point min over the selected set, global argmax
    # with id tiebreak per step.
    cos = _COS.format(a="c.v", b="s.v")
    dist = f"CAST(1000000 - round({cos} * 1000000, 0) AS BIGINT)"
    ctes = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        "s1 AS (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 1)",
        "sel1 AS (SELECT vec_id, v FROM s1)",
    ]
    for i in range(2, k + 1):
        ctes.append(
            f"d{i} AS (SELECT c.vec_id, c.v, min({dist}) AS md"
            f" FROM v c JOIN sel{i - 1} s ON true"
            f" WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})"
            f" GROUP BY c.vec_id, c.v)"
        )
        ctes.append(
            f"s{i} AS (SELECT vec_id, v, md FROM d{i}"
            f" ORDER BY md DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"sel{i} AS (SELECT vec_id, v FROM sel{i - 1}"
            f" UNION ALL SELECT vec_id, v FROM s{i})"
        )
    unions = ["SELECT CAST(1 AS BIGINT) AS step, vec_id,"
              " CAST(NULL AS BIGINT) AS maximin_micro FROM s1"]
    for i in range(2, k + 1):
        unions.append(
            f"SELECT CAST({i} AS BIGINT) AS step, vec_id,"
            f" md AS maximin_micro FROM s{i}"
        )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(
        unions
    )


@query("sample_kcenter_diverse", _kcenter_oracle())
def sample_kcenter_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Diversity-maximizing exemplar selection (wave 59): greedy k-center
    # over the embedding pool -- the corpus-level diversity pass
    # (coreset selection / dataset-coverage sampling) that complements
    # per-query MMR.  Exact-integer maximin with id tiebreaks; the
    # returned maximin_micro column IS the coverage-radius curve (non-
    # increasing), the acceptance signal a curation run monitors.  Each
    # greedy step: pool x (<=k broadcast picks) -> per-point min ->
    # TakeOrderedAndProject argmax; picks are 1-row eager checkpoints.
    from kcl_akka_stream_spark.operators.similarity import kcenter_select

    emb = tbl(spark, sf_dir, "embeddings")
    return kcenter_select(emb, k=4)


@query(
    "text_good_turing",
    f"""
    WITH toks AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '{TOK}')) AS tok
      FROM documents),
    tf AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS r
      FROM toks GROUP BY lang, tok),
    foF AS (
      SELECT lang, r, CAST(count(*) AS BIGINT) AS nr
      FROM tf GROUP BY lang, r),
    tot AS (
      SELECT lang, CAST(sum(r * nr) AS BIGINT) AS n_tokens,
             CAST(sum(nr) AS BIGINT) AS vocab_size
      FROM foF GROUP BY lang)
    SELECT t.lang, t.n_tokens, t.vocab_size,
           CAST(COALESCE(max(CASE WHEN f.r = 1 THEN f.nr END), 0)
                AS BIGINT) AS n1,
           CAST(COALESCE(max(CASE WHEN f.r = 2 THEN f.nr END), 0)
                AS BIGINT) AS n2,
           CAST(COALESCE(max(CASE WHEN f.r = 1 THEN f.nr END), 0) * 1000000
                // t.n_tokens AS BIGINT) AS unseen_mass_ppm,
           CAST(COALESCE(max(CASE WHEN f.r = 1 THEN f.nr END), 0) * 1000000
                // t.vocab_size AS BIGINT) AS hapax_frac_ppm
    FROM tot t JOIN foF f ON f.lang = t.lang
    GROUP BY t.lang, t.n_tokens, t.vocab_size
    """,
)
def text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Good-Turing frequency-of-frequencies per lang (wave 62; Good
    # 1953, public): hapax/dis-legomena counts and the Good-Turing
    # unseen-mass estimate P0 = N1/N -- the number every smoothing
    # scheme and every "how much vocabulary have we NOT seen yet"
    # crawl-coverage question starts from, exact in integer ppm.
    # Shape: tf agg -> count-of-counts agg (r-bounded relation) ->
    # per-lang fold; nothing after the tf agg is data-sized.
    from kcl_akka_stream_spark.operators.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    tf = (
        spread(docs.select("lang", "text"))
        .select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    # fof is (langs x distinct counts)-BOUNDED and feeds both the totals
    # and the final fold -- checkpoint once so the data-sized tf subtree
    # is not replayed per consumer (the sample_dsir lesson)
    fof = (
        tf.groupBy("lang", "r")
        .agg(F.count(F.lit(1)).cast("long").alias("nr"))
        .localCheckpoint(eager=True)
    )
    tot = fof.groupBy("lang").agg(
        F.sum(F.expr("r * nr")).cast("long").alias("n_tokens"),
        F.sum("nr").cast("long").alias("vocab_size"),
    )
    return (
        fof.join(F.broadcast(tot), "lang")
        .groupBy("lang", "n_tokens", "vocab_size")
        .agg(
            F.coalesce(
                F.max(F.expr("CASE WHEN r = 1 THEN nr END")), F.lit(0)
            )
            .cast("long")
            .alias("n1"),
            F.coalesce(
                F.max(F.expr("CASE WHEN r = 2 THEN nr END")), F.lit(0)
            )
            .cast("long")
            .alias("n2"),
            F.expr(
                "cast(coalesce(max(CASE WHEN r = 1 THEN nr END), 0)"
                " * 1000000 div n_tokens as bigint)"
            ).alias("unseen_mass_ppm"),
            F.expr(
                "cast(coalesce(max(CASE WHEN r = 1 THEN nr END), 0)"
                " * 1000000 div vocab_size as bigint)"
            ).alias("hapax_frac_ppm"),
        )
        .select(
            "lang", "n_tokens", "vocab_size", "n1", "n2",
            "unseen_mass_ppm", "hapax_frac_ppm",
        )
    )


def _doremi_oracle() -> str:
    # Mirror of pipeline_doremi_weights: Laplace-smoothed unigram NLL
    # under the GLOBAL model vs the per-lang REFERENCE model, both with
    # per-token log-probs frozen to integer micro-nats, excess loss =
    # the difference, domain weight = excess share in exact ppm.
    def ml(e: str) -> str:
        return (
            f"CAST(round(ln(CAST({e} AS DOUBLE)) * 1000000, 0) AS BIGINT)"
        )

    return f"""
    WITH toks AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '{TOK}')) AS tok
      FROM documents),
    tf AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY lang, tok),
    gtf AS (SELECT tok, CAST(sum(c) AS BIGINT) AS gc FROM tf GROUP BY tok),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vocab,
                 CAST(sum(gc) AS BIGINT) AS gn FROM gtf),
    ln_ AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY lang),
    scored AS (
      SELECT t.lang,
             t.c * ({ml('t.c + 1')} - {ml('l.n + v.vocab')}) AS lp_lang,
             t.c * ({ml('g.gc + 1')} - {ml('v.gn + v.vocab')}) AS lp_glob
      FROM tf t
      JOIN gtf g ON g.tok = t.tok
      JOIN ln_ l ON l.lang = t.lang, v),
    per AS (
      SELECT lang,
             CAST(-sum(lp_glob) AS BIGINT) AS nll_global_micro,
             CAST(-sum(lp_lang) AS BIGINT) AS nll_lang_micro,
             CAST(greatest(0, sum(lp_lang) - sum(lp_glob)) AS BIGINT)
               AS excess_micro
      FROM scored GROUP BY lang),
    tot AS (SELECT CAST(sum(excess_micro) AS BIGINT) AS te FROM per)
    SELECT p.lang, l.n AS n_tokens,
           p.nll_global_micro, p.nll_lang_micro, p.excess_micro,
           CAST(p.excess_micro * 1000000 // nullif(t.te, 0) AS BIGINT)
             AS weight_ppm
    FROM per p JOIN ln_ l ON l.lang = p.lang, tot t
    """


@query("pipeline_doremi_weights", _doremi_oracle())
def pipeline_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DoReMi-lite domain reweighting (wave 63; Xie et al. 2023's
    # excess-loss idea, public, made CLOSED-FORM): how much worse does
    # the GLOBAL unigram model score each lang's tokens than that
    # lang's own reference model?  That excess loss is exactly the
    # domain's unserved information (n_l * KL(lang || global) in
    # micro-nats), and the mixture weight is its share -- domains the
    # shared model underserves get upweighted, the DoReMi signal
    # without the proxy-training loop.  EXACT: per-token Laplace
    # log-probs frozen to integer micro-nats (every ln over an integer
    # argument), products and folds int64, weights div-exact ppm.
    # Shape: one (lang,tok) tf agg (checkpointed once -- feeds the
    # global rollup, the lang totals and the scoring join), vocab-keyed
    # join, per-lang fold; totals broadcast.
    ml = lambda e: f"cast(round(ln(cast({e} as double)) * 1000000, 0) as bigint)"  # noqa: E731
    from kcl_akka_stream_spark.operators.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    tf = (
        spread(docs.select("lang", "text"))
        .select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    gtf = tf.groupBy("tok").agg(F.sum("c").cast("long").alias("gc"))
    v = gtf.agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("gc").cast("long").alias("gn"),
    )
    ln_ = tf.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    scored = (
        tf.join(gtf, "tok")
        .join(F.broadcast(ln_), "lang")
        .crossJoin(F.broadcast(v))
        .select(
            "lang",
            F.expr(f"c * ({ml('c + 1')} - {ml('n + vocab')})").alias(
                "lp_lang"
            ),
            F.expr(f"c * ({ml('gc + 1')} - {ml('gn + vocab')})").alias(
                "lp_glob"
            ),
        )
    )
    # per is langs-BOUNDED and feeds both the weight-share total and the
    # final select -- checkpoint once so the vocab-sized scoring join is
    # not replayed per consumer
    per = (
        scored.groupBy("lang")
        .agg(
            (-F.sum("lp_glob")).cast("long").alias("nll_global_micro"),
            (-F.sum("lp_lang")).cast("long").alias("nll_lang_micro"),
            F.expr(
                "cast(greatest(0, sum(lp_lang) - sum(lp_glob)) as bigint)"
            ).alias("excess_micro"),
        )
        .localCheckpoint(eager=True)
    )
    tot = per.agg(F.sum("excess_micro").cast("long").alias("te"))
    return (
        per.join(F.broadcast(ln_), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n").alias("n_tokens"),
            "nll_global_micro",
            "nll_lang_micro",
            "excess_micro",
            F.expr(
                "cast(excess_micro * 1000000 div nullif(te, 0) as bigint)"
            ).alias("weight_ppm"),
        )
    )


def _winnowing_oracle(k: int = 4, w: int = 5, cap: int = 8,
                      min_shared: int = 2, topn: int = 100) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    wins AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(list_slice(t, i, i + {k - 1}), ' ') AS gram
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {k - 1}))
                   AS i
            FROM toks WHERE len(t) >= {k})),
    keyed AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(gram), 1, 7))::BIGINT * 4294967296 + pos
               AS key
      FROM wins),
    mins AS (
      SELECT doc_id,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {w - 1} FOLLOWING) AS mkey,
             count(*) OVER (PARTITION BY doc_id) AS n, pos
      FROM keyed),
    fps AS (
      SELECT DISTINCT doc_id, mkey // 4294967296 AS fp_hash
      FROM mins WHERE pos <= n - {w}),
    sized AS (
      SELECT fp_hash FROM fps GROUP BY fp_hash
      HAVING count(*) BETWEEN 2 AND {cap}),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fps a JOIN fps b ON a.fp_hash = b.fp_hash
                           AND a.doc_id < b.doc_id
      JOIN sized s ON s.fp_hash = a.fp_hash)
    SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared
    FROM pairs GROUP BY id_a, id_b
    HAVING count(*) >= {min_shared}
    ORDER BY n_shared DESC, id_a, id_b
    LIMIT {topn}
    """


@query("dedup_winnowing", _winnowing_oracle())
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Winnowing / MOSS local fingerprinting (wave 64; Schleimer et al.
    # 2003, public): per-doc minimum-hash-per-window fingerprints carry
    # the GUARANTEE that any shared token run of length >= w+k-1 shares
    # a fingerprint (pytest pins it on an engineered quote), at ~1/w
    # the density of the full k-gram relation -- the local-sensitivity
    # dedup layer between doc-level MinHash (misses embedded quotes)
    # and full span coverage (k-gram-dense).  Pairs come from shared
    # fingerprints with the standard hot-bucket cap (boilerplate
    # fingerprints fan out quadratically and are dropped whole, the
    # minhash_candidate_pairs trade); n_shared ranks the evidence.
    from kcl_akka_stream_spark.operators.dedup import winnowing_fingerprints

    k, w, cap, min_shared, topn = 4, 5, 8, 2, 100
    docs = tbl(spark, sf_dir, "documents")
    # collapse to DOC-LEVEL fingerprints before sizing/joining, exactly
    # like the oracle's fps CTE (ADVICE r13 medium: a doc that
    # winnow-selects the same k-gram hash at two positions >= w apart
    # would otherwise inflate bucket sizes and n_shared by positional
    # multiplicity -- latent at fixture scale, data-dependent beyond it)
    fps = (
        winnowing_fingerprints(docs, k=k, w=w)
        .select("doc_id", "fp_hash")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sized = (
        fps.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("__sz"))
        .filter((F.col("__sz") >= 2) & (F.col("__sz") <= cap))
        .select("fp_hash")
    )
    a = fps.select("fp_hash", F.col("doc_id").alias("id_a"))
    b = fps.select("fp_hash", F.col("doc_id").alias("id_b"))
    pairs = (
        a.join(b, "fp_hash")
        .filter("id_a < id_b")
        .join(sized, "fp_hash")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs.orderBy(
        F.col("n_shared").desc(), "id_a", "id_b"
    ).limit(topn)


def _int8_rescore_oracle(m: int = 32, k: int = 10) -> str:
    cos = _COS.format(a="s.cv", b="s.qv")
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    sc AS (SELECT max(list_max([abs(x) FOR x IN e])) / 127.0 AS s FROM v),
    q8 AS (
      SELECT vec_id, e,
             [CAST(round(x / sc.s) AS BIGINT) FOR x IN e] AS q
      FROM v, sc),
    qs AS (SELECT vec_id AS q_id, e AS qv, q AS qq FROM q8
           WHERE vec_id < 5),
    stage1 AS (
      SELECT q_id, c.vec_id AS n_id, c.e AS cv, qv,
             CAST(list_dot_product(c.q, qq) AS BIGINT) AS dot_int,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY list_dot_product(c.q, qq) DESC,
                                         c.vec_id) AS rk
      FROM q8 c, qs WHERE c.vec_id <> q_id),
    s AS (SELECT q_id, n_id, cv, qv, dot_int FROM stage1 WHERE rk <= {m}),
    rescored AS (
      SELECT q_id, n_id, dot_int, round({cos}, 6) AS cos6
      FROM s)
    SELECT q_id, n_id, dot_int, cos6,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos6 DESC, n_id) AS BIGINT)
             AS rank
    FROM rescored
    QUALIFY rank <= {k}
    """


@query("sim_topk_int8_rescore", _int8_rescore_oracle())
def sim_topk_int8_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-stage quantized retrieval (wave 65): global-scale int8
    # prefilter (EXACT int64 dot products -- rank-preserving up to
    # quantization error, 1/4 the memory bandwidth of float32, corpus
    # never shuffles) -> exact double-cosine rescoring of the top-32
    # survivors -> top-10 served.  The scalar-quantization serving
    # path every vector store ships, with both stages oracle-mirrored
    # (operators/similarity.py::int8_rescore_topk).
    from kcl_akka_stream_spark.operators.similarity import int8_rescore_topk

    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return int8_rescore_topk(emb, queries, m=32, k=10)




def _int8_rescore_oracle_body(m: int = 32, k: int = 10) -> str:
    # the rescore oracle ends with a QUALIFY select; the recall oracle
    # needs the CTE chain WITHOUT the final select, so rebuild it here
    cos = _COS.format(a="s.cv", b="s.qv")
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    sc AS (SELECT max(list_max([abs(x) FOR x IN e])) / 127.0 AS s FROM v),
    q8 AS (
      SELECT vec_id, e,
             [CAST(round(x / sc.s) AS BIGINT) FOR x IN e] AS q
      FROM v, sc),
    qs AS (SELECT vec_id AS q_id, e AS qv, q AS qq FROM q8
           WHERE vec_id < 5),
    stage1 AS (
      SELECT q_id, c.vec_id AS n_id, c.e AS cv, qv,
             CAST(list_dot_product(c.q, qq) AS BIGINT) AS dot_int,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY list_dot_product(c.q, qq) DESC,
                                         c.vec_id) AS rk
      FROM q8 c, qs WHERE c.vec_id <> q_id),
    s AS (SELECT q_id, n_id, cv, qv, dot_int FROM stage1 WHERE rk <= {m}),
    rescored AS (
      SELECT q_id, n_id, dot_int, round({cos}, 6) AS cos6
      FROM s)
    """


@query(
    "sim_int8_recall_report",
    _int8_rescore_oracle_body()
    + """
    , two AS (
      SELECT q_id, n_id
      FROM rescored
      QUALIFY row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos6 DESC, n_id) <= 10),
    ranked AS (
      SELECT c.vec_id AS n_id, q.q_id,
             row_number() OVER (PARTITION BY q.q_id
                                ORDER BY round("""
    + _COS.format(a="c.e", b="q.qv")
    + """, 6) DESC, c.vec_id) AS brk
      FROM v c
      JOIN (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 5) q
        ON c.vec_id <> q.q_id),
    brute AS (SELECT q_id, n_id FROM ranked WHERE brk <= 10)
    SELECT CAST(count(DISTINCT b.q_id) AS BIGINT) AS n_queries,
           CAST(10 AS BIGINT) AS k,
           CAST(count(t.n_id) AS BIGINT) AS n_hits,
           CAST(count(t.n_id) * 1000000 // count(*) AS BIGINT)
             AS recall_ppm
    FROM brute b
    LEFT JOIN two t ON t.q_id = b.q_id AND t.n_id = b.n_id
    """,
)
def sim_int8_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Acceptance contract for the int8 serving path (wave 65, the
    # sim_ivf_recall_report pattern): recall@10 of the two-stage
    # int8-prefilter+rescore against the exact brute-force top-10 --
    # the number that red-flags an over-aggressive quantization or a
    # broken scale before it ships.  Exact: both rankings are
    # deterministic (6dp cosine, id tiebreaks), so recall is a pure
    # integer ppm.
    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    two = S.int8_rescore_topk(emb, queries, m=32, k=10).select("q_id", "n_id")
    brute = S.brute_force_topk(emb, queries, k=10).select("q_id", "n_id")
    joined = brute.join(
        two.withColumn("__hit", F.lit(1)), ["q_id", "n_id"], "left"
    )
    return joined.agg(
        F.countDistinct("q_id").cast("long").alias("n_queries"),
        F.lit(10).cast("long").alias("k"),
        F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hits"),
        F.expr(
            "cast(sum(coalesce(__hit, 0)) * 1000000 div count(*) as bigint)"
        ).alias("recall_ppm"),
    )


@query(
    "emb_centroid_outliers",
    """
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    ex AS (
      SELECT vec_id, label, s.dim AS dim,
             CAST(round(s.val * 1000000) AS BIGINT) AS vmic
      FROM (SELECT vec_id, label,
                   unnest([{'dim': i, 'val': e[i]}
                           FOR i IN generate_series(1, len(e))]) AS s
            FROM v)),
    cent AS (
      SELECT label, dim,
             CAST(round(avg(val) * 1000000) AS BIGINT) AS cmic
      FROM (SELECT label, s.dim AS dim, s.val AS val
            FROM (SELECT label,
                         unnest([{'dim': i, 'val': e[i]}
                                 FOR i IN generate_series(1, len(e))]) AS s
                  FROM v))
      GROUP BY label, dim),
    d AS (
      SELECT e.vec_id, e.label,
             CAST(sum((e.vmic - c.cmic) * (e.vmic - c.cmic)) AS BIGINT)
               AS d2_micro2
      FROM ex e JOIN cent c ON c.label = e.label AND c.dim = e.dim
      GROUP BY e.vec_id, e.label)
    SELECT label, vec_id, d2_micro2,
           CAST(row_number() OVER (PARTITION BY label
                                   ORDER BY d2_micro2 DESC, vec_id)
                AS BIGINT) AS rank
    FROM d
    QUALIFY rank <= 20
    """,
)
def emb_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Semantic-outlier screen (wave 66): per label, the 20 embeddings
    # farthest from their own class centroid -- the mislabeled-example
    # / contamination triage list every embedding-curation pass starts
    # from.  EXACT after one freeze: per-dim centroid means and vector
    # components both round to integer micro-units, then the squared
    # distance is pure int64 (the only float wobble is the mean's
    # sub-ulp partial-agg order at the round boundary, the repo's
    # standard micro-freeze risk ~1e-10).  Shape: dim explode -> (label,
    # dim) centroid agg (labels x 64, broadcasts back) -> per-vec fold
    # -> per-label top-20 window.
    emb = tbl(spark, sf_dir, "embeddings")
    ex = spread(emb.select("vec_id", "label", "embedding")).select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "val"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("val").cast("double").alias("val"),
        F.expr(
            "cast(round(cast(val as double) * 1000000) as bigint)"
        ).alias("vmic"),
    ).localCheckpoint(eager=True)  # feeds the centroid agg AND the fold
    cent = (
        ex.groupBy("label", "dim")
        .agg(
            F.expr(
                "cast(round(avg(val) * 1000000) as bigint)"
            ).alias("cmic")
        )
    )
    d = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.expr("(vmic - cmic) * (vmic - cmic)"))
            .cast("long")
            .alias("d2_micro2")
        )
    )
    w = Window.partitionBy("label").orderBy(
        F.col("d2_micro2").desc(), "vec_id"
    )
    return (
        d.select(
            "label",
            "vec_id",
            "d2_micro2",
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= 20)
    )


@query(
    "text_textrank_keywords",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '{TOK}')) AS tok,
             unnest(generate_series(1, len(regexp_extract_all(lower(text),
                                                              '{TOK}')))) AS i
      FROM documents),
    adj AS (
      SELECT tok AS src,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS dst
      FROM toks),
    p AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS w
      FROM adj WHERE dst IS NOT NULL AND src <> dst
      GROUP BY src, dst),
    e AS (SELECT src, dst, w FROM p
          UNION ALL SELECT dst AS src, src AS dst, w FROM p),
    deg AS (SELECT src, sum(w) AS deg FROM e GROUP BY src),
    r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
    i1 AS (SELECT e.dst AS node,
                  150000 + (85 * sum((r.r * e.w) // d.deg)) // 100 AS r
           FROM e JOIN deg d ON d.src = e.src JOIN r0 r ON r.node = e.src
           GROUP BY e.dst),
    i2 AS (SELECT e.dst AS node,
                  150000 + (85 * sum((r.r * e.w) // d.deg)) // 100 AS r
           FROM e JOIN deg d ON d.src = e.src JOIN i1 r ON r.node = e.src
           GROUP BY e.dst),
    i3 AS (SELECT e.dst AS node,
                  150000 + (85 * sum((r.r * e.w) // d.deg)) // 100 AS r
           FROM e JOIN deg d ON d.src = e.src JOIN i2 r ON r.node = e.src
           GROUP BY e.dst)
    SELECT node AS word, CAST(r AS BIGINT) AS rank_micro
    FROM i3 ORDER BY r DESC, word LIMIT 20
    """,
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TextRank keyword extraction (wave 67; Mihalcea & Tarau 2004,
    # public): damped PageRank over the ADJACENT-token co-occurrence
    # graph -- the graph family's iteration machinery pointed at text
    # (RAKE's degree heuristic upgraded to a fixpoint).  Same integer
    # micro-unit arithmetic as graph_pagerank_topk (3 unrolled
    # iterations, every step exact int64, oracle matches bit-for-bit);
    # word nodes stay strings -- the graph is VOCAB-sized, orders of
    # magnitude below the corpus, so rank relations broadcast and the
    # one data-sized pass is the adjacent-pair count.  Top-20 by rank.
    from kcl_akka_stream_spark.operators.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    toks = F.col("__t")
    tail = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        tail,
        lambda a, b: F.struct(a.alias("src"), b.alias("dst")),
    )
    p = (
        spread(docs.select("text"))
        .select(tokens(F.col("text")).alias("__t"))
        .select(F.explode(pairs).alias("pr"))
        .select(F.col("pr.src").alias("src"), F.col("pr.dst").alias("dst"))
        .filter("src <> dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .localCheckpoint(eager=True)  # feeds e twice via the union
    )
    e = p.unionByName(
        p.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).localCheckpoint(eager=True)  # feeds deg + 3 iterations
    deg = e.groupBy("src").agg(F.sum("w").alias("deg"))
    ranks = deg.select(F.col("src").alias("node"), F.lit(1000000).cast("long").alias("r"))
    for _ in range(3):
        ranks = (
            e.join(F.broadcast(deg), "src")
            .join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.expr(
                    "cast(150000 + (85 * sum((r * w) div deg)) div 100"
                    " as bigint)"
                ).alias("r")
            )
        )
    return (
        ranks.select(F.col("node").alias("word"), F.col("r").alias("rank_micro"))
        .orderBy(F.col("rank_micro").desc(), "word")
        .limit(20)
    )


def _kcenter_weights_oracle(k: int = 4) -> str:
    # Reuse the k-center greedy CTE chain, then assign every pool point
    # to its nearest selected center (micro distance, id tiebreak via
    # argmin ordering) and report per-center coreset weights.
    base = _kcenter_oracle(k)
    base = base[: base.index("\n    SELECT CAST(1 AS BIGINT) AS step")]
    cos = _COS.format(a="c.v", b="s.v")
    dist = f"CAST(1000000 - round({cos} * 1000000, 0) AS BIGINT)"
    return base + f""",
    assign AS (
      SELECT c.vec_id,
             first(s.vec_id ORDER BY {dist}, s.vec_id) AS center_id,
             min({dist}) AS d
      FROM v c JOIN sel{k} s ON true
      GROUP BY c.vec_id)
    SELECT center_id, CAST(count(*) AS BIGINT) AS weight,
           CAST(sum(d) AS BIGINT) AS sum_dist_micro,
           CAST(max(d) AS BIGINT) AS radius_micro
    FROM assign GROUP BY center_id
    """


@query("sample_kcenter_weights", _kcenter_weights_oracle())
def sample_kcenter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Coreset WEIGHTS for the k-center exemplars (wave 68): assign every
    # pool vector to its nearest selected center (exact micro cosine
    # distance, id tiebreak) and report per-center cluster mass, total
    # and max (coverage radius) distance -- the weights that make the
    # k-center picks a usable coreset (weighted losses approximate
    # full-corpus losses) and the per-center radius the coverage
    # acceptance signal.  Assignment is pool x (k broadcast centers),
    # one bounded agg.
    from kcl_akka_stream_spark.operators.similarity import kcenter_select

    emb = tbl(spark, sf_dir, "embeddings")
    k = 4
    picks = kcenter_select(emb, k=k).select(F.col("vec_id").alias("c_id"))
    centers = picks.join(
        emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("__cv")),
        "c_id",
    )
    dist = F.lit(1000000) - S.cosine_micro(F.col("embedding"), F.col("__cv"))
    assigned = (
        emb.crossJoin(F.broadcast(centers))
        .select("vec_id", "c_id", dist.alias("d"))
        .groupBy("vec_id")
        .agg(
            F.expr("min_by(c_id, struct(d, c_id))").alias("center_id"),
            F.min("d").alias("d"),
        )
    )
    return assigned.groupBy("center_id").agg(
        F.count(F.lit(1)).cast("long").alias("weight"),
        F.sum("d").cast("long").alias("sum_dist_micro"),
        F.max("d").cast("long").alias("radius_micro"),
    )


@query(
    "text_burstiness",
    f"""
    WITH tf AS (
      SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{TOK}')) AS tok
            FROM documents)
      GROUP BY tok, doc_id),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    st AS (
      SELECT tok,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c) AS BIGINT) AS s1,
             CAST(sum(c * c) AS BIGINT) AS s2
      FROM tf GROUP BY tok)
    SELECT tok, df, s1, s2,
           CAST((s2 * n_docs - s1 * s1) * 1000000 // (s1 * n_docs)
                AS BIGINT) AS vmr_micro
    FROM st, nd
    WHERE s1 >= 20
    ORDER BY vmr_micro DESC, tok
    LIMIT 30
    """,
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Term burstiness (wave 70; Church & Gale 1995, public): the
    # variance-to-mean ratio of per-doc term counts over ALL docs
    # (zeros included -- computed algebraically, never materialized:
    # with s1 = sum c, s2 = sum c^2 over docs containing the term,
    # population VMR = (s2*N - s1^2) / (s1*N) exactly).  VMR >> 1 =
    # bursty (topical/boilerplate terms that dump in clumps); VMR ~ 1 =
    # Poisson background -- the statistic that separates template
    # boilerplate from ordinary vocabulary before any dedup runs.
    # EXACT int64 sufficient statistics, div-exact micro ratio,
    # min-support s1 >= 20 keeps the report stable.  One tf agg + one
    # term agg + TakeOrdered; N broadcasts.
    from kcl_akka_stream_spark.operators.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    tf = (
        spread(docs.select("doc_id", "text"))
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    st = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.expr("c * c")).cast("long").alias("s2"),
    )
    return (
        st.crossJoin(F.broadcast(nd))
        .filter("s1 >= 20")
        .select(
            "tok",
            "df",
            "s1",
            "s2",
            F.expr(
                "cast((s2 * n_docs - s1 * s1) * 1000000"
                " div (s1 * n_docs) as bigint)"
            ).alias("vmr_micro"),
        )
        .orderBy(F.col("vmr_micro").desc(), "tok")
        .limit(30)
    )


def _rocchio_oracle(k0: int = 10, k: int = 10) -> str:
    cos1 = _COS.format(a="c.v", b="q.qv")
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    qs AS (SELECT vec_id AS q_id, v AS qv FROM v WHERE vec_id < 5),
    r1 AS (
      SELECT q_id, n_id FROM (
        SELECT q.q_id, c.vec_id AS n_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY round({cos1}, 6) DESC, c.vec_id)
                 AS rk
        FROM v c, qs q WHERE c.vec_id <> q.q_id)
      WHERE rk <= {k0}),
    fb AS (
      SELECT q_id, dim,
             CAST(round(avg(val) * 1000000) AS BIGINT) AS cmic
      FROM (SELECT r.q_id, s.dim AS dim, s.val AS val
            FROM r1 r JOIN (
              SELECT vec_id,
                     unnest([{{'dim': i, 'val': v[i]}}
                             FOR i IN generate_series(1, len(v))]) AS s
              FROM v) t ON t.vec_id = r.n_id)
      GROUP BY q_id, dim),
    qm AS (
      SELECT q_id, s.dim AS dim,
             CAST(round(s.val * 1000000) AS BIGINT) AS qmic
      FROM (SELECT q_id,
                   unnest([{{'dim': i, 'val': qv[i]}}
                           FOR i IN generate_series(1, len(qv))]) AS s
            FROM qs)),
    q2 AS (
      SELECT q_id, list(CAST(2 * qmic + cmic AS DOUBLE) ORDER BY qm.dim)
               AS qx
      FROM qm JOIN fb USING (q_id, dim) GROUP BY q_id),
    cm AS (
      SELECT vec_id AS n_id,
             [CAST(round(x * 1000000) AS DOUBLE) FOR x IN v] AS cx
      FROM v),
    scored AS (
      SELECT q2.q_id, cm.n_id,
             round(list_dot_product(cm.cx, q2.qx)
                   / (sqrt(list_dot_product(cm.cx, cm.cx))
                      * sqrt(list_dot_product(q2.qx, q2.qx))), 6) AS cos6
      FROM cm, q2 WHERE cm.n_id <> q2.q_id),
    ranked AS (
      SELECT q_id, n_id, cos6,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos6 DESC, n_id) AS BIGINT)
               AS rank
      FROM scored)
    SELECT r.q_id, r.n_id, r.cos6, r.rank,
           CAST(CASE WHEN r1.n_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS was_in_round1
    FROM ranked r
    LEFT JOIN r1 ON r1.q_id = r.q_id AND r1.n_id = r.n_id
    WHERE r.rank <= {k}
    """


@query("sim_rocchio_expansion", _rocchio_oracle())
def sim_rocchio_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pseudo-relevance-feedback expansion (wave 71; Rocchio 1971): top-10
    # by exact cosine, query moved toward the pseudo-relevant centroid
    # (alpha=1, beta=0.5 held integer as q2 = 2q + c), re-retrieve --
    # the classic recall-widening second pass, with the round-2 scores
    # exact over identical integers in both engines.  was_in_round1
    # surfaces the expansion effect (new entrants = what PRF bought).
    # Corpus never shuffles; both rounds are broadcast passes.
    from kcl_akka_stream_spark.operators.similarity import (
        rocchio_expand_topk,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return rocchio_expand_topk(emb, queries, k0=10, k=10)


def _hll_oracle() -> str:
    # Rebuilds the m=64 register relation bit-for-bit (same 60-bit seeded
    # md5, same bin()-based rho) and applies the identical estimator
    # expression -- merged == direct is the hash match for the streaming
    # twin, which shares this oracle.
    return """
    WITH ev AS (SELECT event_type, user_id FROM events),
    h AS (
      SELECT event_type,
             ('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM ev),
    reg AS (
      SELECT event_type, hv // 18014398509481984 AS j,
             max(CASE WHEN hv % 18014398509481984 = 0 THEN 55
                      ELSE 55 - length(bin(hv % 18014398509481984)) END) AS m_r
      FROM h GROUP BY 1, 2),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_registers_set,
             CAST(64 - count(*) AS BIGINT) AS v_zeros,
             CAST(max(m_r) AS BIGINT) AS rmax,
             CAST(sum(1::BIGINT << CAST(55 - m_r AS INT)) AS BIGINT) AS s2_set
      FROM reg GROUP BY event_type),
    s AS (
      SELECT event_type, n_registers_set, v_zeros, rmax,
             s2_set + v_zeros * (1::BIGINT << 55) AS s2
      FROM agg),
    e AS (
      SELECT *,
             CAST(round(2905.460551022604
                  * CAST(1::BIGINT << 55 AS DOUBLE)
                  / CAST(s2 AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS raw_micro,
             CASE WHEN v_zeros > 0 THEN CAST(round(64.0
                  * ln(64.0 / CAST(v_zeros AS DOUBLE)) * 1000000.0, 0)
                  AS BIGINT) END AS lc_micro
      FROM s),
    est AS (
      SELECT event_type, n_registers_set, v_zeros, rmax, s2, raw_micro,
             CASE WHEN raw_micro <= 160000000 AND v_zeros > 0
                  THEN 'lc' ELSE 'raw' END AS method,
             CASE WHEN raw_micro <= 160000000 AND v_zeros > 0
                  THEN lc_micro ELSE raw_micro END AS est_micro
      FROM e),
    truth AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
      FROM ev GROUP BY event_type)
    SELECT e.event_type, e.n_registers_set, e.v_zeros, e.rmax, e.s2,
           e.method, e.est_micro, t.n_true,
           abs(e.est_micro // t.n_true - 1000000) AS rel_err_ppm,
           CASE WHEN abs(e.est_micro // t.n_true - 1000000) <= 390000
                THEN 1 ELSE 0 END AS within_3sigma
    FROM est e JOIN truth t ON t.event_type = e.event_type
    ORDER BY e.event_type
    """


@query("agg_hll_estimate", _hll_oracle())
def agg_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HyperLogLog (Flajolet-Furet-Gandouet-Meunier 2007, public): THE
    # classic constant-memory cardinality sketch the family catalog
    # still lacked beside KMV (bottom-k), bitmap (exact dense), CMS
    # (frequency) and Bloom (membership) -- 64 registers per type,
    # register max over leading-zero ranks, harmonic-mean estimator
    # with the standard small-range linear-counting correction.  All
    # register math is exact int64 (operators/sketches.py::hll_registers
    # avoids log2 entirely via length(bin(w)) -- libm log2 rounds
    # differently at powers of two); the estimator division is one
    # IEEE expression written identically on both engines.  ACCEPTANCE:
    # relative error vs the exact distinct count per type, gated at 3x
    # the m=64 standard error (3 * 1.04/sqrt(64) = 39%).
    from kcl_akka_stream_spark.operators.sketches import hll_registers

    ev = tbl(spark, sf_dir, "events").select("event_type", "user_id")
    return _hll_finalize(ev, hll_registers(ev, "event_type", "user_id"))


def _hll_finalize(ev: DataFrame, reg: DataFrame) -> DataFrame:
    """HLL estimate from per-(event_type, j) registers ``reg`` beside the
    exact distinct-user count of ``ev``, gated at 3 sigma.  Shared by
    ``agg_hll_estimate`` and its streaming twin."""
    from kcl_akka_stream_spark.operators.sketches import hll_estimate

    est = hll_estimate(reg, "event_type")
    truth = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_true")
    )
    return (
        est.join(truth, "event_type")
        .select(
            "event_type",
            "n_registers_set",
            "v_zeros",
            "rmax",
            "s2",
            "method",
            "est_micro",
            "n_true",
            F.expr("abs(est_micro div n_true - 1000000)").alias(
                "rel_err_ppm"
            ),
            F.expr(
                "case when abs(est_micro div n_true - 1000000) <= 390000"
                " then 1 else 0 end"
            ).alias("within_3sigma"),
        )
        .orderBy("event_type")
    )


def _f2_oracle(b: int = 64) -> str:
    # Rebuilds all b signed sums digit-for-digit (same seeded md5 parity
    # signs), applies the identical integer mean-of-squares estimator,
    # and compares against the exact second moment.  Shared by the
    # streaming twin (additive state: merged sums == direct sums).
    xs = ",\n             ".join(
        f"CAST(sum(1 - 2 * ((('0x' || substr(md5('f2|{r // 32}|' ||"
        f" CAST(user_id AS VARCHAR)), {r % 32 + 1}, 1))::BIGINT) % 2))"
        f" AS BIGINT) AS x_{r}"
        for r in range(b)
    )
    sq = " + ".join(f"x_{r} * x_{r}" for r in range(b))
    return f"""
    WITH st AS (
      SELECT event_type,
             {xs}
      FROM events GROUP BY event_type),
    est AS (
      SELECT event_type, ({sq}) // {b} AS est_f2 FROM st),
    ex AS (
      SELECT event_type, CAST(sum(c * c) AS BIGINT) AS f2_exact,
             CAST(sum(c) AS BIGINT) AS n_rows
      FROM (SELECT event_type, user_id, count(*) AS c
            FROM events GROUP BY 1, 2)
      GROUP BY event_type)
    SELECT e.event_type, x.n_rows, x.f2_exact, e.est_f2,
           abs(1000000 * e.est_f2 // x.f2_exact - 1000000) AS rel_err_ppm,
           CASE WHEN abs(1000000 * e.est_f2 // x.f2_exact - 1000000)
                     <= 530330 THEN 1 ELSE 0 END AS within_3sigma
    FROM est e JOIN ex x ON x.event_type = e.event_type
    ORDER BY e.event_type
    """


@query("agg_f2_sketch", _f2_oracle())
def agg_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # AMS second-frequency-moment sketch (Alon-Matias-Szegedy 1996, the
    # Godel-prize streaming-sketch original): F2 = sum_v f_v^2 -- the
    # SELF-JOIN SIZE of the (type, user) relation, the statistic a
    # planner needs to size a join output or a dedup pass to detect a
    # skewed key blowup BEFORE running it.  b=64 signed sums per type
    # (parity-of-md5 signs, +-1), E[X_r^2] = F2 exactly; the estimator
    # is the all-integer mean of squares.  The b replicas are b agg
    # EXPRESSIONS over one pass (64 md5/row in whole-stage codegen,
    # map-side combine) -- never a b-fold explode.  ACCEPTANCE: exact
    # F2 from the per-key counts, relative error gated at 3 sigma
    # (sigma_rel = sqrt(2/64) -> 530,330 ppm).
    from kcl_akka_stream_spark.operators.sketches import f2_sketch_state

    ev = tbl(spark, sf_dir, "events").select("event_type", "user_id")
    return _f2_finalize(ev, f2_sketch_state(ev, "event_type", "user_id"))


def _f2_finalize(ev: DataFrame, state: DataFrame) -> DataFrame:
    """AMS F2 estimate from the per-event_type signed sums ``state`` beside
    the exact F2 of ``ev``, gated at 3 sigma.  Shared by ``agg_f2_sketch``
    and its streaming twin."""
    from kcl_akka_stream_spark.operators.sketches import f2_estimate

    est = f2_estimate(state, "event_type")
    exact = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("c * c")).cast("long").alias("f2_exact"),
            F.sum("c").cast("long").alias("n_rows"),
        )
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_rows",
            "f2_exact",
            "est_f2",
            F.expr(
                "abs(1000000 * est_f2 div f2_exact - 1000000)"
            ).alias("rel_err_ppm"),
            F.expr(
                "case when abs(1000000 * est_f2 div f2_exact - 1000000)"
                " <= 530330 then 1 else 0 end"
            ).alias("within_3sigma"),
        )
        .orderBy("event_type")
    )


def _qmodel_auc_oracle() -> str:
    # Extends the shared scored-holdout CTE chain with the tie-corrected
    # rank-sum: midranks held x2 so everything stays integer
    # (2*midrank of a tie group = 2*cum_less + c + 1).
    return _qmodel_scored_sql() + """
    , g AS (SELECT score_micro, CAST(count(*) AS BIGINT) AS c,
                   CAST(sum(label) AS BIGINT) AS c_pos
            FROM fin GROUP BY 1),
    cum AS (SELECT score_micro, c, c_pos,
                   COALESCE(sum(c) OVER (ORDER BY score_micro
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS cum_less
            FROM g),
    tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS np,
                   CAST(sum(c - c_pos) AS BIGINT) AS nn FROM g),
    rr AS (SELECT CAST(sum(c_pos * (2 * cum_less + c + 1)) AS BIGINT)
                    AS sum_r2_pos FROM cum)
    SELECT t.np AS n_pos, t.nn AS n_neg, r.sum_r2_pos,
           1000000 * (r.sum_r2_pos - t.np * (t.np + 1))
             // (2 * t.np * t.nn) AS auc_ppm,
           CASE WHEN 1000000 * (r.sum_r2_pos - t.np * (t.np + 1))
                     // (2 * t.np * t.nn) >= 900000
                THEN 1 ELSE 0 END AS separable
    FROM tot t, rr r
    """


def _qmodel_score_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The held-out quality-model scores folded to one row per distinct
    ``score_micro``: its doc count ``c`` and positive-label count ``c_pos``."""
    from kcl_akka_stream_spark.operators.quality import (
        hashed_logodds_fit_score,
    )

    fx = _qmodel_fixture(tbl(spark, sf_dir, "documents"))
    scored = hashed_logodds_fit_score(fx)
    return scored.groupBy("score_micro").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("label").cast("long").alias("c_pos"),
    )


@query("text_quality_model_auc", _qmodel_auc_oracle())
def text_quality_model_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Threshold-free acceptance for the model-based quality scorer
    # (completes the wave-58 confusion report, which judges ONE cut at
    # score>0): exact ROC AUC over the held-out scores via the
    # tie-corrected Mann-Whitney rank sum -- AUC = (sum of positive
    # midranks - np(np+1)/2) / (np*nn), with midranks held DOUBLED
    # (2*midrank of a tie group = 2*cum_less + c + 1) so the whole
    # statistic is exact int64; ppm division at the end only.  The
    # engineered fixture separates at ~0.99, gated >= 0.90; pytest pins
    # the red case (labels decoupled from scores -> AUC ~ 0.5).
    # Shape: scores fold to the DISTINCT-SCORE relation first (one
    # docs-keyed agg), so the single global cumulative window reads the
    # data-reduced tie-group relation, never the corpus.
    from pyspark.sql import Window

    g = _qmodel_score_groups(spark, sf_dir)
    w = Window.orderBy("score_micro").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = g.select(
        "c",
        "c_pos",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("cum_less"),
    )
    return cum.agg(
        F.sum("c_pos").cast("long").alias("n_pos"),
        F.sum(F.expr("c - c_pos")).cast("long").alias("n_neg"),
        F.sum(F.expr("c_pos * (2 * cum_less + c + 1)"))
        .cast("long")
        .alias("sum_r2_pos"),
    ).select(
        "n_pos",
        "n_neg",
        "sum_r2_pos",
        F.expr(
            "1000000 * (sum_r2_pos - n_pos * (n_pos + 1))"
            " div (2 * n_pos * n_neg)"
        ).alias("auc_ppm"),
        F.expr(
            "case when 1000000 * (sum_r2_pos - n_pos * (n_pos + 1))"
            " div (2 * n_pos * n_neg) >= 900000 then 1 else 0 end"
        ).alias("separable"),
    )


def _kneser_ney_oracle(topn: int = 50) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    prs AS (
      SELECT t[i] AS a, t[i + 1] AS b
      FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
            FROM toks WHERE len(t) >= 2)),
    pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
           FROM prs GROUP BY 1, 2),
    c1 AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n1w1
           FROM pc GROUP BY a),
    cw AS (SELECT b, CAST(count(*) AS BIGINT) AS ncw2 FROM pc GROUP BY b),
    np AS (SELECT CAST(count(*) AS BIGINT) AS npp FROM pc),
    top AS (SELECT a, b, n_ab FROM pc ORDER BY n_ab DESC, a, b
            LIMIT {topn})
    SELECT t.a AS w1, t.b AS w2, t.n_ab AS c12, c.c1, c.n1w1, w.ncw2,
           np.npp,
           (1000000 * (4 * t.n_ab - 3)) // (4 * c.c1)
             + ((3000000 * c.n1w1) // (4 * c.c1))
               * ((1000000 * w.ncw2) // np.npp) // 1000000 AS p_kn_ppm,
           1000000 * t.n_ab // c.c1 AS p_mle_ppm
    FROM top t
    JOIN c1 c ON c.a = t.a
    JOIN cw w ON w.b = t.b, np
    ORDER BY c12 DESC, w1, w2
    """


@query("text_kneser_ney", _kneser_ney_oracle())
def text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Interpolated Kneser-Ney bigram smoothing (Kneser & Ney 1995;
    # Chen & Goodman 1998 -- THE n-gram LM standard, the smoothing the
    # backoff-LM family still lacked):
    #   P(w2|w1) = (c12 - d)+/c1 + d*N1+(w1.)/c1 * N1+(.w2)/N1+(..)
    # with the discount d = 0.75 held EXACTLY as the rational 3/4 --
    # everything multiplies through by 4, so the whole statistic is
    # int64: term1 = 1e6*(4*c12-3) div (4*c1), lambda and the
    # continuation probability staged as ppm integers whose product
    # div 1e6 is the interpolation term (each staged division truncates
    # <= 1 ppm; both engines stage IDENTICALLY).  Reported for the
    # top-50 bigrams beside the MLE conditional -- the discount/
    # continuation contrast that makes KN the fluency-model upgrade.
    # Shape: ONE data-sized pair agg (map-side combine); c1/n1w1/ncw2/
    # npp all derive from the checkpointed distinct-pair relation,
    # never a second corpus pass; TakeOrdered picks the top-50.
    from kcl_akka_stream_spark.operators.text import tokens
    from kcl_akka_stream_spark.plans.hygiene import spread

    topn = 50
    docs = tbl(spark, sf_dir, "documents")
    # bigram_structs binds the token array once (optimization r15: the
    # inline zip_with(slice, slice) form paid the tokenizer regexp 4x
    # per row -- see operators/text.py::bind_once)
    pair_struct = X.bigram_structs(tokens(F.col("text")))
    pairs = (
        spread(docs.select("text"))
        .select(F.explode(pair_struct).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    pc = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .localCheckpoint(eager=True)  # feeds top/c1/cw/npp
    )
    c1 = pc.groupBy("a").agg(
        F.sum("n_ab").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1w1"),
    )
    cw = pc.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("ncw2")
    )
    npp = pc.agg(F.count(F.lit(1)).cast("long").alias("npp"))
    top = pc.orderBy(F.col("n_ab").desc(), "a", "b").limit(topn)
    return (
        top.join(c1, "a")
        .join(cw, "b")
        .crossJoin(F.broadcast(npp))
        .select(
            F.col("a").alias("w1"),
            F.col("b").alias("w2"),
            F.col("n_ab").alias("c12"),
            "c1",
            "n1w1",
            "ncw2",
            "npp",
            F.expr(
                "(1000000 * (4 * n_ab - 3)) div (4 * c1)"
                " + ((3000000 * n1w1) div (4 * c1))"
                " * ((1000000 * ncw2) div npp) div 1000000"
            ).alias("p_kn_ppm"),
            F.expr("1000000 * n_ab div c1").alias("p_mle_ppm"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
    )


def _cdc_oracle(k: int = 8, mod: int = 64) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    ex AS (
      SELECT doc_id, lang, t, i - 1 AS pos, t[i] AS tok
      FROM (SELECT doc_id, lang, t,
                   unnest(generate_series(1, len(t))) AS i
            FROM toks)),
    fl AS (
      SELECT doc_id, lang, pos, tok,
             CASE WHEN pos + {k} <= len(t) AND
                  ('0x' || substr(md5(array_to_string(
                     list_slice(t, pos + 1, pos + {k}), ' ')), 1, 8)
                  )::BIGINT % {mod} = 0
                  THEN 1 ELSE 0 END AS anc
      FROM ex),
    idx AS (
      SELECT doc_id, lang, pos, tok,
             sum(anc) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS chunk_idx
      FROM fl),
    ch AS (
      SELECT doc_id, lang, chunk_idx,
             CAST(count(*) AS BIGINT) AS chunk_len,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
      FROM idx GROUP BY 1, 2, 3),
    per AS (
      SELECT lang, chunk_hash,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(max(chunk_len) AS BIGINT) AS chunk_len
      FROM ch GROUP BY 1, 2)
    SELECT lang,
           CAST(sum(n_copies) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_distinct_chunks,
           CAST(sum(n_copies * chunk_len) AS BIGINT) AS total_tokens,
           CAST(sum((n_copies - 1) * chunk_len) AS BIGINT)
             AS dup_savings_tokens,
           CAST(1000 * sum(n_copies * chunk_len) // sum(n_copies)
                AS BIGINT) AS avg_chunk_len_milli
    FROM per GROUP BY lang ORDER BY lang
    """


@query("dedup_cdc_chunks", _cdc_oracle())
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Content-defined chunking dedup (the Rabin-anchor scheme of LBFS /
    # Venti, public -- THE storage-dedup classic, and the sub-document
    # dedup layer between winnowing's fingerprint SELECTION and span
    # coverage's k-gram density): split every doc at tokens whose
    # 8-token window hashes to 0 mod 64 (expected 64-token chunks),
    # hash each chunk, and report per-lang how many tokens identical
    # cross-doc chunks would save.  Because anchors are LOCAL content
    # functions, an insertion re-chunks only the edit neighborhood --
    # downstream chunks keep their identity (shift-invariance, the
    # property fixed-size chunking lacks, pinned by pytest).
    # Shape: one posexplode carrying the token array (anchor flag
    # computed inline from a slice -- no gram join), one bounded
    # running-count window per doc, two map-side-combinable aggs.
    from kcl_akka_stream_spark.operators.dedup import cdc_chunks

    docs = tbl(spark, sf_dir, "documents")
    ch = cdc_chunks(docs, k=8, mod=64, keep_cols=["lang"])
    per = ch.groupBy("lang", "chunk_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.max("chunk_len").cast("long").alias("chunk_len"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.sum("n_copies").cast("long").alias("n_chunks"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_chunks"),
            F.sum(F.expr("n_copies * chunk_len"))
            .cast("long")
            .alias("total_tokens"),
            F.sum(F.expr("(n_copies - 1) * chunk_len"))
            .cast("long")
            .alias("dup_savings_tokens"),
            F.expr(
                "cast(1000 * sum(n_copies * chunk_len)"
                " div sum(n_copies) as bigint)"
            ).alias("avg_chunk_len_milli"),
        )
        .orderBy("lang")
    )


def _qmodel_iso_oracle(n_buckets: int = 16) -> str:
    # PAV via the minimax identity (Ayer et al. 1955): fitted rate of
    # bucket i = max over j<=i of min over k>=j of the pooled rate of
    # the interval [j..k] -- exact on the bucket relation (B<=16, so the
    # interval join is <=256 rows), pooled rates held as ppm integers.
    return _qmodel_scored_sql() + f"""
    , bounds AS (SELECT CAST(min(score_micro) AS BIGINT) AS smin,
                        CAST(max(score_micro) AS BIGINT) AS smax
                 FROM fin),
    bk AS (
      SELECT least(greatest(({n_buckets} * (score_micro - smin))
                            // (smax - smin + 1), 0), {n_buckets - 1})
               AS b,
             label
      FROM fin, bounds),
    g AS (SELECT b, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(label) AS BIGINT) AS pos
          FROM bk GROUP BY b),
    pre AS (
      SELECT b, n, pos,
             CAST(sum(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cn,
             CAST(sum(pos) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cp
      FROM g),
    iv AS (
      SELECT j.b AS jb, k.b AS kb,
             1000000 * (k.cp - j.cp + j.pos)
               // (k.cn - j.cn + j.n) AS r_ppm
      FROM pre j JOIN pre k ON k.b >= j.b),
    mj AS (SELECT jb, CAST(min(r_ppm) AS BIGINT) AS m_ppm
           FROM iv GROUP BY jb),
    fit AS (
      SELECT g.b, g.n, g.pos,
             1000000 * g.pos // g.n AS raw_rate_ppm,
             CAST(max(m.m_ppm) OVER (ORDER BY g.b
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS iso_rate_ppm
      FROM g JOIN mj m ON m.jb = g.b)
    SELECT CAST(b AS BIGINT) AS bucket, n, pos, raw_rate_ppm,
           iso_rate_ppm
    FROM fit ORDER BY bucket
    """


@query("text_quality_model_calibration", _qmodel_iso_oracle())
def text_quality_model_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Isotonic calibration of the quality-model scores (PAV -- Ayer et
    # al. 1955; Zadrozny & Elkan 2002's classifier-calibration
    # standard): held-out scores bucket into 16 fixed-width bins, and
    # the per-bin positive rate is replaced by the POOLED-ADJACENT-
    # VIOLATORS fit, computed exactly through the minimax identity
    # fitted_i = max_{j<=i} min_{k>=j} rate(j..k) over the B-bounded
    # bucket relation (interval join <= 256 rows; pooled rates as ppm
    # integers, identical truncation both engines).  The output is the
    # monotone score -> P(good) mapping a pipeline thresholds against;
    # monotonicity + the pooling-of-violations behavior are pinned by a
    # pure-python PAV replica in pytest.  Shape: one fit/score chain
    # (checkpointed feats), a 2-value bounds fold, one bucket agg; all
    # PAV algebra runs on the <=16-row relation.
    from pyspark.sql import Window

    from kcl_akka_stream_spark.operators.quality import (
        hashed_logodds_fit_score,
    )

    nb = 16
    fx = _qmodel_fixture(tbl(spark, sf_dir, "documents"))
    scored = hashed_logodds_fit_score(fx).localCheckpoint(eager=True)
    bounds = scored.agg(
        F.min("score_micro").cast("long").alias("smin"),
        F.max("score_micro").cast("long").alias("smax"),
    )
    bk = scored.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            f"least(greatest(({nb} * (score_micro - smin))"
            f" div (smax - smin + 1), 0), {nb - 1})"
        ).alias("b"),
        "label",
    )
    g = bk.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("pos"),
    )
    wc = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pre = g.select(
        "b",
        "n",
        "pos",
        F.sum("n").over(wc).cast("long").alias("cn"),
        F.sum("pos").over(wc).cast("long").alias("cp"),
    )
    j = pre.select(
        F.col("b").alias("jb"),
        F.col("n").alias("jn"),
        F.col("pos").alias("jpos"),
        F.col("cn").alias("jcn"),
        F.col("cp").alias("jcp"),
    )
    k = pre.select(
        F.col("b").alias("kb"),
        F.col("cn").alias("kcn"),
        F.col("cp").alias("kcp"),
    )
    iv = j.join(F.broadcast(k), F.col("kb") >= F.col("jb")).select(
        "jb",
        F.expr(
            "1000000 * (kcp - jcp + jpos) div (kcn - jcn + jn)"
        ).alias("r_ppm"),
    )
    mj = iv.groupBy("jb").agg(F.min("r_ppm").cast("long").alias("m_ppm"))
    wmax = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    fit = (
        g.join(F.broadcast(mj), g["b"] == mj["jb"])
        .select(
            "b",
            "n",
            "pos",
            F.expr("1000000 * pos div n").alias("raw_rate_ppm"),
            F.max("m_ppm").over(wmax).cast("long").alias("iso_rate_ppm"),
        )
    )
    return fit.select(
        F.col("b").cast("long").alias("bucket"),
        "n",
        "pos",
        "raw_rate_ppm",
        "iso_rate_ppm",
    ).orderBy("bucket")


def _dirichlet_ql_oracle(mu: int = 2000, nq: int = 5, topn: int = 20) -> str:
    ml = (
        "CAST(round(ln(CAST(c_td * ctot + {mu} * cf AS DOUBLE)"
        " / CAST((dlen + {mu}) * ctot AS DOUBLE)) * 1000000, 0)"
        " AS BIGINT)"
    ).format(mu=mu)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOK}'))
               AS tok
      FROM documents),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c_td
           FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(sum(c_td) AS BIGINT) AS dlen
           FROM tf GROUP BY doc_id),
    cf AS (SELECT tok, CAST(sum(c_td) AS BIGINT) AS cf
           FROM tf GROUP BY tok),
    ct AS (SELECT CAST(sum(cf) AS BIGINT) AS ctot FROM cf),
    q AS (SELECT tok, cf FROM cf ORDER BY cf DESC, tok LIMIT {nq}),
    sc AS (
      SELECT d.doc_id, d.dlen, q.tok, q.cf, ct.ctot,
             COALESCE(t.c_td, 0) AS c_td
      FROM dl d CROSS JOIN q CROSS JOIN ct
      LEFT JOIN tf t ON t.doc_id = d.doc_id AND t.tok = q.tok),
    s AS (
      SELECT doc_id, CAST(max(dlen) AS BIGINT) AS n_tokens,
             CAST(sum({ml}) AS BIGINT) AS score_micro
      FROM sc GROUP BY doc_id)
    SELECT doc_id, n_tokens, score_micro
    FROM s ORDER BY score_micro DESC, doc_id LIMIT {topn}
    """


@query("text_dirichlet_ql", _dirichlet_ql_oracle())
def text_dirichlet_ql(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dirichlet-smoothed query likelihood (Zhai & Lafferty 2001 -- the
    # language-model IR scorer standing beside BM25 in every retrieval
    # stack): score(d) = sum over query terms of
    # ln((c(t,d) + mu * p(t|C)) / (|d| + mu)), mu = 2000.  The query is
    # the corpus's own top-5 collection-frequency terms (deterministic,
    # data-derived); every ln argument is ONE rational of int64s
    # (c_td*ctot + mu*cf over (dlen+mu)*ctot) frozen to micro-nats
    # per (doc, term) BEFORE the sum -- the backoff-LM freezing rule.
    # Docs matching no query term still score via pure smoothing mass
    # (the property that distinguishes QL from BM25's zero).  Shape:
    # ONE tf agg feeds doc lengths, collection frequencies, the totals
    # row AND the scores; the query relation (5 rows) and totals
    # broadcast; per-doc scoring is a docs x 5 left join + one agg.
    from kcl_akka_stream_spark.operators.text import tokens
    from kcl_akka_stream_spark.plans.hygiene import spread

    mu, nq, topn = 2000, 5, 20
    docs = tbl(spark, sf_dir, "documents")
    tf = (
        spread(docs.select("doc_id", "text"))
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c_td"))
        .localCheckpoint(eager=True)  # feeds dl, cf, ct AND the scores
    )
    dl = tf.groupBy("doc_id").agg(
        F.sum("c_td").cast("long").alias("dlen")
    )
    cf = tf.groupBy("tok").agg(F.sum("c_td").cast("long").alias("cf"))
    ct = cf.agg(F.sum("cf").cast("long").alias("ctot"))
    q = cf.orderBy(F.col("cf").desc(), "tok").limit(nq)
    sc = (
        dl.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(ct))
        .join(tf, ["doc_id", "tok"], "left")
        .select(
            "doc_id",
            "dlen",
            "cf",
            "ctot",
            F.coalesce("c_td", F.lit(0)).alias("c_td"),
        )
    )
    ml = (
        f"cast(round(ln(cast(c_td * ctot + {mu} * cf as double)"
        f" / cast((dlen + {mu}) * ctot as double)) * 1000000, 0)"
        " as bigint)"
    )
    s = sc.groupBy("doc_id").agg(
        F.max("dlen").cast("long").alias("n_tokens"),
        F.sum(F.expr(ml)).cast("long").alias("score_micro"),
    )
    return s.orderBy(F.col("score_micro").desc(), "doc_id").limit(topn)


def _prefix_filter_oracle() -> str:
    # t = 0.8; prefix length = n - ceil(0.8 n) + 1, ceil as (8n+9)//10;
    # jaccard >= 0.8 compared integrally as 5*common >= 4*(union).
    return f"""
    WITH {_SH_CTE},
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    freq AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
             FROM sh GROUP BY shingle),
    rk AS (
      SELECT s.doc_id, s.shingle, z.n_sh,
             row_number() OVER (PARTITION BY s.doc_id
                                ORDER BY f.df, s.shingle) AS rn
      FROM sh s
      JOIN freq f ON f.shingle = s.shingle
      JOIN sizes z ON z.doc_id = s.doc_id),
    pref AS (SELECT doc_id, shingle FROM rk
             WHERE rn <= n_sh - (8 * n_sh + 9) // 10 + 1),
    pfreq AS (SELECT shingle, CAST(count(*) AS BIGINT) AS dfp
              FROM pref GROUP BY shingle),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM pref a JOIN pref b
               ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b),
    ver AS (
      SELECT CAST(count(*) AS BIGINT) AS n_verified
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE 5 * i.n_common >= 4 * (sa.n_sh + sb.n_sh - i.n_common)),
    s1 AS (SELECT CAST(sum(df * (df - 1) // 2) AS BIGINT) AS slots_full
           FROM freq),
    s2 AS (SELECT CAST(COALESCE(sum(dfp * (dfp - 1) // 2), 0) AS BIGINT)
                    AS slots_prefix
           FROM pfreq),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sizes),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand)
    SELECT nd.n_docs, s1.slots_full, s2.slots_prefix,
           1000000 * s2.slots_prefix // s1.slots_full AS reduction_ppm,
           nc.n_candidates, ver.n_verified
    FROM nd, s1, s2, nc, ver
    """


@query("dedup_prefix_filter_pairs", _prefix_filter_oracle())
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PREFIX FILTERING for the set-similarity join (Chaudhuri-Ganti-
    # Kaushik 2006; Xiao et al.'s PPJoin family -- the candidate-
    # generation optimization every similarity-join engine ships beside
    # LSH): order each doc's shingles by GLOBAL ascending frequency and
    # index only the first n - ceil(t*n) + 1 of them (t = 0.8) -- any
    # pair with Jaccard >= t MUST share a prefix shingle (pigeonhole on
    # the >= ceil(t*n) overlapping suffix), so the inverted index
    # shrinks to the rare tokens while staying COMPLETE (pytest pins
    # candidates == the full-index answer).  Report: index pair-slot
    # reduction (ppm), candidate count, and exact-verified pairs
    # (5*common >= 4*union -- 0.8 held rational).  Shape: one shingle
    # explode feeds sizes/freq/prefix; the self-join touches only the
    # rare-prefix index; verification joins only candidate docs.
    from kcl_akka_stream_spark.operators.dedup import _exploded_shingles

    docs = tbl(spark, sf_dir, "documents")
    sh = _exploded_shingles(docs, "text", "doc_id", 3).localCheckpoint(
        eager=True
    )  # feeds sizes/freq/prefix/verify
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    # freq checkpointed: it feeds BOTH the prefix ranking and the
    # slots_full fold -- un-materialized, the sh-by-shingle aggregation
    # ran twice (once in the pref checkpoint job, once in the final
    # action's s1 subtree).
    freq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    ).localCheckpoint(eager=True)
    # Prefix per doc = the n_sh - ceil(0.8*n_sh) + 1 globally-rarest
    # shingles.  One combinable hash aggregate (collect struct(df,
    # shingle), array_sort, slice by the array's own size) replaces the
    # former sizes join + doc-keyed Sort + row_number Window chain --
    # same (df, shingle) lexicographic order, shingles are distinct per
    # doc so the cut is deterministic and identical (collect-compared on
    # the full fixture); ABBA on the isolated phase 1.325 -> 1.146 s.
    pref = (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias(
                "arr"
            )
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "slice(arr, 1, size(arr) - (8 * size(arr) + 9)"
                    " div 10 + 1)"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.shingle").alias("shingle"))
        .localCheckpoint(eager=True)
    )
    pfreq = pref.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("dfp")
    )
    a = pref.select(F.col("doc_id").alias("id_a"), "shingle")
    b = pref.select(F.col("doc_id").alias("id_b"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter("id_a < id_b")
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # r16 verify-phase rewrite (VERDICT r15 #4; guide §2.3 filter before
    # the shuffle).  PPJoin's LENGTH FILTER: shingles are distinct per
    # doc, so n_common <= least(na, nb), and the verification predicate
    # 5*n_common >= 4*(na + nb - n_common)  <=>  9*n_common >= 4*(na+nb)
    # is unsatisfiable unless 5*least(na, nb) >= 4*greatest(na, nb).
    # Attaching sizes to the (small, checkpointed) candidate list and
    # pruning size-incompatible pairs BEFORE the intersection join means
    # those pairs never explode into per-shingle rows at all; the sizes
    # then ride the groupBy keys, so the two post-intersection sizes
    # joins disappear.  Candidate/verified COUNTS are unchanged:
    # n_candidates is taken from cand (pre-filter), and every pruned
    # pair was mathematically incapable of verifying.
    csz = (
        cand.join(
            sizes.select(
                F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na")
            ),
            "id_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb")
            ),
            "id_b",
        )
        .filter("5 * least(na, nb) >= 4 * greatest(na, nb)")
    )
    inter = (
        csz.join(sh.select(F.col("doc_id").alias("id_a"), "shingle"), "id_a")
        .join(
            sh.select(F.col("doc_id").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    ver = (
        inter.filter("5 * n_common >= 4 * (na + nb - n_common)")
        .agg(F.count(F.lit(1)).cast("long").alias("n_verified"))
    )
    s1 = freq.agg(
        F.sum(F.expr("df * (df - 1) div 2")).cast("long").alias("slots_full")
    )
    s2 = pfreq.agg(
        F.coalesce(F.sum(F.expr("dfp * (dfp - 1) div 2")), F.lit(0))
        .cast("long")
        .alias("slots_prefix")
    )
    nd = sizes.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    return (
        F.broadcast(nd)
        .crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(ver))
        .select(
            "n_docs",
            "slots_full",
            "slots_prefix",
            F.expr("1000000 * slots_prefix div slots_full").alias(
                "reduction_ppm"
            ),
            "n_candidates",
            "n_verified",
        )
    )


def _woe_iv_oracle(nb: int = 10) -> str:
    # WOE_b = ln(((pos_b+1)/(POS+B)) / ((neg_b+1)/(NEG+B))) as ONE
    # rational of int64s, micro-nat frozen per bucket; IV contribution =
    # share-difference (ppm) * WOE (micro) // 1e6.
    woe = (
        "CAST(round(ln(CAST((pos + 1) * (negt + {nb}) AS DOUBLE)"
        " / CAST((neg + 1) * (post + {nb}) AS DOUBLE)) * 1000000, 0)"
        " AS BIGINT)"
    ).format(nb=nb)
    return f"""
    WITH ev AS (
      SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    bounds AS (SELECT min(cents) AS lo, max(cents) AS hi FROM ev),
    bk AS (
      SELECT least(greatest(({nb} * (cents - lo)) // (hi - lo + 1), 0),
                   {nb - 1}) AS bucket, y
      FROM ev, bounds),
    g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS pos,
                 CAST(count(*) - sum(y) AS BIGINT) AS neg
          FROM bk GROUP BY bucket),
    t AS (SELECT CAST(sum(pos) AS BIGINT) AS post,
                 CAST(sum(neg) AS BIGINT) AS negt FROM g),
    w AS (
      SELECT bucket, n, pos, neg,
             1000000 * (pos + 1) // (post + {nb})
               - 1000000 * (neg + 1) // (negt + {nb}) AS dshare_ppm,
             {woe} AS woe_micro
      FROM g, t)
    SELECT CAST(bucket AS BIGINT) AS bucket, n, pos, neg, woe_micro,
           dshare_ppm * woe_micro // 1000000 AS iv_contrib_micro,
           CAST(sum(dshare_ppm * woe_micro // 1000000) OVER ()
                AS BIGINT) AS iv_total_micro
    FROM w ORDER BY bucket
    """


@query("agg_woe_iv", _woe_iv_oracle())
def agg_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weight of Evidence / Information Value (the credit-scoring
    # feature-screening standard; Kullback 1959's J-divergence in
    # binned form): value deciles vs the purchase outcome.  WOE per
    # bucket = ln of ONE rational of Laplace-smoothed int64 counts
    # ((pos_b+1)(NEG+B) over (neg_b+1)(POS+B)), micro-nat frozen; the
    # IV contribution is share-difference (ppm) x WOE (micro) // 1e6,
    # and IV total = the symmetric KL between the bucketed class
    # distributions -- the one-number ranking a feature-selection pass
    # sorts by.  Shape: one 2-value bounds fold + ONE bucket agg; all
    # WOE/IV algebra on the 10-row relation.
    from pyspark.sql import Window

    nb = 10
    ev = tbl(spark, sf_dir, "events").select(
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
        F.expr(
            "case when event_type = 'purchase' then 1 else 0 end"
        ).alias("y"),
    )
    bounds = ev.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    bk = ev.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            f"least(greatest(({nb} * (cents - lo)) div (hi - lo + 1), 0),"
            f" {nb - 1})"
        ).alias("bucket"),
        "y",
    )
    g = bk.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg"),
    )
    t = g.agg(
        F.sum("pos").cast("long").alias("post"),
        F.sum("neg").cast("long").alias("negt"),
    )
    woe = (
        f"cast(round(ln(cast((pos + 1) * (negt + {nb}) as double)"
        f" / cast((neg + 1) * (post + {nb}) as double)) * 1000000, 0)"
        " as bigint)"
    )
    w = g.crossJoin(F.broadcast(t)).select(
        "bucket",
        "n",
        "pos",
        "neg",
        F.expr(
            f"1000000 * (pos + 1) div (post + {nb})"
            f" - 1000000 * (neg + 1) div (negt + {nb})"
        ).alias("dshare_ppm"),
        F.expr(woe).alias("woe_micro"),
    )
    wtot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        w.select(
            F.col("bucket").cast("long").alias("bucket"),
            "n",
            "pos",
            "neg",
            "woe_micro",
            F.expr("dshare_ppm * woe_micro div 1000000").alias(
                "iv_contrib_micro"
            ),
            F.sum(F.expr("dshare_ppm * woe_micro div 1000000"))
            .over(wtot)
            .cast("long")
            .alias("iv_total_micro"),
        )
        .orderBy("bucket")
    )


def _hilbert_oracle() -> str:
    top = (1 << _Z_BITS) - 1
    return f"""
    WITH o AS (
      SELECT o_custkey AS ck,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dy
      FROM orders),
    mm AS (
      SELECT min(ck) AS ck_lo, max(ck) AS ck_hi,
             min(dy) AS dy_lo, max(dy) AS dy_hi
      FROM o),
    scaled AS (
      SELECT CASE WHEN ck_hi > ck_lo
                  THEN ((ck - ck_lo) * {top}) // (ck_hi - ck_lo) ELSE 0 END AS sck,
             CASE WHEN dy_hi > dy_lo
                  THEN ((dy - dy_lo) * {top}) // (dy_hi - dy_lo) ELSE 0 END AS sdy
      FROM o CROSS JOIN mm),
    {LO.sql_hilbert_cte("scaled", "sck", "sdy", _Z_BITS)}
    SELECT hval >> 12 AS hbucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN sck < 64 AND sdy < 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rect
    FROM hout GROUP BY hval >> 12
    """


@query("sink_hilbert_layout", _hilbert_oracle())
def sink_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hilbert-curve layout sink (Hilbert 1891 xy2d; the space-filling
    # curve beside Morton in Iceberg-style sort transforms): same
    # (custkey x order-day) scaling as sink_zorder_roundtrip, but
    # indexed along the Hilbert walk -- adjacent curve positions are
    # ALWAYS adjacent grid cells, so a query rectangle touches fewer
    # distinct curve ranges than under z-order (pytest pins the
    # fragmentation contrast on the shared 64x64 rectangle).  The walk
    # is unrolled into 8 pure-integer projection steps (re-masked each
    # step so no negative intermediate feeds a shift; quadrant code
    # spelled as CASE -- no XOR portability assumed), verified
    # bit-for-bit against the canonical xy2d in pytest.  Roundtrip:
    # write parquet range-partitioned + sorted on hval, read back,
    # report per-curve-prefix bucket counts + rectangle concentration.
    import shutil
    import tempfile

    scaled = _scaled_order_grid(spark, sf_dir)
    h = LO.hilbert_index(scaled, "sck", "sdy", _Z_BITS)
    out = tempfile.mkdtemp(prefix="kcl_hilbert_sink_")
    try:
        LO.zorder_write(h, out, "hval", n_files=8)
        back = spark.read.parquet(out)
        return (
            back.groupBy(F.shiftright(F.col("hval"), 12).alias("hbucket"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(
                    F.expr(
                        "case when sck < 64 and sdy < 64 then 1 else 0 end"
                    )
                )
                .cast("long")
                .alias("n_rect"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _pc1_oracle(iters: int = 3) -> str:
    # 3 unrolled von-Mises iterations over the integer covariance
    # relation; v renormalized to max-abs 1000 (milli) each step with a
    # deterministic sign rule (component at the smallest dim index
    # attaining max |w| is made positive).
    step = """
    w{i} AS (
      SELECT c.d, CAST(sum(c.cn * v.vm) AS BIGINT) AS w
      FROM cov c JOIN v{j} v ON v.d = c.d2 GROUP BY c.d),
    m{i} AS (
      SELECT max(abs(w)) AS mx,
             CAST(min(CASE WHEN abs(w) = (SELECT max(abs(w)) FROM w{i})
                           THEN d END) AS BIGINT) AS dstar
      FROM w{i}),
    s{i} AS (
      SELECT CASE WHEN w.w >= 0 THEN 1 ELSE -1 END AS sg
      FROM w{i} w, m{i} m WHERE w.d = m.dstar),
    v{i} AS (
      SELECT w.d,
             CAST(s.sg * (w.w // greatest(m.mx // 1000, 1)) AS BIGINT)
               AS vm
      FROM w{i} w, m{i} m, s{i} s)
    """
    steps = ",".join(
        step.format(i=i, j=i - 1) for i in range(1, iters + 1)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, i - 1 AS d,
             CAST(round(v[i] * 1000000, 0) AS BIGINT) AS em
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)),
    mu AS (SELECT d, CAST(sum(em) // count(*) AS BIGINT) AS mu,
                  CAST(count(*) AS BIGINT) AS n
           FROM e GROUP BY d),
    c AS (SELECT e.vec_id, e.d, e.em - m.mu AS cv
          FROM e JOIN mu m ON m.d = e.d),
    cov AS (
      SELECT a.d AS d, b.d AS d2,
             CAST(sum(a.cv * b.cv) // max(m.n) AS BIGINT) AS cn
      FROM c a JOIN c b ON b.vec_id = a.vec_id
      JOIN mu m ON m.d = a.d
      GROUP BY a.d, b.d),
    v0 AS (SELECT d, CAST(1000 AS BIGINT) AS vm FROM mu),
    {steps}
    SELECT d AS dim, vm AS pc1_milli FROM v{iters} ORDER BY dim
    """


def _centered_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every embedding component as (vec_id, d, cv, n): its micro-int value
    minus the dimension's integer mean, beside the dimension's count."""
    emb = spread(tbl(spark, sf_dir, "embeddings"))
    e = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "d", "x"
        ),
    ).select(
        "vec_id",
        "d",
        F.expr("cast(round(x * 1000000, 0) as bigint)").alias("em"),
    ).localCheckpoint(eager=True)  # (vec, dim) relation feeds mu AND c
    mu = e.groupBy("d").agg(
        F.expr("cast(sum(em) div count(*) as bigint)").alias("mu"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return e.join(F.broadcast(mu), "d").select(
        "vec_id", "d", (F.col("em") - F.col("mu")).alias("cv"), "n"
    )


@query("emb_power_iteration_pc1", _pc1_oracle())
def emb_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # First principal component by POWER ITERATION (von Mises-Pollaczek
    # 1929; the PCA workhorse) held entirely in int64 -- the TextRank /
    # kmeans exact-iteration machinery pointed at the embedding
    # covariance: components freeze to micro ints, the centered
    # covariance folds to ONE 64x64 integer relation (the single
    # data-sized pass), and 3 unrolled iterations renormalize v to
    # max-abs 1000 with a deterministic sign rule (component at the
    # smallest dim index attaining max |w| made positive) -- bit-exact
    # in both engines, no sqrt/eigen library anywhere.  The dominant
    # direction is what embedding-drift monitors and whitening passes
    # start from.  Shape: one (vec, dim) explode + one (d, d2) agg;
    # every iteration is a 4096-row join -- model-sized, broadcast.
    from pyspark.sql import Window

    iters = 3
    # Optimization r15 (guide §2.5 input skew / VERDICT r9 #5 spread
    # class): the single-file embeddings scan is ONE partition, so the
    # explode + centered self-join used to run its ~8.2M joined rows in
    # one task until the (d, d2) exchange.  spread() + the eager
    # checkpoint (e feeds BOTH mu and c -- same shape
    # emb_effective_rank already ships) parallelize the covariance;
    # measured 3.37s -> 1.81s interleaved-median on the cov fold alone.
    c = _centered_components(spark, sf_dir)
    a = c.select("vec_id", F.col("d").alias("d"), F.col("cv").alias("ca"), "n")
    b = c.select("vec_id", F.col("d").alias("d2"), F.col("cv").alias("cb"))
    cov = (
        a.join(b, "vec_id")
        .groupBy("d", "d2")
        .agg(
            F.expr("cast(sum(ca * cb) div max(n) as bigint)").alias("cn")
        )
    )
    # Optimization r15 (guide §1.2 / §5): the 3 unrolled iterations were
    # 3 localCheckpoint-materialized 4096-row broadcast joins + arg-max
    # subplans -- ~7 tiny Spark jobs whose scheduling dwarfed their
    # arithmetic.  The covariance is a BOUNDED aggregate (dims x dims =
    # 4096 rows regardless of data -- the codebook collect class this
    # repo already uses), so fold it to the driver once and run the
    # iterations as exact int64 Python, replicating
    # Spark's `div` (truncation toward ZERO, unlike Python's floor
    # division) bit-for-bit: same mx/sign rule, same divide-first
    # staging.  Identical results (same oracle, gated at 3 SFs); the
    # data-sized pass (explode + (d,d2) agg) stays distributed.
    rows = cov.collect()  # bounded: dims^2 == 4096 rows
    if not rows:
        # ADVICE r15 #4: an empty embeddings table must yield an empty
        # frame (the previous all-Spark plan did) -- not a ValueError
        # from max() over zero covariance entries.
        return spark.createDataFrame([], "dim long, pc1_milli long")
    dims = sorted({r["d"] for r in rows})
    cn = {(r["d"], r["d2"]): r["cn"] for r in rows}

    def sdiv(x: int, y: int) -> int:  # Spark `div`: truncate toward zero
        q = abs(x) // abs(y)
        return q if (x >= 0) == (y >= 0) else -q

    vm = {d: 1000 for d in dims}
    for _ in range(iters):
        w = {
            d: sum(cn[(d, d2)] * vm[d2] for d2 in dims if (d, d2) in cn)
            for d in dims
        }
        # Python ints are exact where Spark's bigint sum would wrap --
        # raise on the bound so the "bit-for-bit equivalent to the
        # all-Spark plan" claim stays checkable rather than silently
        # diverging on overflow-scale covariances.
        if not all(-(1 << 63) <= x < (1 << 63) for x in w.values()):
            raise OverflowError(
                "emb_power_iteration_pc1: w exceeds int64; the Spark-"
                "equivalence claim no longer holds for this input scale"
            )
        mx = max(abs(x) for x in w.values())
        dstar = min(d for d in dims if abs(w[d]) == mx)
        sg = 1 if w[dstar] >= 0 else -1
        # divide-first staging: |w| <= mx, so w div (mx div 1000) lands
        # at ~+-1000 without the w*1000 product that overflows int64
        # when covariance magnitudes are large (inputs outside [-1, 1])
        den = max(sdiv(mx, 1000), 1)
        vm = {d: sg * sdiv(w[d], den) for d in dims}
    return spark.createDataFrame(
        [(int(d), int(vm[d])) for d in dims], "dim long, pc1_milli long"
    ).orderBy("dim")


def _heaps_oracle() -> str:
    # ln values frozen to micro-nats per point; beta = the integer
    # least-squares slope over the 10 (ln T_k, ln V_k) points.
    ml = "CAST(round(ln(CAST({e} AS DOUBLE)) * 1000000, 0) AS BIGINT)"
    return f"""
    WITH tk AS (
      SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    toks AS (
      SELECT doc_id,
             array_to_string(list_slice(t, i, i + 2), ' ') AS tok
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
            FROM tk WHERE len(t) >= 3)),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks
           FROM toks GROUP BY doc_id),
    rk AS (
      SELECT doc_id, n_toks,
             row_number() OVER (ORDER BY doc_id) AS rn,
             CAST(sum(n_toks) OVER (ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks,
             count(*) OVER () AS nd
      FROM dl),
    th AS (
      SELECT CAST(k AS BIGINT) AS decile, r.rn AS prefix_docs,
             r.cum_toks AS prefix_tokens, r.doc_id AS cut_doc
      FROM (SELECT unnest(generate_series(1, 10)) AS k),
           rk r
      WHERE r.rn = (k * r.nd) // 10),
    fst AS (SELECT tok, min(doc_id) AS fd FROM toks GROUP BY tok),
    voc AS (
      SELECT t.decile, t.prefix_docs, t.prefix_tokens,
             CAST(count(*) AS BIGINT) AS vocab
      FROM th t JOIN fst f ON f.fd <= t.cut_doc
      GROUP BY 1, 2, 3),
    pts AS (
      SELECT decile, prefix_docs, prefix_tokens, vocab,
             {ml.format(e='prefix_tokens')} // 1000 AS x,
             {ml.format(e='vocab')} // 1000 AS y
      FROM voc),
    ctr AS (
      SELECT p.decile, p.prefix_docs, p.prefix_tokens, p.vocab,
             p.x - m.mx AS xc, p.y - m.my AS yc
      FROM pts p,
           (SELECT CAST(sum(x) // count(*) AS BIGINT) AS mx,
                   CAST(sum(y) // count(*) AS BIGINT) AS my
            FROM pts) m),
    fit AS (
      SELECT CAST(sum(xc * yc) * 1000000 // sum(xc * xc) AS BIGINT)
               AS beta_micro
      FROM ctr)
    SELECT c.decile, c.prefix_docs, c.prefix_tokens, c.vocab,
           f.beta_micro
    FROM ctr c, fit f
    ORDER BY c.decile
    """


@query("text_heaps_law", _heaps_oracle())
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Heaps' law vocabulary-growth fit (Heaps 1978 / Herdan; the
    # companion to the Zipf slope already in the registry): V(T) =
    # K * T^beta, measured at ten corpus prefixes and fitted by least
    # squares on (ln T, ln V).  The vocabulary is the 3-GRAM vocabulary
    # (the n-gram Heaps variant): the fixture's unigram lexicon is a
    # closed 31-word set (V flat, beta 0 -- vacuous), while 3-gram
    # types grow combinatorially like a real crawl's wordforms.
    # RELATIONAL prefix vocab -- no order-dependent scan: each gram's
    # FIRST document (min doc_id) decides which prefixes contain it, so
    # prefix vocabularies are one first-seen aggregation + a 10-row
    # threshold join, and prefix gram counts ride a running sum over
    # the doc-length relation.
    # Exactness: both lns freeze to micro-nats per point; the slope is
    # the integer LS formula (n*Sxy - Sx*Sy)*1e6 div (n*Sxx - Sx^2).
    # English crawls fit beta ~ 0.4-0.6; beta near 1 = vocabulary
    # exploding linearly (tokenizer-hostile corpus), the signal a
    # BPE-budget planner reads.  Shape: one token explode feeds the
    # doc-length agg AND the first-seen agg; everything downstream is
    # 10-row algebra.
    from pyspark.sql import Window

    from kcl_akka_stream_spark.operators.dedup import positional_windows
    from kcl_akka_stream_spark.plans.hygiene import spread

    docs = tbl(spark, sf_dir, "documents")
    tk = (
        spread(docs.select("doc_id", "text"))
        .select(
            "doc_id",
            F.explode(positional_windows(F.col("text"), 3)).alias("tok"),
        )
        .localCheckpoint(eager=True)  # feeds dl AND fst
    )
    dl = tk.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks")
    )
    # Distributed two-pass rank + running token sum (VERDICT r14 #2): the
    # former Window.orderBy("doc_id") over the per-doc relation was a
    # single-task global sort at corpus scale; distributed_cumsum is the
    # linear bucketed replacement (per-bucket windows + <= P+1-row
    # broadcast prefix offsets -- see its docstring).
    from kcl_akka_stream_spark.operators.windows import distributed_cumsum

    nd_fold = dl.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    rk = distributed_cumsum(
        dl, "doc_id", "n_toks", rn_col="rn", cum_col="cum_toks"
    ).crossJoin(F.broadcast(nd_fold)).select("doc_id", "rn", "cum_toks", "nd")
    ks = spark.range(1, 11).select(F.col("id").cast("long").alias("decile"))
    th = (
        rk.crossJoin(F.broadcast(ks))
        .filter(F.expr("rn = (decile * nd) div 10"))
        .select(
            "decile",
            F.col("rn").cast("long").alias("prefix_docs"),
            F.col("cum_toks").alias("prefix_tokens"),
            F.col("doc_id").alias("cut_doc"),
        )
        .localCheckpoint(eager=True)  # 10 rows; feeds the vocab join
    )
    fst = tk.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    voc = (
        fst.crossJoin(F.broadcast(th))
        .filter(F.col("fd") <= F.col("cut_doc"))
        .groupBy("decile", "prefix_docs", "prefix_tokens")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    )
    # fit inputs in CENTERED milli-nats: micro-scale products overflow
    # int64 under ANSI (*1e6 staging); milli deviations keep every
    # product < 1e14 while the slope keeps ppm-class resolution
    ml = (
        "cast(round(ln(cast({e} as double)) * 1000000, 0) as bigint)"
        " div 1000"
    )
    pts = voc.select(
        "decile",
        "prefix_docs",
        "prefix_tokens",
        "vocab",
        F.expr(ml.format(e="prefix_tokens")).alias("x"),
        F.expr(ml.format(e="vocab")).alias("y"),
    ).localCheckpoint(eager=True)  # 10 rows; feeds the fit AND output
    means = pts.agg(
        F.expr("cast(sum(x) div count(*) as bigint)").alias("mx"),
        F.expr("cast(sum(y) div count(*) as bigint)").alias("my"),
    )
    ctr = pts.crossJoin(F.broadcast(means)).select(
        "decile",
        "prefix_docs",
        "prefix_tokens",
        "vocab",
        (F.col("x") - F.col("mx")).alias("xc"),
        (F.col("y") - F.col("my")).alias("yc"),
    ).localCheckpoint(eager=True)
    fit = ctr.agg(
        F.expr(
            "cast(sum(xc * yc) * 1000000 div sum(xc * xc) as bigint)"
        ).alias("beta_micro")
    )
    return (
        ctr.crossJoin(F.broadcast(fit))
        .select(
            "decile", "prefix_docs", "prefix_tokens", "vocab", "beta_micro"
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Round-15 waves: PII scan, repetition flags, containment dedup, richness,
# PR-AUC, Brier decomposition, sequence packing
# ---------------------------------------------------------------------------

#: PII detector patterns, written WITHOUT backslash classes ([0-9], [.])
#: so the same literal string is a valid, identically-behaving regex in
#: BOTH engines: Spark SQL string literals process backslash escapes
#: (so '\\d' in SQL is '\d' to the regex) while DuckDB's do not -- the
#: one syntax that needs no per-engine escaping is the char-class form.
#: Java regex and RE2 agree on char classes, bounded quantifiers and
#: leftmost non-overlapping regexp_extract_all semantics (probed in
#: tests/test_round15.py).  Patterns are the classic scanner set: email,
#: IPv4, NANP 555 phone, SSN-shaped id.
_PII_PATTERNS = {
    "email": "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+",
    "ipv4": "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
    "phone": "555-[0-9]{4}",
    "ssn": "[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def _pii_fixture_sql() -> str:
    # Engineered-injection corpus (the acceptance-contract pattern of
    # _qmodel_fixture_sql): the synthetic documents contain no PII, so
    # deterministic residue-class injections create a KNOWN census the
    # scan must recover exactly -- every 3rd doc an email, every 5th an
    # IPv4, every 7th a 555-phone, every 11th an SSN-shaped id (docs on
    # multiple residues get multiple kinds).
    return """
    pii AS (
      SELECT doc_id, lang, text
        || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
                || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN ' from 10.'
                || CAST(doc_id % 256 AS VARCHAR) || '.0.'
                || CAST(doc_id % 100 AS VARCHAR) ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN ' call 555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        || CASE WHEN doc_id % 11 = 0 THEN ' id 078-05-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        AS text2
      FROM documents)
    """


def _pii_fixture(docs: DataFrame) -> DataFrame:
    """Spark side of the PII-injection corpus: (doc_id, lang, text2)."""
    return docs.select(
        "doc_id",
        "lang",
        F.expr(
            "text"
            " || CASE WHEN doc_id % 3 = 0 THEN ' contact user'"
            " || CAST(doc_id AS STRING) || '@example.com' ELSE '' END"
            " || CASE WHEN doc_id % 5 = 0 THEN ' from 10.'"
            " || CAST(doc_id % 256 AS STRING) || '.0.'"
            " || CAST(doc_id % 100 AS STRING) ELSE '' END"
            " || CASE WHEN doc_id % 7 = 0 THEN ' call 555-'"
            " || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') ELSE '' END"
            " || CASE WHEN doc_id % 11 = 0 THEN ' id 078-05-'"
            " || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') ELSE '' END"
        ).alias("text2"),
    )


def _pii_oracle() -> str:
    kinds = list(_PII_PATTERNS)
    cols = []
    for k in kinds:
        p = _PII_PATTERNS[k]
        cols.append(
            f"CAST(sum(CASE WHEN len(regexp_extract_all(text2, '{p}')) > 0"
            f" THEN 1 ELSE 0 END) AS BIGINT) AS docs_{k}"
        )
        cols.append(
            f"CAST(sum(len(regexp_extract_all(text2, '{p}'))) AS BIGINT)"
            f" AS n_{k}"
        )
    # DuckDB array_to_string over an EMPTY list yields NULL (Spark
    # array_join yields '') -- coalesce to 0 for no-match docs
    redact = " + ".join(
        "COALESCE(length(array_to_string("
        f"regexp_extract_all(text2, '{p}'), '')), 0)"
        for p in _PII_PATTERNS.values()
    )
    return f"""
    WITH {_pii_fixture_sql()}
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           {', '.join(cols)},
           CAST(sum({redact}) AS BIGINT) AS redact_chars
    FROM pii GROUP BY lang ORDER BY lang
    """


@query("text_pii_scan", _pii_oracle())
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII census + redaction sizing -- the scrubbing pass every
    # training-data pipeline runs before release (public pattern: the
    # C4 / Dolma cleanup stages).  Per language: documents containing /
    # total occurrences of each PII kind, plus the total matched
    # characters (the redaction budget: how many bytes a masking pass
    # rewrites).  The fixture injects a deterministic census
    # (_pii_fixture_sql) the scan must recover -- residue classes make
    # the expected counts exactly computable, so a broken regex or a
    # drifted extract-all semantics fails the oracle, not just a test.
    #
    # Scale shape: pure map-side regexp_extract_all projections (one
    # pass over text, whole-stage codegen, no Python) + ONE combinable
    # per-lang aggregation -- the same single-exchange census shape as
    # the multimodal header walks.  At 100 TB the scan cost is the text
    # read itself; nothing shuffles but lang-sized partial aggregates.
    d = _pii_fixture(tbl(spark, sf_dir, "documents"))
    proj = d.select(
        "lang",
        *[
            F.expr(f"regexp_extract_all(text2, '{p}', 0)").alias(k)
            for k, p in _PII_PATTERNS.items()
        ],
    )
    aggs = []
    for k in _PII_PATTERNS:
        aggs.append(
            F.sum(F.expr(f"CASE WHEN size({k}) > 0 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias(f"docs_{k}")
        )
        aggs.append(F.sum(F.expr(f"size({k})")).cast("long").alias(f"n_{k}"))
    redact = " + ".join(
        f"length(array_join({k}, ''))" for k in _PII_PATTERNS
    )
    return (
        proj.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            *aggs,
            F.sum(F.expr(redact)).cast("long").alias("redact_chars"),
        )
        .orderBy("lang")
    )


def _repetition_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    tri AS (
      SELECT doc_id, lang, len(t) AS n_tok,
             CASE WHEN len(t) >= 3
                  THEN [array_to_string(list_slice(t, i, i + 2), ' ')
                        FOR i IN generate_series(1, len(t) - 2)]
                  ELSE [] END AS g3
      FROM toks),
    per_doc AS (
      SELECT doc_id, lang, n_tok,
             CAST(len(list_distinct(g3)) AS BIGINT) AS d3,
             CAST(len(g3) AS BIGINT) AS n3
      FROM tri WHERE len(g3) > 0),
    flagged AS (
      SELECT lang, n_tok, n3, d3,
             1000000 * (n3 - d3) // n3 AS rep3_ppm
      FROM per_doc)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rep3_ppm > 500000 THEN 1 ELSE 0 END)
                AS BIGINT) AS flagged_docs,
           CAST(sum(rep3_ppm) // count(*) AS BIGINT) AS avg_rep3_ppm,
           CAST(max(rep3_ppm) AS BIGINT) AS max_rep3_ppm,
           CAST(sum(n3 - d3) AS BIGINT) AS dup_windows
    FROM flagged GROUP BY lang ORDER BY lang
    """


@query("text_repetition_flags", _repetition_oracle())
def text_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Within-document repetition census -- the Gopher/MassiveText
    # "repetition" filter class (Rae et al. 2021, public): documents
    # whose 3-gram windows repeat heavily are boilerplate / template /
    # degenerate-generation suspects a pretraining mix drops.  Per doc:
    # duplicate-3-gram fraction in ppm (1 - distinct/total, exact
    # integer); per language: docs over the 50% threshold, mean and max
    # repetition, total duplicated windows (the token savings a
    # within-doc dedup pass would reclaim).
    #
    # Scale shape: ALL per-doc work (window list, distinct count) is
    # array expressions inside one codegen projection -- no explode, no
    # shuffle until the per-lang census agg; at 100 TB this is one pass
    # over text + one lang-sized exchange.  array_distinct is per-row
    # memory bounded by the doc's own window count.
    #
    # The window array is bound ONCE as a singleton-transform lambda
    # argument (optimization r15, guide §1.2 step 2): naming the two
    # sizes as sibling select expressions re-evaluated the whole
    # tokenize+zip window build per reference -- codegen CSE does not
    # fire across zip_with lambda trees (the shingles() lesson; measured
    # exactly 2x: 1.016 s vs 0.509 s for one reference) -- while a
    # lambda argument is evaluated once by construction.  1.162 s ->
    # 0.677 s ABBA median, values identical.
    d = tbl(spark, sf_dir, "documents")
    from kcl_akka_stream_spark.operators.dedup import positional_windows

    stats = F.transform(
        F.array(positional_windows(F.col("text"), 3)),
        lambda w: F.struct(
            F.size(w).alias("n"), F.size(F.array_distinct(w)).alias("d")
        ),
    )[0]
    per = d.select("lang", stats.alias("__s")).select(
        "lang",
        F.col("__s.n").alias("n3i"),
        F.col("__s.d").alias("d3i"),
    ).filter(F.col("n3i") > 0)
    flagged = per.select(
        "lang",
        F.col("n3i").cast("long").alias("n3"),
        F.col("d3i").cast("long").alias("d3"),
        F.expr("1000000 * (n3i - d3i) div n3i").cast("long").alias(
            "rep3_ppm"
        ),
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.expr("CASE WHEN rep3_ppm > 500000 THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias("flagged_docs"),
            F.expr("sum(rep3_ppm) div count(*)")
            .cast("long")
            .alias("avg_rep3_ppm"),
            F.max("rep3_ppm").cast("long").alias("max_rep3_ppm"),
            F.sum(F.col("n3") - F.col("d3"))
            .cast("long")
            .alias("dup_windows"),
        )
        .orderBy("lang")
    )


def _chao1_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    grams AS (
      SELECT lang, unnest(
        CASE WHEN len(t) >= 3
             THEN [array_to_string(list_slice(t, i, i + 2), ' ')
                   FOR i IN generate_series(1, len(t) - 2)]
             ELSE [] END) AS g
      FROM toks),
    gc AS (
      SELECT lang, g, CAST(count(*) AS BIGINT) AS c
      FROM grams GROUP BY lang, g)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS v_obs,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           CAST(sum(c) AS BIGINT) AS n_grams,
           1000 * CAST(count(*) AS BIGINT)
             + (1000 * CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     * (CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) - 1))
               // (2 * (CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) + 1))
             AS chao1_milli
    FROM gc GROUP BY lang ORDER BY lang
    """


@query("agg_chao1_richness", _chao1_oracle())
def agg_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Chao1 species-richness estimate of the UNSEEN vocabulary (Chao
    # 1984, public; the abundance-based estimator ecology and corpus
    # linguistics share): from the per-language 3-gram frequency-of-
    # frequency spectrum, estimate total type count as
    # V + f1(f1-1)/(2(f2+1)) -- the bias-corrected form, defined even
    # when no type occurs exactly twice.  The companion to
    # text_good_turing (mass of unseen events) and text_heaps_law
    # (growth curve): Chao1 answers "how much vocabulary does the crawl
    # NOT yet contain", the coverage question a corpus-expansion plan
    # starts from.  All-integer milli output: exact in both engines
    # (f1 < ~3e6 keeps 1000*f1^2 inside int64; the fixture spectrum is
    # orders below that -- a real crawl would divide-first).
    #
    # Scale shape: gram explode -> ONE (lang, gram) count agg (map-side
    # combinable) -> ONE lang-sized rollup; nothing else shuffles.
    from kcl_akka_stream_spark.operators.dedup import positional_windows

    d = spread(tbl(spark, sf_dir, "documents").select("lang", "text"))
    gc = (
        d.select(
            "lang",
            F.explode(positional_windows(F.col("text"), 3)).alias("g"),
        )
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        gc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("v_obs"),
            F.sum(F.expr("CASE WHEN c = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("f1"),
            F.sum(F.expr("CASE WHEN c = 2 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("f2"),
            F.sum("c").cast("long").alias("n_grams"),
        )
        .select(
            "lang",
            "v_obs",
            "f1",
            "f2",
            "n_grams",
            F.expr(
                "1000 * v_obs + (1000 * f1 * (f1 - 1)) div (2 * (f2 + 1))"
            )
            .cast("long")
            .alias("chao1_milli"),
        )
        .orderBy("lang")
    )


def _qmodel_ap_oracle() -> str:
    return f"""
    {_qmodel_scored_sql()},
    g AS (
      SELECT score_micro, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(label) AS BIGINT) AS c_pos
      FROM fin GROUP BY score_micro),
    cum AS (
      SELECT c, c_pos,
             CAST(sum(c) OVER (ORDER BY score_micro DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_n,
             CAST(sum(c_pos) OVER (ORDER BY score_micro DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tp
      FROM g),
    terms AS (
      SELECT c_pos, cum_n, cum_tp,
             (1000000 * c_pos * cum_tp) // cum_n AS t_ppm
      FROM cum)
    SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
           CAST(count(*) AS BIGINT) AS n_thresholds,
           CAST(sum(t_ppm) // sum(c_pos) AS BIGINT) AS ap_ppm,
           CASE WHEN sum(t_ppm) // sum(c_pos) >= 900000
                THEN 1 ELSE 0 END AS separable
    FROM terms
    """


@query("agg_pr_auc", _qmodel_ap_oracle())
def agg_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact tie-corrected AVERAGE PRECISION (area under the PR curve,
    # the step form scikit-learn popularized -- no trapezoid
    # interpolation, which overstates PR area): complements
    # text_quality_model_auc because ROC AUC is prevalence-blind while
    # AP degrades with class imbalance -- the metric that matters when
    # the filter keeps 1-in-100 docs.  Thresholds descend the DISTINCT
    # held-out scores; each tie group contributes
    # (tp_g / P) * precision_at_group_end, held exactly:
    # t_ppm = (1e6 * tp_g * cumTP_g) div cumN_g summed THEN div P --
    # identical staging on both engines, pure int64 throughout
    # (tp*cumTP <= n^2 ~ 1e8 at sf0.1; 1e6*that needs the div-first
    # restage beyond ~3e6 held-out docs).
    # Shape: scores fold to the distinct-score tie-group relation first
    # (one docs-keyed agg); the global cumulative window reads that
    # data-reduced relation (GLOBAL_WINDOW_AUDIT row shared with the
    # AUC query), then one single-row fold.
    from pyspark.sql import Window

    g = _qmodel_score_groups(spark, sf_dir)
    w = Window.orderBy(F.col("score_micro").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = g.select(
        "c",
        "c_pos",
        F.sum("c").over(w).cast("long").alias("cum_n"),
        F.sum("c_pos").over(w).cast("long").alias("cum_tp"),
    )
    terms = cum.select(
        "c_pos",
        F.expr("(1000000 * c_pos * cum_tp) div cum_n").alias("t_ppm"),
    )
    return terms.agg(
        F.sum("c_pos").cast("long").alias("n_pos"),
        F.count(F.lit(1)).cast("long").alias("n_thresholds"),
        F.expr("sum(t_ppm) div sum(c_pos)").cast("long").alias("ap_ppm"),
        F.expr(
            "CASE WHEN sum(t_ppm) div sum(c_pos) >= 900000"
            " THEN 1 ELSE 0 END"
        )
        .cast("int")
        .alias("separable"),
    )


def _brier_oracle() -> str:
    sig = (
        "CAST(round(1000000 / (1 + exp(-CAST(score_micro AS DOUBLE)"
        " / 1000000)), 0) AS BIGINT)"
    )
    return f"""
    {_qmodel_scored_sql()},
    g AS (
      SELECT score_micro, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(label) AS BIGINT) AS c_pos
      FROM fin GROUP BY score_micro),
    fg AS (
      SELECT c, c_pos, {sig} AS f_ppm FROM g),
    bins AS (
      SELECT least(f_ppm // 100000, 9) AS bin,
             CAST(sum(c) AS BIGINT) AS nb,
             CAST(sum(c_pos) AS BIGINT) AS pb,
             CAST(sum(c * f_ppm) AS BIGINT) AS sf,
             CAST(sum(c_pos * (f_ppm - 1000000) * (f_ppm - 1000000)
                  + (c - c_pos) * f_ppm * f_ppm) AS BIGINT) AS bsum
      FROM fg GROUP BY 1),
    tot AS (
      SELECT CAST(sum(nb) AS BIGINT) AS n,
             CAST(sum(pb) AS BIGINT) AS np,
             CAST(sum(bsum) AS BIGINT) AS bsum,
             1000000 * CAST(sum(pb) AS BIGINT) // CAST(sum(nb) AS BIGINT)
               AS ybar
      FROM bins),
    comp AS (
      SELECT CAST(sum(nb * (sf // nb - 1000000 * pb // nb)
                       * (sf // nb - 1000000 * pb // nb)) AS BIGINT)
               AS rel_num,
             CAST(sum(nb * (1000000 * pb // nb - ybar)
                       * (1000000 * pb // nb - ybar)) AS BIGINT)
               AS res_num,
             CAST(count(*) AS BIGINT) AS n_bins
      FROM bins, tot)
    SELECT t.n, t.np, c.n_bins,
           t.bsum // t.n AS brier_ppm2,
           c.rel_num // t.n AS reliability_ppm2,
           c.res_num // t.n AS resolution_ppm2,
           t.ybar * (1000000 - t.ybar) AS uncertainty_ppm2
    FROM tot t, comp c
    """


@query("text_brier_decomposition", _brier_oracle())
def text_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Murphy decomposition of the Brier score (Murphy 1973, public) for
    # the quality model's held-out probabilities: BS splits into
    # RELIABILITY (calibration error -- how far bin forecasts sit from
    # bin outcomes), RESOLUTION (how much the forecasts separate the
    # base rate) and UNCERTAINTY (the base rate's own variance) -- the
    # standard diagnostic triple behind a reliability diagram, and the
    # quantitative answer to "is the quality score a probability or
    # just a ranking" that text_quality_model_calibration's PAV fit
    # addresses.  Forecast = sigmoid of the log-odds score, frozen to
    # integer ppm per DISTINCT score (one transcendental per tie group,
    # the micro-nat convention); everything after is exact int64 in
    # ppm^2 units with identical div staging on both engines.
    #
    # Shape: scores fold to the distinct-score relation (one docs-keyed
    # agg); sigmoid + 10-bin census on that reduced relation; the
    # decomposition is <=10-row algebra with broadcast totals.  No
    # global window anywhere.
    g = _qmodel_score_groups(spark, sf_dir)
    fg = g.select(
        "c",
        "c_pos",
        F.expr(
            "CAST(round(1000000 / (1 + exp(-CAST(score_micro AS DOUBLE)"
            " / 1000000)), 0) AS BIGINT)"
        ).alias("f_ppm"),
    )
    bins = fg.groupBy(
        F.expr("least(f_ppm div 100000, 9)").alias("bin")
    ).agg(
        F.sum("c").cast("long").alias("nb"),
        F.sum("c_pos").cast("long").alias("pb"),
        F.sum(F.expr("c * f_ppm")).cast("long").alias("sf"),
        F.sum(
            F.expr(
                "c_pos * (f_ppm - 1000000) * (f_ppm - 1000000)"
                " + (c - c_pos) * f_ppm * f_ppm"
            )
        )
        .cast("long")
        .alias("bsum"),
    ).localCheckpoint(eager=True)  # <= 10 rows; feeds totals AND components
    tot = bins.agg(
        F.sum("nb").cast("long").alias("n"),
        F.sum("pb").cast("long").alias("np"),
        F.sum("bsum").cast("long").alias("bsum"),
        F.expr("1000000 * sum(pb) div sum(nb)").cast("long").alias("ybar"),
    )
    comp = bins.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "nb * (sf div nb - 1000000 * pb div nb)"
                " * (sf div nb - 1000000 * pb div nb)"
            )
        )
        .cast("long")
        .alias("rel_num"),
        F.sum(
            F.expr(
                "nb * (1000000 * pb div nb - ybar)"
                " * (1000000 * pb div nb - ybar)"
            )
        )
        .cast("long")
        .alias("res_num"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    return comp.crossJoin(F.broadcast(tot)).select(
        "n",
        "np",
        "n_bins",
        F.expr("bsum div n").cast("long").alias("brier_ppm2"),
        F.expr("rel_num div n").cast("long").alias("reliability_ppm2"),
        F.expr("res_num div n").cast("long").alias("resolution_ppm2"),
        F.expr("ybar * (1000000 - ybar)")
        .cast("long")
        .alias("uncertainty_ppm2"),
    )


def _pps_oracle(k: int = 100) -> str:
    return f"""
    WITH wdoc AS (
      SELECT doc_id, lang,
             CAST(len(regexp_extract_all(lower(text), '{TOK}')) AS BIGINT)
               AS w
      FROM documents),
    cum AS (
      SELECT doc_id, lang, w,
             CAST(sum(w) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS c_hi
      FROM wdoc),
    tot AS (
      SELECT CAST(sum(w) AS BIGINT) AS tw,
             greatest(CAST(sum(w) AS BIGINT) // {k}, 1) AS step,
             greatest(CAST(sum(w) AS BIGINT) // {k}, 1) // 2 AS strt
      FROM wdoc),
    m AS (
      SELECT doc_id, lang, w, c_hi,
             least((c_hi - strt + step - 1) // step, {k})
               - least((c_hi - w - strt + step - 1) // step, {k}) AS picks
      FROM cum, tot)
    SELECT doc_id, lang, w, c_hi, CAST(picks AS BIGINT) AS picks
    FROM m WHERE picks > 0 ORDER BY doc_id
    """


@query("sample_pps_systematic", _pps_oracle())
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Systematic probability-proportional-to-size sampling (Madow 1949,
    # the classic survey-sampling design; the token-weighted "epoch
    # sampling" a data-mix executes): lay a fixed grid of k=100 points
    # (step = W div k, centered start) over the cumulative token-count
    # axis and pick every document whose weight interval contains a grid
    # point -- inclusion probability exactly proportional to token
    # count, long docs can be picked with multiplicity (their sampling
    # weight), zero randomness (the deterministic-start variant).
    # Pick counts are interval-difference algebra on the running sum:
    # picks_i = f(C_i) - f(C_{i-1}) with f(C) = (C - start + step - 1)
    # div step capped at k -- exact int64, identical staging in both
    # engines.
    #
    # Scale shape: the running sum is distributed_cumsum (the two-pass
    # bucketed rank operator, no global sort); everything after is
    # map-side arithmetic against one broadcast 3-value fold.  At 100 TB
    # the cost is one pass + one P-row offset exchange -- the shape a
    # naive Window.orderBy version fundamentally cannot reach.
    from kcl_akka_stream_spark.operators.windows import distributed_cumsum

    k = 100
    wdoc = (
        spread(tbl(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            "lang",
            F.expr(
                f"CAST(size(regexp_extract_all(lower(text), '{TOK}', 0))"
                " AS BIGINT)"
            ).alias("w"),
        )
    )
    cum = distributed_cumsum(wdoc, "doc_id", "w", cum_col="c_hi").drop("rn")
    tot = wdoc.agg(
        F.sum("w").cast("long").alias("tw"),
        F.expr(f"greatest(CAST(sum(w) AS BIGINT) div {k}, 1)").alias(
            "step"
        ),
        F.expr(
            f"greatest(CAST(sum(w) AS BIGINT) div {k}, 1) div 2"
        ).alias("strt"),
    )
    m = cum.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "lang",
        "w",
        "c_hi",
        F.expr(
            f"least((c_hi - strt + step - 1) div step, {k})"
            f" - least((c_hi - w - strt + step - 1) div step, {k})"
        )
        .cast("long")
        .alias("picks"),
    )
    return m.filter(F.col("picks") > 0).orderBy("doc_id")


def _mattr_oracle(w: int = 20) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, regexp_extract_all(lower(text), '{TOK}') AS t
      FROM documents),
    per_doc AS (
      SELECT doc_id, lang, len(t) AS n_tok,
             CASE WHEN len(t) >= {w}
               THEN (SELECT CAST(sum(x) AS BIGINT) FROM unnest(
                      [1000000 * len(list_distinct(list_slice(t, i, i + {w - 1})))
                       FOR i IN generate_series(1, len(t) - {w - 1})]) AS u(x))
                    // (len(t) - {w - 1}) // {w}
               ELSE 1000000 * len(list_distinct(t)) // len(t) END
               AS mattr_ppm
      FROM toks WHERE len(t) > 0)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(mattr_ppm) // count(*) AS BIGINT) AS avg_mattr_ppm,
           CAST(min(mattr_ppm) AS BIGINT) AS min_mattr_ppm,
           CAST(sum(CASE WHEN mattr_ppm < 400000 THEN 1 ELSE 0 END)
                AS BIGINT) AS low_diversity_docs
    FROM per_doc GROUP BY lang ORDER BY lang
    """


@query("text_mattr", _mattr_oracle())
def text_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Moving-Average Type-Token Ratio (Covington & McFall 2010, the
    # length-invariant lexical-diversity standard): plain TTR collapses
    # as documents grow (Heaps' law guarantees it), so diversity is
    # averaged over every 20-token sliding window instead -- comparable
    # across short and long docs, the lexical-richness gate beside the
    # repetition census (which counts REPEATS; MATTR measures VARIETY).
    # Per doc: mean over positions of 1e6 * distinct(window) div w,
    # staged sum-div-count-div-w identically on both engines; short
    # docs fall back to whole-doc TTR.  Per language: mean, min and the
    # under-40% degenerate count.
    #
    # Scale shape: the O(n_tok x w) window-distinct work is ONE array
    # comprehension per row inside whole-stage codegen -- no explode, no
    # shuffle before the lang census agg; per-row memory is the doc's
    # own token array.
    w = 20
    d = spread(tbl(spark, sf_dir, "documents"))
    per = d.select(
        "lang",
        F.expr(f"regexp_extract_all(lower(text), '{TOK}', 0)").alias("t"),
    ).filter(F.expr("size(t) > 0")).select(
        "lang",
        F.expr(
            f"CASE WHEN size(t) >= {w} THEN"
            f" aggregate(transform(sequence(1, size(t) - {w - 1}),"
            f"   i -> 1000000 * size(array_distinct(slice(t, i, {w})))),"
            "   0L, (a, x) -> a + x)"
            f"   div (size(t) - {w - 1}) div {w}"
            " ELSE 1000000 * size(array_distinct(t)) div size(t) END"
        )
        .cast("long")
        .alias("mattr_ppm"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("sum(mattr_ppm) div count(*)")
            .cast("long")
            .alias("avg_mattr_ppm"),
            F.min("mattr_ppm").cast("long").alias("min_mattr_ppm"),
            F.sum(
                F.expr("CASE WHEN mattr_ppm < 400000 THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias("low_diversity_docs"),
        )
        .orderBy("lang")
    )


def _effective_rank_oracle() -> str:
    return """
    WITH e AS (
      SELECT vec_id, i - 1 AS d,
             CAST(round(v[i] * 1000000, 0) AS BIGINT) AS em
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)),
    mu AS (SELECT d, CAST(sum(em) // count(*) AS BIGINT) AS mu,
                  CAST(count(*) AS BIGINT) AS n
           FROM e GROUP BY d),
    c AS (SELECT e.vec_id, e.d, e.em - m.mu AS cv
          FROM e JOIN mu m ON m.d = e.d),
    cov AS (
      SELECT a.d AS d, b.d AS d2,
             CAST(sum(a.cv * b.cv) // max(m.n) AS BIGINT) // 1000000 AS ck
      FROM c a JOIN c b ON b.vec_id = a.vec_id
      JOIN mu m ON m.d = a.d
      GROUP BY a.d, b.d)
    SELECT CAST(count(DISTINCT d) AS BIGINT) AS n_dims,
           CAST(sum(CASE WHEN d = d2 THEN ck ELSE 0 END) AS BIGINT)
             AS trace_u,
           CAST(sum(ck * ck) AS BIGINT) AS fro2_u,
           1000 * greatest(CAST(sum(CASE WHEN d = d2 THEN ck ELSE 0 END)
                               AS BIGINT), 1)
                // greatest(CAST(sum(ck * ck) AS BIGINT)
                            // greatest(CAST(sum(CASE WHEN d = d2 THEN ck
                                 ELSE 0 END) AS BIGINT), 1), 1) AS pr_milli
    FROM cov
    """


@query("emb_effective_rank", _effective_rank_oracle())
def emb_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Effective dimensionality of the embedding cloud WITHOUT an
    # eigensolver: the participation ratio PR = (tr C)^2 / ||C||_F^2 =
    # (sum lambda)^2 / sum lambda^2 (Gao et al. 2017 and the classic
    # inverse-participation literature) needs only the covariance trace
    # and Frobenius norm -- both plain sums over the 64x64 integer
    # covariance relation emb_power_iteration_pc1 already builds.
    # PR = n_dims for isotropic clouds, -> 1 when one direction
    # dominates: the collapse/anisotropy monitor an embedding pipeline
    # alarms on (representation collapse makes ANN and semantic dedup
    # silently useless).  Covariance entries rescale div 1e6 BEFORE the
    # quadratic sums (trace^2 of raw micro^2 units overflows int64);
    # identical divide-first staging both engines, exact from there.
    #
    # Shape: one (vec, dim) explode + one 64x64 covariance agg + a
    # single-row fold -- the data touches one pass, everything after is
    # model-sized.
    c = _centered_components(spark, sf_dir)
    a = c.select("vec_id", "d", F.col("cv").alias("ca"), "n")
    b = c.select("vec_id", F.col("d").alias("d2"), F.col("cv").alias("cb"))
    cov = (
        a.join(b, "vec_id")
        .groupBy("d", "d2")
        .agg(
            F.expr(
                "cast(sum(ca * cb) div max(n) as bigint) div 1000000"
            ).alias("ck")
        )
    )
    return cov.agg(
        F.count_distinct(F.col("d")).cast("long").alias("n_dims"),
        F.sum(F.expr("CASE WHEN d = d2 THEN ck ELSE 0 END"))
        .cast("long")
        .alias("trace_u"),
        F.sum(F.expr("ck * ck")).cast("long").alias("fro2_u"),
    ).select(
        "n_dims",
        "trace_u",
        "fro2_u",
        # divide-first: 1000*T^2/F as (1000*T) div (F div T) -- the
        # direct product overflows int64 once trace passes ~3e6 units
        # (any embedding cloud with larger-than-unit coordinates); the
        # restaged form is exact enough (both operands huge) and uses
        # IDENTICAL truncation on both engines
        F.expr(
            "1000 * greatest(trace_u, 1)"
            " div greatest(fro2_u div greatest(trace_u, 1), 1)"
        )
        .cast("long")
        .alias("pr_milli"),
    )


def _gif_media(docs: DataFrame) -> DataFrame:
    """Deterministic GIF fixture build: version, LE dims, packed GCT
    byte all derived from doc_id; every 19th doc corrupted (text
    bytes) -- the shared corruption convention of the media fixtures."""
    p = docs.select(
        "doc_id",
        "text",
        F.expr("100 + (doc_id % 17) * 8").alias("w"),
        F.expr("60 + (doc_id % 11) * 12").alias("hh"),
        F.expr(
            "CASE WHEN doc_id % 2 = 0 THEN '383961' ELSE '383761' END"
        ).alias("ver"),
        F.expr(
            "CASE WHEN doc_id % 3 <> 0 THEN 128 + doc_id % 8"
            " ELSE doc_id % 8 END"
        ).alias("packed"),
    )
    return p.select(
        F.expr(
            "CASE WHEN doc_id % 19 = 0 THEN encode(text, 'UTF-8')"
            " ELSE unhex(concat('474946', ver,"
            " lpad(hex(w % 256), 2, '0'), lpad(hex(w div 256), 2, '0'),"
            " lpad(hex(hh % 256), 2, '0'), lpad(hex(hh div 256), 2, '0'),"
            " lpad(hex(packed), 2, '0'), '0000', '3B')) END"
        ).alias("payload")
    )


def _gif_oracle() -> str:
    def rd_be(off: int, w: int) -> str:
        return (
            f"TRY_CAST(('0x' || substr(h, 2 * {off} + 1, {2 * w}))"
            " AS BIGINT)"
        )

    # little-endian uint16: swap the two hex byte pairs before parsing
    def rd_le16(off: int) -> str:
        return (
            f"TRY_CAST(('0x' || substr(h, 2 * {off} + 3, 2)"
            f" || substr(h, 2 * {off} + 1, 2)) AS BIGINT)"
        )

    gct = (
        "CASE (" + rd_be(10, 1) + ") % 8 "
        + " ".join(f"WHEN {e} THEN {1 << (e + 1)}" for e in range(8))
        + " END"
    )
    return f"""
    WITH p AS (
      SELECT doc_id, text,
             100 + (doc_id % 17) * 8 AS w,
             60 + (doc_id % 11) * 12 AS hh,
             CASE WHEN doc_id % 2 = 0 THEN '383961' ELSE '383761' END AS ver,
             CASE WHEN doc_id % 3 <> 0 THEN 128 + doc_id % 8
                  ELSE doc_id % 8 END AS packed
      FROM documents),
    media AS (
      SELECT CASE WHEN doc_id % 19 = 0 THEN encode(text)
                  ELSE from_hex('474946' || ver
                        || lpad(hex(w % 256), 2, '0')
                        || lpad(hex(w // 256), 2, '0')
                        || lpad(hex(hh % 256), 2, '0')
                        || lpad(hex(hh // 256), 2, '0')
                        || lpad(hex(packed), 2, '0') || '0000' || '3B')
             END AS payload
      FROM p),
    fields AS (
      SELECT CASE WHEN substr(h, 1, 6) = '474946'
                   AND substr(h, 7, 6) IN ('383761', '383961')
                  THEN 1 ELSE 0 END AS ok,
             CASE substr(h, 7, 6) WHEN '383761' THEN '87a'
                  WHEN '383961' THEN '89a' END AS version,
             {rd_le16(6)} AS width,
             {rd_le16(8)} AS height,
             ({rd_be(10, 1)}) // 128 AS gf,
             {gct} AS gct_sz
      FROM (SELECT hex(payload) AS h FROM media))
    SELECT CASE WHEN ok = 1 THEN version END AS version,
           CASE WHEN ok = 1 THEN gf END AS gct_flag,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN ok = 1 THEN width * height END) AS BIGINT)
             AS total_pixels,
           CAST(max(CASE WHEN ok = 1 THEN width END) AS BIGINT)
             AS max_width,
           CAST(sum(CASE WHEN ok = 1 AND gf = 1 THEN gct_sz ELSE 0 END)
                AS BIGINT) AS total_gct_entries,
           CAST(sum(1 - ok) AS BIGINT) AS n_bad
    FROM fields GROUP BY 1, 2
    """


@query("multimodal_gif_header", _gif_oracle())
def multimodal_gif_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GIF header census -- the sixth container parser (WAV, MP4, PNG,
    # JPEG, MP3 carried): version + logical-screen dims + global-color-
    # table census per (version, GCT flag).  GIF is the LITTLE-endian
    # image container (PNG/JPEG read BE; GIF shares WAV's byte order),
    # so the parser exercises the LE16 hex-swap path on an image
    # payload; the GCT size is 2^(N+1) spelled as an 8-way CASE (no
    # cross-engine shift reliance).  Same 100 TB posture as the other
    # censuses: hex-slice reads inside whole-stage codegen over opaque
    # binary columns, one bounded census agg, corrupt rows (every 19th
    # doc) isolated under NULL keys rather than poisoning the parse.
    from kcl_akka_stream_spark.operators.multimodal import parse_gif_header

    media = _gif_media(spread(tbl(spark, sf_dir, "documents")))
    parsed = parse_gif_header(media)
    return parsed.groupBy(
        F.expr("CASE WHEN gif_ok = 1 THEN version END").alias("version"),
        F.expr("CASE WHEN gif_ok = 1 THEN gct_flag END").alias("gct_flag"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.expr("CASE WHEN gif_ok = 1 THEN n_pixels END"))
        .cast("long")
        .alias("total_pixels"),
        F.max(F.expr("CASE WHEN gif_ok = 1 THEN width END"))
        .cast("long")
        .alias("max_width"),
        F.sum(
            F.expr(
                "CASE WHEN gif_ok = 1 AND gct_flag = 1 THEN gct_entries"
                " ELSE 0 END"
            )
        )
        .cast("long")
        .alias("total_gct_entries"),
        F.sum(1 - F.col("gif_ok")).cast("long").alias("n_bad"),
    )
