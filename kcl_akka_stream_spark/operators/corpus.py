"""Corpus-level training-data-pipeline operators over ``documents``.

Beyond-reference extension (no counterpart in /root/reference).  The three
ops every large-scale pretraining pipeline runs between dedup and export:

- PII redaction (map-only regexp rewrite, counts as audit columns);
- token-budget packing (assign docs to fixed-token-budget shards -- the
  step that turns a cleaned corpus into trainer-shaped output);
- benchmark decontamination (drop/flag docs sharing n-grams with an
  evaluation set -- the hygiene gate before training).

All deterministic and built-in-expression-only, so every op has an exact
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kcl_akka_stream_spark.operators.dedup import _zip_chain, shingles
from kcl_akka_stream_spark.plans.hygiene import spread

#: Conservative matchers shared with the DuckDB oracle (RE2/Java-compatible).
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
LONG_NUMBER_PATTERN = "[0-9]{7,}"


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Map-only PII scrub: emails -> ``<EMAIL>``, 7+-digit runs (phone /
    account numbers) -> ``<NUM>``, with per-doc match counts as audit
    columns.  Pure regexp_replace/extract_all -- whole-stage codegen, zero
    shuffle, embarrassingly parallel at any scale."""
    txt = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(txt, F.lit(EMAIL_PATTERN), 0))
    n_numbers = F.size(
        F.regexp_extract_all(
            F.regexp_replace(txt, EMAIL_PATTERN, "<EMAIL>"),
            F.lit(LONG_NUMBER_PATTERN),
            0,
        )
    )
    redacted = F.regexp_replace(
        F.regexp_replace(txt, EMAIL_PATTERN, "<EMAIL>"),
        LONG_NUMBER_PATTERN,
        "<NUM>",
    )
    return df.select(
        F.col(id_col),
        redacted.alias("redacted_text"),
        n_emails.cast("int").alias("n_emails"),
        n_numbers.cast("int").alias("n_numbers"),
    )


def pack_token_budget(
    df: DataFrame,
    budget: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str = "lang",
) -> DataFrame:
    """Assign documents to fixed-token-budget shards: within each stratum
    (ordered by id) a doc's shard is ``floor(tokens_before / budget)`` --
    the deterministic continuous-packing rule, so shard boundaries are
    reproducible across engines and runs.

    Scale shape: ONE window partitioned by the stratum column -- packing
    parallelizes across strata (a global pack order would serialize the
    whole corpus through one reducer; per-stratum is how production
    pipelines shard anyway: per language / source / domain)."""
    from pyspark.sql import Window

    from kcl_akka_stream_spark.operators.text import tokens

    n_tok = F.size(tokens(F.col(text_col)))
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        df.select(F.col(id_col), F.col(stratum_col), n_tok.alias("n_tokens"))
        .withColumn("tokens_before", cum_before.cast("long"))
        .withColumn(
            "pack_id", F.floor(F.col("tokens_before") / F.lit(budget)).cast("long")
        )
    )


def dedup_segments(
    df: DataFrame,
    seg_tokens: int = 3,
    max_doc_freq: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide boilerplate removal (the C4 line-dedup rule, Raffel et
    al. 2020): split each document into consecutive ``seg_tokens``-token
    segments (the fixture corpus is single-line, so fixed token windows
    stand in for lines), drop every segment occurring in more than
    ``max_doc_freq`` documents corpus-wide, and reassemble the surviving
    text in original order.

    Scale shape: posexplode → document-frequency agg keyed by segment
    (map-side combinable) → one join back on segment → one groupBy doc to
    reassemble.  Shuffle volume is O(corpus tokens); nothing quadratic.
    The reassembly collect_list is per-document (bounded by doc length),
    never per-corpus."""
    from kcl_akka_stream_spark.operators.text import tokens
    from kcl_akka_stream_spark.plans.hygiene import spread

    # Zip-chain segment construction: join the token array positionally
    # with its shifted slices (concat_ws skips the null padding, which
    # yields the partial tail segment for free), then keep every
    # seg_tokens-th position with an index filter.  The token array is
    # materialized in a CHILD projection first (SCALE_PROBE r7's 2.71x
    # row): the zip-chain references it 2*seg_tokens - 1 times (initial
    # array, each slice, and the size), and inlining the tokenizer
    # expression re-runs the regex that many times per row.
    # CollapseProject keeps the non-cheap multiply-referenced alias
    # separate, so the tokenizer runs once per row.
    segs = F.filter(
        _zip_chain(F.col("__toks"), seg_tokens), lambda _, i: i % seg_tokens == 0
    )
    # spread(): segment slicing is an interpreted higher-order function.
    ex = (
        spread(df.select(id_col, text_col))
        .withColumn("__toks", tokens(F.col(text_col)))
        .select(F.col(id_col), F.posexplode(segs).alias("pos", "seg"))
    )
    seg_df = ex.groupBy("seg").agg(
        F.countDistinct(id_col).alias("seg_doc_freq")
    )
    kept_flag = F.col("seg_doc_freq") <= max_doc_freq
    return (
        ex.join(seg_df, "seg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_seg_total"),
            F.sum(kept_flag.cast("long")).alias("n_seg_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                kept_flag,
                                F.struct(F.col("pos"), F.col("seg")),
                            )
                        )
                    ),
                    lambda s: s.getField("seg"),
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(id_col, "clean_text", "n_seg_total", "n_seg_kept")
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag every corpus doc sharing at least
    one word ``k``-gram with the evaluation set, with the shared-gram count
    as evidence.

    Scale shape: the eval set's distinct k-grams are SMALL (benchmarks are
    thousands of items, not billions) -- broadcast them; the corpus side
    explodes its k-grams map-side and the broadcast hash join + count is
    one shuffle keyed by doc.  The corpus never self-joins and never
    shuffles its text."""
    from kcl_akka_stream_spark.plans.hygiene import spread

    # spread(): the k-gram slicing is an interpreted higher-order function;
    # without a parallelism floor it runs on however few partitions the
    # scan produced (the round-1 rolling_fingerprint lesson).
    corpus_grams = spread(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("gram")
    )
    # eval side: NO spread (r10 measured, 1.17x regression) -- the eval
    # set is small by contract (a benchmark suite), so the shingle explode
    # is cheap; see SPREAD_AUDIT_ALLOW.
    eval_grams = (
        eval_df.select(F.explode(shingles(F.col(text_col), k)).alias("gram"))
        .distinct()
    )
    return (
        corpus_grams.join(F.broadcast(eval_grams), on="gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def source_cap(
    df: DataFrame,
    max_per_source: int = 10,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "cap7",
) -> DataFrame:
    """Per-source document cap -- the per-domain quota every web-crawl
    curation pipeline applies (C4 / RefinedWeb style, public): no single
    domain may contribute more than ``max_per_source`` documents.

    Selection within a source ranks by a deterministic md5 of the id
    (unbiased w.r.t. document length or position -- ranking by id alone
    would systematically prefer early-crawled pages), tie-broken by id.
    One window shuffle keyed by the source; at 100 TB the key domain is
    domains (millions), so the shuffle is well-spread, and a genuinely
    hot megadomain is exactly what the cap truncates.

    Output: the kept rows with their ``source_rank`` audit column."""
    rank_key = F.md5(
        F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(source_col).orderBy(rank_key, F.col(id_col))
    return (
        df.withColumn("source_rank", F.row_number().over(w))
        .filter(F.col("source_rank") <= max_per_source)
    )


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Reconcile two corpus snapshots: per-document status
    ``added`` / ``removed`` / ``changed`` / ``unchanged``.

    The ops primitive behind every incremental 100 TB pipeline run:
    before re-processing a refreshed crawl, diff it against the previous
    snapshot so downstream stages (dedup index, embeddings, exports)
    touch only the added/changed slice.  One full-outer join keyed on
    the document id -- content comparison is by md5 fingerprint computed
    map-side on each side, so the join carries (key, 32-byte digest),
    never the documents themselves; at bucketed-table layouts
    (sources/bucketed.py) the join is shuffle-free.
    """
    # NULL text must not read as "row absent": fingerprint NULL to a
    # sentinel digest distinct from every real md5 (and from md5('')).
    def fp(c):
        return F.coalesce(F.md5(F.col(c)), F.lit("<null-text>"))

    o = old_df.select(F.col(key_col).alias("k"), fp(text_col).alias("old_fp"))
    n = new_df.select(F.col(key_col).alias("k"), fp(text_col).alias("new_fp"))
    j = o.join(n, "k", "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col("k").alias(key_col), status.alias("status"))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 128,
    stride: int = 64,
) -> DataFrame:
    """Split documents into overlapping token-window chunks (the RAG /
    context-window prep step: every training or retrieval corpus ends up
    chunked).

    Map-only: tokenize once into a child projection, explode one chunk
    index per window position, slice -- no shuffle at all, so it scales
    with scan bandwidth.  Chunk count per doc is
    ceil(max(n_tokens - window, 0) / stride) + 1 (integer-exact), so the
    final chunk always carries more than ``window - stride`` tokens and
    no empty chunks are emitted; empty documents yield no rows.
    """
    if stride <= 0 or window <= 0 or stride > window:
        raise ValueError(f"need 0 < stride <= window, got {window=} {stride=}")
    from kcl_akka_stream_spark.operators.text import tokens

    toked = df.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("__toks"),
    ).withColumn("__n", F.size("__toks"))
    n_extra = F.greatest(F.col("__n") - window, F.lit(0))
    last_idx = F.floor((n_extra + (stride - 1)) / F.lit(stride)).cast("long")
    return (
        toked.filter(F.col("__n") > 0)
        .select(
            id_col,
            "__toks",
            "__n",
            F.explode(F.sequence(F.lit(0).cast("long"), last_idx)).alias(
                "chunk_idx"
            ),
        )
        .select(
            id_col,
            "chunk_idx",
            F.concat_ws(
                " ",
                F.slice(
                    "__toks", F.col("chunk_idx") * stride + 1, F.lit(window)
                ),
            ).alias("chunk_text"),
            F.least(
                F.lit(window), F.col("__n") - F.col("chunk_idx") * stride
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )


def canonical_url(url: Column, keep_params: tuple[str, ...] = ("lang",)) -> Column:
    """URL canonicalization -- the first dedup key of every web corpus
    (the same page arrives as http/https, cased hosts, default ports,
    trailing slashes, and tracking-parameter variants): lowercase the
    host, force the https scheme, drop the port, strip trailing slashes
    from the path, and keep ONLY the whitelisted query params (tracking
    params like utm_* are exactly the ones not whitelisted).

    Pure JVM expressions (parse_url + regexp), map-only -- canonicalize
    then hash-dedup is one combinable shuffle at any scale.
    """
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    path = F.regexp_replace(F.parse_url(url, F.lit("PATH")), "/+$", "")
    kept = [
        F.when(
            F.parse_url(url, F.lit("QUERY"), F.lit(p)).isNotNull(),
            F.concat(F.lit(p + "="), F.parse_url(url, F.lit("QUERY"), F.lit(p))),
        )
        for p in keep_params
    ]
    q = F.concat_ws("&", *kept)
    return F.concat(
        F.lit("https://"),
        host,
        path,
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )


def decontaminate_fuzzy(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH decontamination (wave 44, VERDICT r11 #7): flag corpus
    docs that are NEAR-duplicates of any held-out eval item -- the
    paraphrase/light-edit contamination the exact k-gram path
    (``decontaminate``) is blind to, and the cross-dataset form of the
    canonical LSH+verify recipe (Broder 1997, the GPT-3/PaLM dedup-based
    decontamination pattern, public).

    Stage 1: both sides get the standard 8-hash/4-band signature; the
    EVAL bucket set is benchmark-sized by contract and broadcasts, so the
    corpus never self-joins and never shuffles its text -- candidates are
    corpus rows whose band bucket collides with an eval bucket.  Stage 2:
    exact shingle Jaccard on candidates only (verify_candidate_jaccard).
    ``max_bucket_size`` caps the CORPUS side of a colliding bucket (a
    degenerate bucket -- e.g. empty-ish texts -- would otherwise fan a
    single eval row into the whole corpus); like every dedup cap it
    changes candidate RECALL, never correctness of what it emits.

    Output: one row per flagged corpus doc -- (id, n_matched_evals,
    max_jaccard) -- the same doc-keyed shape as ``decontaminate`` so the
    two paths compose into one report."""
    from pyspark.sql import Window as W

    from kcl_akka_stream_spark.operators.dedup import (
        _band_buckets,
        minhash_signatures,
        verify_candidate_jaccard,
    )

    sig_c = minhash_signatures(df, text_col, id_col, num_hashes, k)
    sig_e = minhash_signatures(eval_df, text_col, id_col, num_hashes, k)
    bc = _band_buckets(sig_c, num_hashes, bands, id_col)
    be = _band_buckets(sig_e, num_hashes, bands, id_col).select(
        "band", "bucket", F.col(id_col).alias("__eval_id")
    )
    if max_bucket_size is not None:
        sz = W.partitionBy("band", "bucket")
        bc = (
            bc.withColumn("__bsz", F.count(F.lit(1)).over(sz))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    cand = (
        bc.join(F.broadcast(be), ["band", "bucket"])
        .select(
            F.col(id_col).alias("id_a"), F.col("__eval_id").alias("id_b")
        )
        .distinct()
    )
    # Two-table verify (ADVICE r12): id_a resolves against the CORPUS
    # shingles and id_b against the EVAL shingles, so the two id spaces
    # never share a table and may overlap freely -- the previous raw-id
    # union silently duplicated rows through the id-keyed shingle join
    # whenever a corpus id collided with an eval id.
    verified = verify_candidate_jaccard(
        df, cand, text_col, id_col, k, threshold, df_b=eval_df
    )
    return verified.groupBy(F.col("id_a").alias(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_matched_evals"),
        F.max("jaccard").alias("max_jaccard"),
    )


def decontaminate_span_coverage(
    df: DataFrame,
    eval_df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level decontamination (the third granularity, completing the
    ladder: exact 5-gram flag -> MinHash paraphrase flag -> EXACT SPAN
    accounting): for every corpus doc, the interval-union fraction of
    its tokens covered by k-token windows that occur ANYWHERE in the
    held-out eval set -- the Lee et al. 2022 window machinery pointed at
    a reference corpus instead of at self-duplication.  Unlike the flag
    paths this QUANTIFIES contamination (a doc quoting one benchmark
    item line shows 8% coverage, a laundered full copy shows 95%), which
    is what you need to set a removal-vs-redaction threshold.

    Scale shape: the eval window set is benchmark-sized by contract and
    BROADCASTS; the corpus explodes its windows map-side (spread floor)
    and never self-joins; the interval union is the running-max
    streaming frame; per-doc fold + left join are id-keyed."""
    from kcl_akka_stream_spark.operators.dedup import (
        _span_coverage,
        positional_windows,
    )
    from kcl_akka_stream_spark.plans.hygiene import spread

    ex = spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.posexplode(positional_windows(F.col(text_col), k)).alias(
            "pos", "gram"
        ),
    )
    ev_grams = (
        eval_df.select(
            F.explode(positional_windows(F.col(text_col), k)).alias("gram")
        )
        .distinct()
    )
    hits = ex.join(F.broadcast(ev_grams), "gram").select(id_col, "pos")
    return _span_coverage(df, hits, k, text_col, id_col, "n_eval_windows")
