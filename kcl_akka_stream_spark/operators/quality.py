"""Gopher/C4-style document quality filters and repetition statistics.

Beyond-reference extension (no counterpart in /root/reference).
Large-scale training-data-pipeline surface (BASELINE.json north star):
the classic pretraining-corpus quality gate — per-document structural
metrics (word count, mean word length, alphabetic-word fraction) plus
the repetition family (top-bigram coverage, duplicate-trigram fraction)
from the Gopher rules (Rae et al. 2021, arXiv:2112.11446 §A1.1) and the
C4 heuristics (Raffel et al. 2020).

Scale shape: ONE Arrow-batched ``mapInPandas`` pass — zero shuffle
beyond the small-input ``spread``, zero joins, linear in corpus bytes.
Every per-document statistic is a mode/distinct over a tiny per-doc
multiset, so a ``collections.Counter`` inside the Arrow batch computes
them map-only.  The Python pass emits only INTEGER-exact counters
(word count, summed token length, alpha-token count, top-bigram count,
trigram totals); all division and rounding stay JVM-side in ``F.round``,
so the result is bit-for-bit identical to the previous relational form
and to the DuckDB oracle — no float math crosses the Arrow boundary.

Why not the previous shapes: the relational form (explode grams →
two-stage agg) shuffled O(corpus tokens); the expression form
(zip_with/slice HOF chain) never entered whole-stage codegen — it ran
on the interpreted expression evaluator until HotSpot C2 compiled it,
costing ~12 s cold vs ~1 s steady per fresh JVM at sf0.1 (measured,
VERDICT r4).  At 100 TB every fresh executor pays that cold penalty,
so the Arrow path is both the fast AND the scale-correct shape.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kcl_akka_stream_spark.operators import text as X

#: Gopher-style acceptance thresholds, tuned so the fixture corpus
#: genuinely splits (both pass and fail occur at every SF).
MIN_WORDS = 30
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MIN_ALPHA_FRAC = 0.5
MAX_TOP_BIGRAM_FRAC = 0.15
MAX_DUP_TRIGRAM_FRAC = 0.05

#: Python twins of operators/text.py's TOKEN_PATTERN — the Arrow pass
#: must tokenize exactly like the expression path (`[a-z0-9]+` over
#: lowercased text; ASCII-only classes, so Java/Python regex agree).
_TOKEN_RE = re.compile(X.TOKEN_PATTERN)
_ALPHA_RE = re.compile("[a-z]")


def structural_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Map-only structural metrics: word count, mean word length,
    alphabetic-word fraction.  Zero shuffle.

    Token array ``bind_once``-bound in a child projection (optimization
    r15): the inline form referenced the tokenize regexp five times
    (three n_words uses + the aggregate fold + the alpha filter), and
    interpreted HOFs get no codegen CSE, so the regexp ran per
    reference."""
    stats = X.bind_once(
        X.tokens(F.col(text_col)),
        lambda toks: F.struct(
            F.size(toks).alias("n"),
            F.aggregate(
                toks, F.lit(0), lambda acc, t: acc + F.length(t)
            ).alias("tl"),
            F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).alias("na"),
        ),
    )
    pre = df.select("doc_id", stats.alias("__s"))
    n_words = F.col("__s.n")
    return pre.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(
            F.col("__s.tl").cast("double") / F.greatest(n_words, F.lit(1)), 4
        ).alias("mean_word_len"),
        F.round(
            F.col("__s.na").cast("double") / F.greatest(n_words, F.lit(1)), 6
        ).alias("frac_alpha_words"),
    )


_GRAM_STATS_SCHEMA = (
    "doc_id long, n_words int, total_len long, n_alpha long, "
    "top_bg long, n_tg long, n_tg_distinct long"
)


def _gram_stats_batches(batches):
    """mapInPandas kernel: per-document integer counters, one Arrow batch
    at a time.  Tuple-keyed Counters stand in for the string grams —
    tokens contain no spaces, so tuple identity == joined-string identity."""
    import pandas as pd

    for pdf in batches:
        if pdf.empty:
            continue
        out = {k: [] for k in (
            "doc_id", "n_words", "total_len", "n_alpha",
            "top_bg", "n_tg", "n_tg_distinct",
        )}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            toks = _TOKEN_RE.findall(text.lower()) if text is not None else []
            n = len(toks)
            top_bg = (
                max(Counter(zip(toks, toks[1:])).values()) if n >= 2 else 0
            )
            n_tg_distinct = (
                len(set(zip(toks, toks[1:], toks[2:]))) if n >= 3 else 0
            )
            out["doc_id"].append(doc_id)
            out["n_words"].append(n)
            out["total_len"].append(sum(map(len, toks)))
            out["n_alpha"].append(
                sum(1 for t in toks if _ALPHA_RE.search(t))
            )
            out["top_bg"].append(top_bg)
            out["n_tg"].append(n - 2 if n >= 3 else 0)
            out["n_tg_distinct"].append(n_tg_distinct)
        yield pd.DataFrame(out)


def _gram_stats(df: DataFrame, text_col: str) -> DataFrame:
    """One Arrow-batched pass over (doc_id, text) emitting the integer
    statistics every quality metric derives from.  Map-only: the column
    pruning to (doc_id, text) happens before the Python exchange, and
    ``spread`` only fires on under-partitioned local reads."""
    from kcl_akka_stream_spark.plans.hygiene import spread

    src = spread(df.select("doc_id", F.col(text_col).alias("text")))
    return src.mapInPandas(_gram_stats_batches, schema=_GRAM_STATS_SCHEMA)


def _repetition_cols() -> list[Column]:
    """JVM-side derivation of the two repetition fractions from the
    integer counters — F.round keeps rounding semantics identical to the
    previous relational implementation and the DuckDB oracle."""
    top_bigram_frac = F.round(
        F.least(
            F.lit(1.0),
            F.lit(2.0)
            * F.coalesce(F.col("top_bg"), F.lit(0)).cast("double")
            / F.greatest(F.coalesce(F.col("n_words"), F.lit(0)), F.lit(1)),
        ),
        6,
    ).alias("top_bigram_frac")
    dup_trigram_frac = F.round(
        (
            F.coalesce(F.col("n_tg"), F.lit(0))
            - F.coalesce(F.col("n_tg_distinct"), F.lit(0))
        ).cast("double")
        / F.greatest(F.coalesce(F.col("n_tg"), F.lit(0)), F.lit(1)),
        6,
    ).alias("dup_trigram_frac")
    return [top_bigram_frac, dup_trigram_frac]


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition stats (Gopher §A1.1):

    - ``top_bigram_frac`` — fraction of tokens covered by the single most
      frequent bigram (2 × its count / word count, capped at 1);
    - ``dup_trigram_frac`` — fraction of trigram occurrences that are
      repeats of an earlier trigram in the same document."""
    return _gram_stats(df, text_col).select("doc_id", *_repetition_cols())


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Full quality gate: structural + repetition metrics and the
    accept/reject flag (int 0/1 for cross-engine hash stability).
    One Arrow pass computes every counter; one JVM-side projection does
    all division/rounding/thresholding — no join, no agg, no shuffle
    anywhere in the plan."""
    s = _gram_stats(df, text_col)
    m = s.select(
        "doc_id",
        "n_words",
        F.round(
            F.col("total_len").cast("double")
            / F.greatest(F.col("n_words"), F.lit(1)),
            4,
        ).alias("mean_word_len"),
        F.round(
            F.col("n_alpha").cast("double")
            / F.greatest(F.col("n_words"), F.lit(1)),
            6,
        ).alias("frac_alpha_words"),
        *_repetition_cols(),
    )
    passed = (
        (F.col("n_words") >= MIN_WORDS)
        & (F.col("n_words") <= MAX_WORDS)
        & (F.col("mean_word_len") >= MIN_MEAN_WORD_LEN)
        & (F.col("mean_word_len") <= MAX_MEAN_WORD_LEN)
        & (F.col("frac_alpha_words") >= MIN_ALPHA_FRAC)
        & (F.col("top_bigram_frac") <= MAX_TOP_BIGRAM_FRAC)
        & (F.col("dup_trigram_frac") <= MAX_DUP_TRIGRAM_FRAC)
    )
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "frac_alpha_words",
        "top_bigram_frac",
        "dup_trigram_frac",
        passed.cast("int").alias("gopher_pass"),
    )


def hashed_logodds_fit_score(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    holdout_mod: int = 3,
) -> DataFrame:
    """MODEL-BASED quality scorer (VERDICT r12 #4): a hashed-unigram
    linear classifier in the fastText / CCNet mold (Joulin et al. 2016;
    Wenzek et al. 2019 -- train a cheap linear model on labeled docs,
    score the whole crawl), with the fit CLOSED-FORM so both engines
    reproduce it bit-for-bit: Bernoulli Naive Bayes log-odds per hashed
    token bucket.

    Fit (train split = ``id % holdout_mod != 0``): each doc contributes
    its DISTINCT md5-hashed token buckets (presence features); a
    bucket's weight is the Laplace-smoothed log-odds
    ``ln(pos_b+1) - ln(n_pos+2) - ln(neg_b+1) + ln(n_neg+2)``, each ln
    taken over an INTEGER argument and frozen to micro-nats BEFORE any
    sum (the scalar_math_funcs / sample_dsir rule: 1-ulp libm-vs-JVM
    wobble flips a micro-round only ~1e-10 of the time; everything
    after is exact int64).  Buckets unseen in training get the
    zero-count weight; the bias is ``ln(n_pos+1) - ln(n_neg+1)``.

    Score (held-out split): bias + sum of bucket weights over the doc's
    distinct buckets, exact int64; prediction = score > 0.

    Scale shape: the feature relation (docs x <=n_buckets) is built
    once and localCheckpoint-ed (it feeds the fit AND the scoring);
    weights are an <=n_buckets-row relation that BROADCASTS; totals are
    a single broadcast row.  Nothing shuffles wider than one docs-keyed
    agg -- the shape that scores 100 TB with a 256-row model.

    Output: one row per HELD-OUT doc -- (id, label, n_feat_buckets,
    score_micro, pred)."""
    ml = lambda e: f"cast(round(ln(cast({e} as double)) * 1000000, 0) as bigint)"  # noqa: E731
    base = df.select(
        F.col(id_col),
        F.col(label_col).cast("int").alias("__lbl"),
        F.col(text_col),
    )
    feats = (
        base.select(
            id_col,
            "__lbl",
            (F.col(id_col) % holdout_mod == 0).cast("int").alias("__test"),
            F.explode(X.tokens(F.col(text_col))).alias("__tok"),
        )
        .select(
            id_col,
            "__lbl",
            "__test",
            F.expr(
                f"cast(conv(substring(md5(__tok), 1, 6), 16, 10) as bigint)"
                f" % {n_buckets}"
            ).alias("__bkt"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    totals = (
        base.filter(F.col(id_col) % holdout_mod != 0)
        .agg(
            F.sum("__lbl").cast("long").alias("__npos"),
            F.sum(1 - F.col("__lbl")).cast("long").alias("__nneg"),
        )
    )
    bkt_counts = (
        feats.filter("__test = 0")
        .groupBy("__bkt")
        .agg(
            F.sum("__lbl").cast("long").alias("__pos_b"),
            F.sum(1 - F.col("__lbl")).cast("long").alias("__neg_b"),
        )
    )
    weights = bkt_counts.crossJoin(F.broadcast(totals)).select(
        "__bkt",
        F.expr(
            f"{ml('__pos_b + 1')} - {ml('__npos + 2')}"
            f" - {ml('__neg_b + 1')} + {ml('__nneg + 2')}"
        ).alias("__w"),
    )
    scored = (
        feats.filter("__test = 1")
        .join(F.broadcast(weights), "__bkt", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col, "__lbl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feat_buckets"),
            F.sum(
                F.expr(
                    f"coalesce(__w, {ml('1')} - {ml('__npos + 2')}"
                    f" - {ml('1')} + {ml('__nneg + 2')})"
                )
            )
            .cast("long")
            .alias("__wsum"),
        )
    )
    return scored.crossJoin(F.broadcast(totals)).select(
        id_col,
        F.col("__lbl").alias("label"),
        "n_feat_buckets",
        F.expr(
            f"__wsum + {ml('__npos + 1')} - {ml('__nneg + 1')}"
        ).alias("score_micro"),
        F.expr(
            f"cast(__wsum + {ml('__npos + 1')} - {ml('__nneg + 1')} > 0"
            " as int)"
        ).alias("pred"),
    )
