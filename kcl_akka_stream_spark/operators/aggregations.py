"""Aggregations / grouping (SURVEY §2.5, A1-A5).

The reference's test oracles (IT/MessageUtil.scala:9-61) define the
correctness semantics of the whole library: per-key ordered, at-least-once,
duplicates only as contiguous replay-from-checkpoint prefixes.  Here they are
first-class operators.  All aggregation is partial/final hash-agg via
Catalyst; group-by keys hash-partition, so the plan scales linearly in
executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def group_by_key(df: DataFrame, key_col: str, value_col: str, order_col: str) -> DataFrame:
    """A1 -- ``groupByKey``: Seq[(k,v)] -> per-key value list preserving
    arrival order and duplicates (IT/MessageUtil.scala:15-22; duplicate
    preservation proven IT/MessageUtilTest.scala:9-13).

    Spark's collect_list order is only deterministic within a sorted
    partition, so the order column is carried into structs and sorted
    explicitly -- deterministic at any parallelism.
    """
    return df.groupBy(key_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(value_col).alias("v")))),
            lambda s: s.getField("v"),
        ).alias("values")
    )


def dedup_and_group_by_key(df: DataFrame, key_col: str, value_col: str, order_col: str) -> DataFrame:
    """A2 -- ``dedupAndGroupByKey`` (IT/MessageUtil.scala:9-13): A1 then
    per-key replay-dedup.  The strict acceptance variant (throws on true
    reordering) lives in operators.replay.remove_reprocessed; this relational
    form keeps the first occurrence of each value in order.
    """
    first_seen = df.groupBy(key_col, value_col).agg(F.min(order_col).alias("__first_o"))
    return group_by_key(first_seen, key_col, value_col, "__first_o")


def counts(df: DataFrame, key_col: str) -> DataFrame:
    """A4 -- size / keyset-size / distinct counts
    (IT/KinesisSourceTest.scala:86,154-159)."""
    return df.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct(key_col).alias("n_keys"),
        F.approx_count_distinct(key_col).alias("approx_n_keys"),
    )


def shard_stats(df: DataFrame, shard_col: str, event_col: str, ok_value: str) -> DataFrame:
    """A5 -- stats counters grouped by shard-consumer id
    (IT/Inspectable.scala:95-106): per shard, total events and count of a
    given event class (e.g. checkpoint-acked vs throttled)."""
    return df.groupBy(shard_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col(event_col) == ok_value, 1)).alias("n_matching"),
    )


def power_sums(df: DataFrame, group_col: str, value_col: str, scale: int = 10) -> DataFrame:
    """Exact integer power-sum states through the 3rd moment -- the
    mergeable basis of mean/variance/skewness (the moment-sketch family's
    EXACT end of the spectrum; Gan et al., VLDB 2018 use the same state
    for quantile estimation).  The value is frozen to ``scale`` integer
    units first (deci-units by default -- fits s3 in int64 up to ~1e6
    rows per group for values < ~10^4), then n and the first three power
    sums accumulate as plain int64 -- commutative, associative,
    order-independent, so partial aggregation (map-side combine),
    incremental merges, and streaming foldings all produce bit-identical
    states.  Never store a derived mean/variance: that is the
    unmergeable-rollup bug (see queries/pipeline.py::
    pipeline_rollup_incremental).
    """
    v = F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("long")
    d = df.select(F.col(group_col), v.alias("__v"))
    return d.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__v").cast("long").alias("s1"),
        F.sum(F.col("__v") * F.col("__v")).cast("long").alias("s2"),
        F.sum(F.col("__v") * F.col("__v") * F.col("__v")).cast("long").alias("s3"),
    )


def mad_outlier_report(
    df: DataFrame, group_col: str, value_col: str, scale: int = 1_000_000
) -> DataFrame:
    """Robust per-group outlier report: exact discrete median, median
    absolute deviation (MAD), and the count of points beyond 3 MADs --
    the outlier gate that survives what z-scores don't (a single wild
    point inflates mean AND stddev until nothing looks anomalous; the
    median/MAD pair is 50%-breakdown robust, Hampel 1974, public).

    Exactness: values freeze to ``scale`` integer units, medians are the
    LOWER discrete median (the (n+1) div 2-th smallest actual value --
    never an interpolated float), and the 3-MAD fence is an integer
    compare, so an SQL oracle matches bit-for-bit.  (The 1.4826 normal
    consistency factor is deliberately left to the caller: it is a
    float presentation detail, not part of the exact state.)

    Scale shape: the winsorized-stats discipline -- ONE data-sized
    (group, value) count, then every median/cumulative/fence step runs
    on the DISTINCT-VALUE histogram relation (bounded by distinct
    values per group, never row count).  No data-sized per-group sort
    anywhere.  Two broadcastable group-sized attach joins (medians,
    MADs).
    """
    from pyspark.sql import Window

    v = F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("long")
    # The histogram feeds THREE consumers (median CDF, deviation
    # histogram, fence count); without materialization each one re-runs
    # the data-sized (group, value) count.  Checkpoint the
    # distinct-value-sized relation once -- the graph-family lineage
    # discipline (operators/graph.py::_edge_base).
    h = (
        df.select(F.col(group_col).alias("g"), v.alias("__v"))
        .groupBy("g", "__v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    w_cum = (
        Window.partitionBy("g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hh = h.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("g"))
    )
    med = hh.groupBy("g").agg(
        F.max("n").cast("long").alias("n"),
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("__v"))
        ).alias("med"),
    )
    dh = (
        h.join(F.broadcast(med), "g")
        .select("g", "n", F.abs(F.col("__v") - F.col("med")).alias("dev"), "c")
        .groupBy("g", "n", "dev")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    w_dcum = (
        Window.partitionBy("g")
        .orderBy("dev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dcum = dh.withColumn("cum", F.sum("c").over(w_dcum))
    mad = dcum.groupBy("g").agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("dev"))
        ).alias("mad")
    )
    out = (
        dh.join(F.broadcast(mad), "g")
        .groupBy("g", "n", "mad")
        .agg(
            F.sum(F.when(F.col("dev") > 3 * F.col("mad"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_outliers")
        )
    )
    return (
        out.join(F.broadcast(med.select("g", "med")), "g")
        .select(
            F.col("g").alias(group_col),
            "n",
            F.col("med").alias("med_units"),
            F.col("mad").alias("mad_units"),
            "n_outliers",
        )
    )


def weighted_median(
    df: DataFrame, group_col: str, value_col: str, weight_col: str
) -> DataFrame:
    """Exact weighted (lower) median per group via the histogram-CDF
    decomposition (the winsorized-stats / MAD shape): ONE data-sized
    (group, value) weight rollup, then the cumulative window rides the
    DISTINCT-VALUE histogram -- never a data-sized per-group sort.  The
    weighted median is the smallest value whose cumulative weight
    reaches half the total (2*cw >= tw in pure int64 -- no division, no
    float, exact cross-engine).

    ``value_col`` and ``weight_col`` must be integral (cents / counts);
    returns ``(group_col, total_w, wmedian)``.
    """
    hist = df.groupBy(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    ).agg(F.sum(F.col(weight_col).cast("long")).alias("w"))
    cum = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("g")
    h = hist.withColumn("cw", F.sum("w").over(cum)).withColumn(
        "tw", F.sum("w").over(tot)
    )
    return (
        h.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("g")
        .agg(
            F.max("tw").cast("long").alias("total_w"),
            F.min("v").cast("long").alias("wmedian"),
        )
        .withColumnRenamed("g", group_col)
    )


def pearson_stats(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Exact integer sufficient statistics for Pearson correlation and
    the OLS slope: n, sx, sy, sxy, sx2, sy2 as plain int64 sums
    (order-independent -- the power-sums discipline), with r derived as
    ONE float expression from the exact integers and the slope in
    integer micro-units.  ``x_col`` / ``y_col`` must be integral.

    Scale shape: one combinable map-side agg; the output is
    groups-sized.  The same six integers are the mergeable state for
    streaming / incremental maintenance (plain addition).

    The DERIVED stats (cov, var, r, slope) compute in DOUBLE from the
    exact int64 sums: the n*sxy-style cross products overflow int64 long
    before the sums themselves do (the 10x probe caught exactly this --
    an all-integer `(n*sxy - sx*sy) * 1e6 div ...` slope blew up at 10x
    sf0.1), and both engines evaluate the IDENTICAL double expression on
    identical integer inputs, so the results still hash-match.  The
    int64 SUMS are the binding scale limit (sx2 ~ n * x^2): quantize x/y
    so x^2 * n stays under 2^63 at the target corpus size.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(x * x).cast("long").alias("sx2"),
        F.sum(y * y).cast("long").alias("sy2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cov_n = d("n") * d("sxy") - d("sx") * d("sy")
    varx_n = d("n") * d("sx2") - d("sx") * d("sx")
    vary_n = d("n") * d("sy2") - d("sy") * d("sy")
    return agg.select(
        group_col,
        "n",
        "sx",
        "sy",
        "sxy",
        "sx2",
        "sy2",
        F.when(
            (varx_n > 0) & (vary_n > 0),
            F.round(cov_n / (F.sqrt(varx_n) * F.sqrt(vary_n)), 6),
        ).alias("corr_r"),
        F.when(varx_n > 0, F.floor(cov_n * F.lit(1000000.0) / varx_n))
        .cast("long")
        .alias("beta_micro"),
    )


def cooccurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Market-basket co-occurrence: support counts for unordered item
    pairs appearing in the same basket (frequent-itemset mining's k=2
    core, and the doc-level co-occurrence behind PMI / association
    features).

    Pair generation is basket-local -- a self equi-join on the basket
    key with ``item1 < item2`` -- so the blow-up is
    ``sum_b C(m_b, 2)``, governed by the BASKET-SIZE distribution, not
    corpus size (fixture max basket = 11 distinct items).

    ``max_basket_size`` is the 100 TB knob (VERDICT r8 #4 -- the same
    guard as ``minhash_candidate_pairs(max_bucket_size=)``): baskets
    with MORE distinct items than the cap are dropped ENTIRELY before
    the self-join, so one pathological basket (retailer catalog order,
    bot cart) cannot contribute C(m, 2) pairs.  Whole-basket drop, not
    truncation: a truncated basket would emit an arbitrary pair subset
    and bias supports; a dropped one is an explicit, auditable exclusion
    (capped == uncapped minus oversized baskets, pytest-pinned).  The
    size count rides the same basket-keyed exchange as the join.

    NULL-item contract (ADVICE r15 #2): NULL items are IGNORED -- they
    never pair (an equi-join on the item column drops them anyway) and,
    since the r15 collect_set rewrite, they no longer count toward
    ``max_basket_size`` either (the pre-r15 Window-count form counted a
    NULL row, so a boundary basket containing one was dropped whole).
    Callers that want NULL to occupy cap budget must map it to a
    sentinel item value first.
    """
    # One basket-keyed aggregation (r15, the graph_reciprocity /
    # minhash_candidate_pairs shape): collect_set dedups within the
    # basket (absorbing the former .distinct() exchange), array_sort
    # fixes the item1 < item2 order, the size() filter keeps the
    # whole-basket-drop cap semantics, and ordered pairs are emitted
    # map-side -- replacing the distinct + width-Window + self-join
    # chain (ABBA on agg_itemset_pairs at sf0.1: 1.606 -> 1.514 s;
    # supports collect-compared equal).
    grouped = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).groupBy("__b").agg(F.array_sort(F.collect_set("__i")).alias("__arr"))
    if max_basket_size is not None:
        grouped = grouped.filter(F.size("__arr") <= max_basket_size)
    big = F.lit(1 << 30)
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("__arr"),
                    lambda x, i: F.transform(
                        F.slice(F.col("__arr"), i + 2, big),
                        lambda y: F.struct(
                            x.alias("item1"), y.alias("item2")
                        ),
                    ),
                )
            )
        ).alias("__p")
    )
    return pairs.select("__p.item1", "__p.item2").groupBy(
        "item1", "item2"
    ).agg(F.count(F.lit(1)).cast("long").alias("support"))
