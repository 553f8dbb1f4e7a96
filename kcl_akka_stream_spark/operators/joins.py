"""Joins (SURVEY §2.6).

Absent in the reference (its only set-combinations are merges + test-set
algebra) but required by the fixture star schema and any real consumer of the
stream.  Everything below is Spark built-ins with explicit scale posture:

- small dims (region, nation, any sub-64MB side) are broadcast -- no shuffle;
- fact-fact joins shuffle on the join key; AQE handles skew;
- range joins bucketize the range key first so Catalyst gets an equi-join on
  the bucket instead of a broadcast-nested-loop over the full cross product;
- as-of joins are a union + window (no Python, no per-key pandas) -- the
  classic scalable formulation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F



def equi_join(left: DataFrame, right: DataFrame, on, how: str = "inner", *, broadcast_right: bool = False) -> DataFrame:
    right_side = F.broadcast(right) if broadcast_right else right
    return left.join(right_side, on, how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_anti")


def range_join_bucketed(
    facts: DataFrame,
    buckets: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Range join fact.value in [bucket.lo, bucket.hi) via bucketization.

    Each fact row maps to one coarse bucket id; the bucket dim explodes each
    [lo, hi) interval into the coarse ids it overlaps.  The join is then an
    equi-join on the coarse id + residual filter -- broadcastable when the dim
    is small and shuffle-hash otherwise, never a nested loop.
    """
    coarse = F.floor(F.col(value_col) / F.lit(bucket_width))
    exploded = buckets.withColumn(
        "__coarse",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bucket_width)),
                F.floor((F.col(hi_col) - F.lit(1e-9)) / F.lit(bucket_width)),
            )
        ),
    )
    joined = facts.withColumn("__coarse", coarse).join(
        F.broadcast(exploded), on="__coarse", how="inner"
    )
    return joined.filter((F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))).drop("__coarse")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    right_value_cols: list[str],
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right_ts <= left_ts for the same key.

    Union-and-window formulation: tag both sides, sort per key by time, carry
    the last seen right value forward with ``last(..., ignorenulls)``.  One
    shuffle on the key, no Python -- scales to arbitrarily large sides (vs a
    per-key merge_asof in pandas which would OOM a hot key).
    """
    # Right rows sort before left rows at equal timestamps => "<=" semantics.
    return _asof(
        left, right, key_col, left_ts, right_ts, right_value_cols, F.col("__t")
    )


def _asof(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    right_value_cols: list[str],
    t_order: Column,
) -> DataFrame:
    """Both sides tagged and unioned; per key in ``t_order`` (then right
    rows before left ones) each left row carries the last right value of
    the running frame."""
    lcols = [c for c in left.columns]
    tagged_left = left.select(
        F.col(key_col).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*lcols).alias("__l"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_value_cols],
    )
    tagged_right = right.select(
        F.col(key_col).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(tagged_left.schema["__l"].dataType).alias("__l"),
        *[F.col(c).alias(f"__r_{c}") for c in right_value_cols],
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(t_order, F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    unioned = tagged_left.unionByName(tagged_right)
    carried = unioned.select(
        "__is_left",
        "__l",
        *[F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__r_{c}") for c in right_value_cols],
    )
    return carried.filter(F.col("__is_left") == 1).select(
        "__l.*", *[F.col(f"__r_{c}").alias(c) for c in right_value_cols]
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    right_value_cols: list[str],
) -> DataFrame:
    """Forward as-of join: for each left row, the EARLIEST right row with
    right_ts >= left_ts for the same key -- the "next event after"
    lookup (next price tick, next maintenance window, time-to-next-X),
    the mirror of ``asof_join``'s lookback.

    Same union-and-window formulation and scale shape (one key shuffle,
    no Python): both sides tagged, sorted per key by time with LEFT
    rows before RIGHT at equal timestamps (so an equal-ts right row is
    inside the following frame => ">=" semantics), and the next right
    value pulled back as ``last(..., ignorenulls)`` over the REVERSED
    sort's running frame -- semantically identical to ``first`` over an
    unbounded-FOLLOWING frame, but Spark re-aggregates the remaining
    frame per row for UNBOUNDED FOLLOWING (O(n^2) per key partition;
    the agg_quantile_normalize finding in SCALE_PROBE.md measured 12.0s
    vs 0.35s at sf0.1) while the reversed running frame rides the
    streaming-frame fast path.  Deduplicate right per (key, ts) upstream
    if multiple right rows can share a timestamp -- which of them wins
    is otherwise tie-ambiguous in any engine.
    """
    # Left rows sort before right rows at equal timestamps => ">=" semantics.
    # first() over (asc, [0, unboundedFollowing]) == last() over the
    # REVERSED sort's [unboundedPreceding, 0] running frame; only the
    # latter is linear in Spark (see docstring).
    return _asof(
        left,
        right,
        key_col,
        left_ts,
        right_ts,
        right_value_cols,
        F.col("__t").desc(),
    )


def cogrouped_interval_counts(
    events: DataFrame,
    intervals: DataFrame,
    event_key: str,
    interval_key: str,
    event_ts: str,
    interval_ts: str,
    interval_id: str,
) -> DataFrame:
    """Per-key event counts inside consecutive-interval windows, via the
    COGROUP Arrow seam: each ``intervals`` row of a key owns the window
    [its ts, next interval ts of the same key), the last owns an open
    tail; emit how many of that key's events fall inside each window.

    The one API surface the operator library had not yet exercised:
    ``groupBy().cogroup().applyInPandas`` aligns TWO tables per key in
    one shuffle each, handing both sides to a vectorized kernel --
    the shape for per-key sequence alignment where a join would
    materialize the cross product first.  Inside the kernel the counts
    are O((n+m) log n) via searchsorted, not a nested loop.  Keys with
    no intervals emit nothing (the events match no window); keys with
    no events emit zero counts; ties on the interval timestamp are
    broken by ``interval_id``, giving the earlier duplicate an empty
    [t, t) window -- the same deterministic convention a SQL
    lead()-window oracle produces.
    """
    import numpy as np
    import pandas as pd

    out_schema = (
        f"{interval_key} long, {interval_id} long, n_events long"
    )

    def count_per_key(l_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        if r_pdf.empty:
            return pd.DataFrame(
                {interval_key: [], interval_id: [], "n_events": []}
            )
        r = r_pdf.sort_values([interval_ts, interval_id]).reset_index(drop=True)
        ts = np.sort(l_pdf[event_ts].to_numpy()) if not l_pdf.empty else np.array(
            [], dtype="datetime64[ns]"
        )
        starts = r[interval_ts].to_numpy()
        lo = np.searchsorted(ts, starts, side="left")
        hi = np.empty_like(lo)
        hi[:-1] = np.searchsorted(ts, starts[1:], side="left")
        hi[-1] = len(ts)
        return pd.DataFrame(
            {
                interval_key: r[interval_key].astype("int64"),
                interval_id: r[interval_id].astype("int64"),
                "n_events": (hi - lo).astype("int64"),
            }
        )

    return (
        events.groupBy(event_key)
        .cogroup(intervals.groupBy(interval_key))
        .applyInPandas(count_per_key, schema=out_schema)
    )


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    a_id: str = "a_id",
    a_start: str = "a_start",
    a_end: str = "a_end",
    b_id: str = "b_id",
    b_start: str = "b_start",
    b_end: str = "b_end",
    grain_days: int = 7,
) -> DataFrame:
    """Interval-overlap join without a cartesian product: the
    incident-windows x request-windows / promo x session shape that a
    naive ``a.s <= b.e AND b.s <= a.e`` theta-join turns into an
    all-pairs scan at 100 TB.

    The bucketing trick (the time twin of ``range_join_bucketed``):
    explode each interval into the coarse ``grain_days`` buckets it
    covers, EQUI-join on the bucket (hash-partitionable, prunable), then
    re-check the exact overlap predicate and dedupe pairs that co-occur
    in several buckets.  Join volume is bounded by intervals-per-bucket
    fan-out, never |A| x |B|; pick the grain near the typical interval
    length so each interval explodes to O(1) buckets.

    Inputs carry (id, start, end) columns under the given names; output
    is one row per overlapping pair: (a_id, b_id, overlap_days) with
    overlap_days = days in the closed intersection (>= 1).
    """
    epoch = F.lit("1970-01-01").cast("date")

    def bucketed(d: DataFrame, i: str, s: str, e: str) -> DataFrame:
        lo = F.floor(F.datediff(F.col(s), epoch) / grain_days).cast("long")
        hi = F.floor(F.datediff(F.col(e), epoch) / grain_days).cast("long")
        # NO spread (r10 measured): interval inputs are pre-filtered small
        # relations and the O(1)-bucket explode is cheap -- spreading both
        # sides cost 1.4x (sf0.1 minibench); see SPREAD_AUDIT_ALLOW.
        return d.select(
            F.col(i), F.col(s), F.col(e),
            F.explode(F.sequence(lo, hi)).alias("__bucket"),
        )

    ab = bucketed(a, a_id, a_start, a_end)
    bb = bucketed(b, b_id, b_start, b_end).withColumnRenamed(
        "__bucket", "__bucket_b"
    )
    joined = ab.join(bb, F.col("__bucket") == F.col("__bucket_b")).filter(
        (F.col(a_start) <= F.col(b_end)) & (F.col(b_start) <= F.col(a_end))
    )
    return (
        joined.select(
            a_id,
            b_id,
            (
                F.datediff(
                    F.least(F.col(a_end), F.col(b_end)),
                    F.greatest(F.col(a_start), F.col(b_start)),
                )
                + 1
            )
            .cast("long")
            .alias("overlap_days"),
        )
        .distinct()
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    right_value_cols: list[str],
) -> DataFrame:
    """Nearest as-of join: for each left row, the right row minimizing
    ``|right_ts - left_ts|`` within the key -- the "closest reading"
    lookup (sensor alignment, nearest quote).  Equidistant before/after
    candidates resolve to the EARLIER (backward) match, pandas
    ``merge_asof(direction='nearest')`` semantics.

    Both directions are read from ONE union + ONE exchange (key, ts,
    right-before-left at equal ts): the backward candidate is
    ``last(..., ignorenulls)`` over the ascending running frame
    (equal-ts right rows visible => "<=" lookback); the forward
    candidate is the SAME running-``last`` shape over the REVERSED sort
    (== ``first`` over an unbounded-FOLLOWING frame, which Spark
    re-aggregates per row -- O(n^2) per key partition, the
    agg_quantile_normalize finding; the reversed running frame rides
    the streaming-frame fast path).  Equal-ts right rows sort BEFORE
    the left row ascending, so the forward frame is strictly after --
    harmless, because an equal-ts backward match has distance 0 and
    wins the tie by rule.  Spark plans the two sort orders inside one
    hash partitioning: one shuffle total plus a local re-sort, no
    Python.

    Appends ``asof_dist_us`` (microsecond distance to the chosen match,
    NULL when the key has no right rows).  Deduplicate right per
    (key, ts) upstream so which same-timestamp row wins is not
    tie-ambiguous.
    """
    lcols = list(left.columns)
    rcols = list(right_value_cols)
    tagged_left = left.select(
        F.col(key_col).alias("__k"),
        F.unix_micros(F.col(left_ts)).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*lcols).alias("__l"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
            for c in rcols
        ],
    )
    tagged_right = right.select(
        F.col(key_col).alias("__k"),
        F.unix_micros(F.col(right_ts)).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(tagged_left.schema["__l"].dataType).alias("__l"),
        *[F.col(c).alias(f"__r_{c}") for c in rcols],
    )
    wb = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t"), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # forward direction: running last over the exact REVERSE sort of wb
    # (linear streaming frame) instead of first over [0, FOLLOWING]
    # (quadratic re-aggregation per row)
    wf = (
        Window.partitionBy("__k")
        .orderBy(F.col("__t").desc(), F.col("__is_left").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    unioned = tagged_left.unionByName(tagged_right)
    both = unioned.select(
        "__is_left",
        "__l",
        "__t",
        F.last(
            F.when(F.col("__is_left") == 0, F.col("__t")), ignorenulls=True
        )
        .over(wb)
        .alias("__pt"),
        F.last(
            F.when(F.col("__is_left") == 0, F.col("__t")), ignorenulls=True
        )
        .over(wf)
        .alias("__nt"),
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(wb).alias(f"__p_{c}")
            for c in rcols
        ],
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(wf).alias(f"__n_{c}")
            for c in rcols
        ],
    )
    db = F.col("__t") - F.col("__pt")
    df_ = F.col("__nt") - F.col("__t")
    take_prev = F.col("__pt").isNotNull() & (
        F.col("__nt").isNull() | (db <= df_)
    )
    return both.filter(F.col("__is_left") == 1).select(
        "__l.*",
        *[
            F.when(take_prev, F.col(f"__p_{c}"))
            .otherwise(F.col(f"__n_{c}"))
            .alias(c)
            for c in rcols
        ],
        F.when(take_prev, db)
        .otherwise(df_)
        .cast("long")
        .alias("asof_dist_us"),
    )
