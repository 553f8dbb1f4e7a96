"""Distinct-count sketching: a deterministic KMV (k-minimum-values) sketch.

Beyond-reference extension (no counterpart in /root/reference).  The
classic KMV/theta-sketch estimator: hash every value to (0,1), keep the k
smallest distinct hashes per group, estimate ``n_distinct ~ (k-1)/h_(k)``
where ``h_(k)`` is the k-th smallest hash.  Unlike HyperLogLog
implementations (whose register layouts differ across engines), KMV over
md5 is ENGINE-PORTABLE: the same hashes, the same k-th minimum, the same
estimate bit-for-bit -- so the DuckDB oracle can verify it exactly.

Scale shape: the (group, hash) distinct is one map-side-combinable
shuffle; ranking the k smallest per group is a window over the surviving
distinct hashes.  At 100 TB the distinct pre-aggregation is the standard
first stage of any sketch rollup; a production variant would fold the
k-min set associatively in a UDAF, but the relational form keeps the
whole plan in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F



def _hash01(col: Column) -> Column:
    """md5 -> uniform fraction in (0,1): first 8 hex chars / 2^32.
    Deterministic and reproducible in DuckDB with the same arithmetic."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(1 << 32))


def _kmv_kept(df: DataFrame, group_col: str, value_col: str, k: int) -> DataFrame:
    """The ``k`` smallest distinct hashes ``__h`` of each group's values."""
    hashed = df.select(
        F.col(group_col), _hash01(F.col(value_col)).alias("__h")
    ).distinct()
    w = Window.partitionBy(group_col).orderBy("__h")
    return hashed.withColumn("__r", F.row_number().over(w)).filter(F.col("__r") <= k)


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group KMV distinct-count estimate.

    Output: ``(group_col, n_exact_kept, kth_min, est_distinct)`` where
    ``est_distinct = (k-1)/kth_min`` when the group has >= k distinct
    values, else the exact distinct count (the sketch is exact below k --
    the standard KMV small-set rule).  Rounded to 4 dp for stable
    cross-engine hashing."""
    return (
        _kmv_kept(df, group_col, value_col, k)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_exact_kept"),
            F.max("__h").alias("kth_min"),
        )
        .select(
            F.col(group_col),
            F.col("n_exact_kept").cast("long").alias("n_exact_kept"),
            F.round(F.col("kth_min"), 10).alias("kth_min"),
            F.round(
                F.when(
                    F.col("n_exact_kept") >= k,
                    (F.lit(k - 1) / F.col("kth_min")),
                ).otherwise(F.col("n_exact_kept").cast("double")),
                4,
            ).alias("est_distinct"),
        )
    )


def kmv_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group KMV sketch STATE: the sorted k smallest distinct hashes as
    an array column -- the mergeable representation (union two states, keep
    the k smallest, estimate as usual)."""
    return (
        _kmv_kept(df, group_col, value_col, k)
        .groupBy(group_col)
        .agg(F.sort_array(F.collect_list("__h")).alias("kmins"))
    )


def kmv_merge_estimate(sketches: DataFrame, k: int = 64) -> DataFrame:
    """Merge per-group sketch states into ONE global estimate.

    EXACTLY equals the sketch built from the raw data: any hash among the
    global k smallest has fewer than k hashes below it globally, hence
    fewer within its own group -- so it survives into that group's state
    and into the merged union.  That closure property is what makes KMV a
    valid partial aggregate: shuffle G*k array entries, never the raw
    values.  The global k-min selection is ``orderBy().limit(k)`` --
    Spark's TakeOrderedAndProject does per-partition top-k then a k-sized
    merge, so NO single partition ever sorts the full input (the input
    here is already <= groups * k rows, but the plan shape stays
    scale-safe and matches ``kmv_set_estimates``)."""
    ex = sketches.select(F.explode("kmins").alias("__h")).distinct()
    top = ex.orderBy("__h").limit(k)
    return top.agg(
        F.count(F.lit(1)).alias("n_exact_kept"), F.max("__h").alias("kth_min")
    ).select(
        F.col("n_exact_kept").cast("long").alias("n_exact_kept"),
        F.round(F.col("kth_min"), 10).alias("kth_min"),
        F.round(
            F.when(
                F.col("n_exact_kept") >= k, F.lit(k - 1) / F.col("kth_min")
            ).otherwise(F.col("n_exact_kept").cast("double")),
            4,
        ).alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch: frequency estimation / heavy hitters
# ---------------------------------------------------------------------------
def _cms_bucket(col: Column, row_seed: int, width: int) -> Column:
    """Row-seeded md5 bucket: first 8 hex chars of md5('seed:value') mod
    width.  Deterministic and reproduced digit-by-digit in DuckDB."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{row_seed}:"), col.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % width
    )


def cms_state(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 64,
    group_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch STATE in relational form: one counter row per
    (row, bucket) [+ group].  Each input record increments ``depth``
    counters; the build is explode(depth) → one map-side-combinable
    groupBy — shuffle rows bounded by depth × width (+ groups), never by
    the data.  Counter addition makes the state trivially mergeable
    (see ``cms_merge``), the partial-aggregate property that lets
    frequency sketches roll up map-side at 100 TB."""
    keys = [group_col] if group_col else []
    probes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("row"),
                    _cms_bucket(F.col(value_col), d, width).alias("bucket"),
                )
                for d in range(depth)
            ]
        )
    ).alias("e")
    # NO spread (r10 measured): the depth-way struct explode is cheap and
    # the agg combines map-side -- spreading cost 1.2-1.4x in task overhead
    # (sf0.1 minibench); see SPREAD_AUDIT_ALLOW.
    ex = df.select(*keys, probes).select(*keys, "e.row", "e.bucket")
    return ex.groupBy(*keys, "row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_merge(states: DataFrame) -> DataFrame:
    """Merge CMS states (drop any grouping column, sum counters) — counter
    addition is exact, so merged-state estimates equal direct-global-state
    estimates bit-for-bit."""
    return states.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    state: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Point-query the sketch: est(key) = min over rows of the key's
    counter (0 for an untouched bucket).  The state is tiny by
    construction (≤ depth × width rows) and is broadcast; the key side
    never shuffles.  Guarantees est >= true count (one-sided error)."""
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"),
                        _cms_bucket(F.col(key_col), d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("e"),
    ).select(key_col, "e.row", "e.bucket")
    return (
        probes.join(F.broadcast(state), ["row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_count"))
    )


def kmv_set_estimates(
    set_a: DataFrame,
    set_b: DataFrame,
    value_col: str,
    k: int = 64,
    prehashed: bool = False,
) -> DataFrame:
    """Theta-sketch-style SET-OPERATION estimates from two KMV states:
    union size, Jaccard, and intersection size of two value sets --
    without ever materializing either set.

    The estimator: take the k smallest distinct hashes of A union B
    (themselves computable from the two k-min STATES -- any hash among
    the union's k smallest has < k union hashes below it, hence < k of
    its own set's hashes below it, so it survives in that set's state:
    the same closure that makes KMV a valid partial aggregate).  Then
    ``J = |{union k-mins present in both states}| / k`` and
    ``|A n B| = J * |A u B|``.  Deterministic md5 hashing makes every
    number bit-reproducible by an external engine, so the gate verifies
    the ESTIMATES exactly, not just shapes.

    Output: one row -- (n_a_kept, n_b_kept, n_union_kept, union_kth,
    est_union, n_both, jaccard_est, est_intersection)."""
    # prehashed=True: value_col already holds the (0,1) md5 fractions --
    # the streaming path merges per-batch k-min STATES and estimates from
    # them (the closure makes the merged states equal the direct sketch).
    hv = (
        (lambda c: c.cast("double")) if prehashed else (lambda c: _hash01(c))
    )
    ha = set_a.select(hv(F.col(value_col)).alias("__h")).distinct()
    hb = set_b.select(hv(F.col(value_col)).alias("__h")).distinct()

    def kmins(h: DataFrame) -> DataFrame:
        # orderBy + limit compiles to TakeOrderedAndProject: each
        # partition keeps its own k smallest, then a k-sized merge --
        # the DATA-SIZED distinct hash set is never funneled through one
        # task (the old unpartitioned Window.orderBy ranking did exactly
        # that: a serial sort of every distinct hash, OOM-shaped at
        # 100 TB).  The k-min RESULT is identical: global k smallest.
        return h.orderBy("__h").limit(k)

    ka = kmins(ha).select(F.col("__h").alias("__ha"))
    kb = kmins(hb).select(F.col("__h").alias("__hb"))
    ku = kmins(ka.select(F.col("__ha").alias("__h")).union(
        kb.select(F.col("__hb").alias("__h"))
    ).distinct())
    both = (
        ku.join(F.broadcast(ka), F.col("__h") == F.col("__ha"), "left")
        .join(F.broadcast(kb), F.col("__h") == F.col("__hb"), "left")
        .select(
            "__h",
            (F.col("__ha").isNotNull() & F.col("__hb").isNotNull())
            .cast("long")
            .alias("__in_both"),
        )
    )
    agg = (
        both.agg(
            F.count(F.lit(1)).alias("n_union_kept"),
            F.max("__h").alias("union_kth"),
            F.sum("__in_both").alias("n_both"),
        )
        # sketch sizes ride the same DAG as single-row broadcasts (an
        # eager .count() here would re-execute each sketch's upstream)
        .crossJoin(F.broadcast(ka.agg(F.count(F.lit(1)).alias("__na"))))
        .crossJoin(F.broadcast(kb.agg(F.count(F.lit(1)).alias("__nb"))))
    )
    est_union = F.when(
        F.col("n_union_kept") >= k, F.lit(k - 1) / F.col("union_kth")
    ).otherwise(F.col("n_union_kept").cast("double"))
    jacc = F.col("n_both").cast("double") / F.col("n_union_kept").cast("double")
    return agg.select(
        F.col("__na").cast("long").alias("n_a_kept"),
        F.col("__nb").cast("long").alias("n_b_kept"),
        F.col("n_union_kept").cast("long").alias("n_union_kept"),
        F.round(F.col("union_kth"), 10).alias("union_kth"),
        F.round(est_union, 4).alias("est_union"),
        F.col("n_both").cast("long").alias("n_both"),
        F.round(jacc, 4).alias("jaccard_est"),
        F.round(jacc * est_union, 4).alias("est_intersection"),
    )


def bitmap_state(
    df: DataFrame, group_col: str | None, id_col: str
) -> DataFrame:
    """EXACT distinct-count state as 63-bit bitmap words -- the
    roaring-bitmap idea (Chambi 2016, public) in relational form: id ->
    (word = id div 63, bit = id mod 63), one row per (group, word) with
    the OR of the member bits.

    Unlike KMV/HLL this is exact, and unlike COUNT(DISTINCT) the state
    is MERGEABLE: bitwise OR is commutative/associative/idempotent, so
    per-batch / per-partition / per-day states combine without ever
    re-reading data -- and replayed ids are absorbed for free
    (idempotence = at-least-once tolerance).  State size is
    dense-bounded by id-range/63 words per group, the right trade when
    ids are dense (user ids, doc ids); sparse id spaces want KMV/HLL
    (operators above).

    63-bit words, not 64: DuckDB raises on 1::BIGINT << 63 (overflow)
    while Spark wraps negative -- bits 0..62 keep every mask positive
    and portable.  ``id_col`` must be non-negative.

    ``group_col=None`` builds ONE set's state keyed on the word alone --
    the form ``bitmap_set_ops`` wants, so both input states arrive
    already hash-partitioned on the join key and the word-aligned set
    algebra adds no exchange of its own.
    """
    wrd = F.expr(f"{id_col} div 63").cast("long")
    # expr form: the DataFrame-API shiftleft only takes a literal bit
    # count; the SQL function accepts a column.
    msk = F.expr(f"shiftleft(1L, cast({id_col} % 63 as int))")
    if group_col is None:
        return (
            df.select(wrd.alias("wrd"), msk.alias("msk"))
            .groupBy("wrd")
            .agg(F.bit_or("msk").alias("bits"))
        )
    return (
        df.select(F.col(group_col), wrd.alias("wrd"), msk.alias("msk"))
        .groupBy(group_col, "wrd")
        .agg(F.bit_or("msk").alias("bits"))
    )


def bitmap_counts(state: DataFrame, group_col: str) -> DataFrame:
    """Finalize bitmap states: popcount each word, sum per group.
    Returns (group, n_words, n_distinct) -- n_distinct is EXACT."""
    return state.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.bit_count("bits")).cast("long").alias("n_distinct"),
    )


def bitmap_set_ops(a_state: DataFrame, b_state: DataFrame) -> DataFrame:
    """EXACT set algebra on two bitmap states (each ``(wrd, bits)``,
    already reduced to one row per word): intersection, union and both
    differences computed by WORD-ALIGNED bitwise AND/OR on the bounded
    word relations -- never by joining or even materializing the
    underlying member sets.  The exact counterpart of the KMV theta
    route (``kmv_set_estimates``): use bitmaps when ids are dense and
    exactness is required, KMV when the id space is sparse/huge.

    Scale shape: a full-outer equi-join of two word relations (each
    bounded by id-range/63 rows -- state-sized, not data-sized) followed
    by a single-row popcount rollup.  At 100 TB the two input states are
    each the product of one combinable map-side OR over their corpus;
    the set algebra itself touches only the states.

    Returns one row: ``n_a, n_b, n_and, n_or, n_a_only, n_b_only``
    (exact longs) and ``jaccard_ppm`` (integer parts-per-million).
    Empty inputs: all counts come back 0 (not NULL -- the sums are
    coalesced so two empty states produce an all-zero row) and
    ``jaccard_ppm`` is NULL (0/0 has no defined Jaccard).
    """
    a = a_state.select("wrd", F.col("bits").alias("ba"))
    b = b_state.select("wrd", F.col("bits").alias("bb"))
    j = a.join(b, "wrd", "full_outer").select(
        F.coalesce("ba", F.lit(0)).alias("ba"),
        F.coalesce("bb", F.lit(0)).alias("bb"),
    )
    agg = j.agg(
        F.coalesce(F.sum(F.bit_count("ba")), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum(F.bit_count("bb")), F.lit(0)).cast("long").alias("n_b"),
        F.coalesce(F.sum(F.bit_count(F.expr("ba & bb"))), F.lit(0))
        .cast("long")
        .alias("n_and"),
        F.coalesce(F.sum(F.bit_count(F.expr("ba | bb"))), F.lit(0))
        .cast("long")
        .alias("n_or"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_and",
        "n_or",
        (F.col("n_a") - F.col("n_and")).cast("long").alias("n_a_only"),
        (F.col("n_b") - F.col("n_and")).cast("long").alias("n_b_only"),
        F.when(
            F.col("n_or") > 0, F.expr("n_and * 1000000 div n_or")
        )
        .cast("long")
        .alias("jaccard_ppm"),
    )


def hll_registers(df: DataFrame, group_col: str, id_col: str) -> DataFrame:
    """HyperLogLog register relation (Flajolet et al. 2007, public): m=64
    registers per group, each holding the MAX leading-zero rank seen in
    its hash bucket.  Deterministic + cross-engine exact: the hash is the
    15-hex (60-bit) md5 prefix of ``'hll|' || id``; bucket j = the top 6
    bits, payload w = the low 54 bits, and rho(w) = leading zeros of w
    within its 54-bit field + 1 -- computed WITHOUT log2 (whose libm
    rounding differs at powers of two) as ``55 - length(bin(w))``, since
    both engines' ``bin()`` prints the minimal binary string.  Register
    max is a JOIN-SEMILATTICE: per-partition / per-micro-batch registers
    merge by MAX into exactly the whole-data registers, and a replayed
    row is absorbed (idempotent) -- the classic mergeable cardinality
    summary, constant state (groups x m rows) regardless of id universe.

    Scale shape: one map-side hash + ONE (group, j) aggregation;
    downstream sees <= m rows per group, never the data."""
    m_low = 1 << 54
    rho_full = 55
    h = F.expr(
        f"cast(conv(substring(md5(concat('hll|', cast({id_col} as"
        f" string))), 1, 15), 16, 10) as bigint)"
    )
    return (
        df.select(F.col(group_col), h.alias("__h"))
        .select(
            F.col(group_col),
            (F.col("__h") % F.lit(m_low)).alias("__w"),
            # integer division (`div`), NOT `/`: Spark `/` is IEEE double
            # division, and a 60-bit h is not exactly representable as a
            # double -- for h within ~64 of a multiple of 2^54 the
            # truncated quotient lands in the WRONG bucket (h=37*2^54-32
            # -> 37 via double divide, 36 via integer divide).  The
            # DuckDB oracle uses exact `//`; mirror it (ADVICE r14).
            F.expr(f"__h div {m_low}").cast("long").alias("j"),
        )
        .select(
            group_col,
            "j",
            F.expr(
                f"case when __w = 0 then {rho_full}"
                f" else {rho_full} - length(bin(__w)) end"
            ).alias("rho"),
        )
        .groupBy(group_col, "j")
        .agg(F.max("rho").cast("long").alias("m_r"))
    )


def hll_estimate(registers: DataFrame, group_col: str) -> DataFrame:
    """HLL cardinality estimate from ``hll_registers``' (group, j, m_r)
    relation, m=64.

    Integer-held harmonic mean: the indicator sum 2^(-M_j) is rescaled by
    the FIXED payload field width 2^55 (rho <= 55 always), so
    S2 = sum(2^(55 - M_j)) + V * 2^55 stays exact int64 (< 2^62)
    WITHOUT a per-group rmax window -- the whole estimate is ONE
    aggregation.  The only floating step is the final
    alpha*m^2*2^55 / S2 division, written in the identical operation
    order on both engines, with alpha_64 * m^2 frozen to the single
    literal 2905.460551022604.  The standard small-range LINEAR
    COUNTING correction applies when raw <= 2.5m and empty registers
    remain: m * ln(m/V), micro-nat frozen (the one transcendental,
    per-group, flip risk ~1e-10)."""
    agg = registers.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_registers_set"),
        (F.lit(64) - F.count(F.lit(1))).cast("long").alias("v_zeros"),
        F.max("m_r").cast("long").alias("rmax"),
        F.sum(F.expr("shiftleft(1L, cast(55 - m_r as int))"))
        .cast("long")
        .alias("s2_set"),
    )
    return agg.select(
        group_col,
        "n_registers_set",
        "v_zeros",
        "rmax",
        F.expr("s2_set + v_zeros * shiftleft(1L, 55)").alias("s2"),
    ).select(
        group_col,
        "n_registers_set",
        "v_zeros",
        "rmax",
        "s2",
        F.expr(
            "cast(round(2905.460551022604"
            " * cast(shiftleft(1L, 55) as double)"
            " / cast(s2 as double) * 1000000.0, 0) as bigint)"
        ).alias("raw_micro"),
        F.expr(
            "case when v_zeros > 0 then cast(round(64.0"
            " * ln(64.0 / cast(v_zeros as double)) * 1000000.0, 0)"
            " as bigint) end"
        ).alias("lc_micro"),
    ).select(
        group_col,
        "n_registers_set",
        "v_zeros",
        "rmax",
        "s2",
        "raw_micro",
        F.expr(
            "case when raw_micro <= 160000000 and v_zeros > 0"
            " then 'lc' else 'raw' end"
        ).alias("method"),
        F.expr(
            "case when raw_micro <= 160000000 and v_zeros > 0"
            " then lc_micro else raw_micro end"
        ).alias("est_micro"),
    )


def f2_sketch_state(
    df: DataFrame,
    group_col: str,
    id_col: str,
    b: int = 64,
    seed: str = "f2",
) -> DataFrame:
    """AMS F2 (second frequency moment / self-join size) sketch state
    (Alon-Matias-Szegedy 1996, public): ``b`` independent signed sums
    per group, X_r = sum over rows of s_r(id) with signs in {-1,+1} --
    E[X_r^2] = F2 = sum_v f_v^2 exactly.  All-integer and ADDITIVE:
    per-partition / per-micro-batch states merge by plain sum (abelian
    group, the counts/moments algebra), so the sketch streams.

    Signs come from md5 HEX-DIGIT PARITIES: replica r reads digit
    (r mod 32) of md5(seed|r//32|id), so 64 replicas cost TWO md5
    calls per row (each digest funds 32 sign bits), not 64.

    Optimization r15 (guide §1.2 "per-task work"): the parities used to
    be extracted with 64 per-replica ``substring``+``conv`` STRING ops
    per row; each digest's 32 digits are now parsed ONCE into three
    staged int64 chunks (15+15+2 hex digits -- 15 digits = 60 bits keeps
    ``conv`` inside signed int64) and each replica's sign is a pure
    integer ``shiftright``+``&1`` on its chunk.  Bit-for-bit identical
    (parity of hex digit p == bit 4*(chunk_digits-p) of the chunk;
    equivalence exhaustively checked over 64k digit positions), same
    DuckDB oracle, measured ~1.5x on the sketch agg at sf0.1.  The
    chunks are staged in ONE projection so codegen subexpression
    elimination computes each md5 once per row.  Shape unchanged: the b
    replicas are b aggregate EXPRESSIONS over one pass, ONE group
    aggregation with map-side combine, never a b-fold explode.  Output:
    one row per group, columns x_0..x_{b-1}."""
    chunks = []
    for g in range((b + 31) // 32):
        m = f"md5(concat('{seed}|{g}|', cast({id_col} as string)))"
        for j, (start, length) in enumerate(((1, 15), (16, 15), (31, 2))):
            chunks.append(
                F.expr(
                    f"cast(conv(substring({m}, {start}, {length}), 16, 10)"
                    " as bigint)"
                ).alias(f"__c{g}_{j}")
            )
    staged = df.select(F.col(group_col), *chunks)
    sums = []
    for r in range(b):
        g, pos = r // 32, r % 32 + 1
        if pos <= 15:
            c, s = f"__c{g}_0", 4 * (15 - pos)
        elif pos <= 30:
            c, s = f"__c{g}_1", 4 * (30 - pos)
        else:
            c, s = f"__c{g}_2", 4 * (32 - pos)
        sums.append(
            F.sum(F.expr(f"1 - 2 * (shiftright({c}, {s}) & 1)"))
            .cast("long")
            .alias(f"x_{r}")
        )
    return staged.groupBy(group_col).agg(*sums)


def f2_estimate(state: DataFrame, group_col: str, b: int = 64) -> DataFrame:
    """AMS F2 estimate from a merged state row: the mean of the b
    replica squares, held entirely in int64 (sum of squares div b).
    Standard error of the mean is sqrt(2/b) * F2, so the acceptance
    gate in the query layer uses 3 sigma = 530,330 ppm at b=64."""
    sq = " + ".join(f"x_{r} * x_{r}" for r in range(b))
    return state.select(
        group_col,
        F.expr(f"({sq}) div {b}").alias("est_f2"),
    )
