"""Core relational query surface (SURVEY §2.2, §2.4-§2.8).

Each query exercises one row of the operator inventory on the fixture star
schema, with a DuckDB oracle.

Money convention: the fixture's money/value columns carry exactly 2 decimal
digits, so aggregation converts to *integer cents* (floor(x*100+0.5) as
BIGINT -- exact for 2-dp doubles), sums integers (order-independent, no
floating-point drift between engines), and divides once at the end.  Spark
and the oracle share the identical expression shape, making the hash
comparison exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kcl_akka_stream_spark.operators import joins as J
from kcl_akka_stream_spark.operators import windows as W
from kcl_akka_stream_spark.operators.aggregations import counts, shard_stats
from kcl_akka_stream_spark.operators.merges import merge
from kcl_akka_stream_spark.plans.hygiene import spread
from kcl_akka_stream_spark.queries.registry import query, tbl


def _cents(col: Column) -> Column:
    """Exact integer cents of a 2-decimal-digit money column."""
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


def _sum_money(col: Column) -> Column:
    """Order-independent exact money sum, as double dollars."""
    return F.sum(_cents(col)).cast("double") / F.lit(100.0)


#: SQL fragments of the same convention.
def _sql_cents(x: str) -> str:
    return f"CAST(floor({x} * 100 + 0.5) AS BIGINT)"


def _sql_sum_money(x: str) -> str:
    return f"CAST(sum({_sql_cents(x)}) AS DOUBLE) / 100.0"


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (scan -> filter -> hash agg).
# Catalyst pushes the shipdate filter and column pruning into the parquet
# scan; aggregation is partial/final hash-agg -- the canonical 100 TB shape.
# ---------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    f"""
    WITH li AS (
      SELECT l_returnflag, l_linestatus,
             {_sql_cents('l_quantity')} AS q_c,
             {_sql_cents('l_extendedprice')} AS e_c,
             {_sql_cents('l_discount')} AS d_c,
             {_sql_cents('l_tax')} AS t_c
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
    SELECT l_returnflag, l_linestatus,
           CAST(sum(q_c) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(sum(e_c) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(sum(e_c * (100 - d_c)) AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(sum(e_c * (100 - d_c) * (100 + t_c)) AS DOUBLE) / 1000000.0 AS sum_charge,
           CAST(sum(q_c) AS DOUBLE) / 100.0 / count(*) AS avg_qty,
           CAST(sum(d_c) AS DOUBLE) / 100.0 / count(*) AS avg_disc,
           count(*) AS count_order
    FROM li GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    q_c = _cents(F.col("l_quantity"))
    e_c = _cents(F.col("l_extendedprice"))
    d_c = _cents(F.col("l_discount"))
    t_c = _cents(F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(q_c).cast("double") / F.lit(100.0)).alias("sum_qty"),
            (F.sum(e_c).cast("double") / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(e_c * (100 - d_c)).cast("double") / F.lit(10000.0)).alias("sum_disc_price"),
            (F.sum(e_c * (100 - d_c) * (100 + t_c)).cast("double") / F.lit(1000000.0)).alias("sum_charge"),
            (F.sum(q_c).cast("double") / F.lit(100.0) / n).alias("avg_qty"),
            (F.sum(d_c).cast("double") / F.lit(100.0) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.5)
# ---------------------------------------------------------------------------
@query(
    "agg_counts",
    "SELECT count(*) AS n_records, count(DISTINCT user_id) AS n_keys FROM events",
)
def agg_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A4 -- size / keyset-size (IT/KinesisSourceTest.scala:86,154-159).
    return counts(tbl(spark, sf_dir, "events"), "user_id").drop("approx_n_keys")


@query(
    "agg_shard_stats",
    """
    SELECT user_id AS shard, count(*) AS n_events,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS n_matching
    FROM events GROUP BY user_id
    """,
)
def agg_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A5 -- per-shard stats counters (IT/Inspectable.scala:95-106).
    ev = tbl(spark, sf_dir, "events").withColumnRenamed("user_id", "shard")
    return shard_stats(ev, "shard", "event_type", "error")


@query(
    "agg_group_by_key",
    """
    SELECT user_id AS key, string_agg(event_type, ',' ORDER BY event_id) AS msgs
    FROM events GROUP BY user_id
    """,
)
def agg_group_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A1 -- order/duplicate-preserving groupByKey (IT/MessageUtil.scala:15-22)
    # rendered as a string so the hash is order-sensitive per key.
    ev = tbl(spark, sf_dir, "events")
    return ev.groupBy(F.col("user_id").alias("key")).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("event_id").alias("o"), F.col("event_type").alias("v")))
                ),
                lambda s: s.getField("v"),
            ),
            ",",
        ).alias("msgs")
    )


@query(
    "agg_dedup_group_by_key",
    """
    SELECT user_id AS key, string_agg(event_type, ',' ORDER BY first_o) AS msgs
    FROM (SELECT user_id, event_type, min(event_id) AS first_o
          FROM events GROUP BY user_id, event_type)
    GROUP BY user_id
    """,
)
def agg_dedup_group_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A2 -- dedupAndGroupByKey, relational form (IT/MessageUtil.scala:9-13).
    ev = tbl(spark, sf_dir, "events")
    first = ev.groupBy("user_id", "event_type").agg(F.min("event_id").alias("first_o"))
    return first.groupBy(F.col("user_id").alias("key")).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("first_o").alias("o"), F.col("event_type").alias("v")))
                ),
                lambda s: s.getField("v"),
            ),
            ",",
        ).alias("msgs")
    )


@query(
    "agg_rollup",
    f"""
    SELECT coalesce(l_returnflag, '<all>') AS returnflag,
           coalesce(l_linestatus, '<all>') AS linestatus,
           count(*) AS n, {_sql_sum_money('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), _sum_money(F.col("l_quantity")).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


@query(
    "agg_cube",
    f"""
    SELECT coalesce(o_orderstatus, '<all>') AS status,
           coalesce(o_orderpriority, '<all>') AS priority,
           count(*) AS n, {_sql_sum_money('o_totalprice')} AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tbl(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), _sum_money(F.col("o_totalprice")).alias("sum_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "n",
            "sum_price",
        )
    )


# ---------------------------------------------------------------------------
# Projections / filters / flatten (SURVEY §2.2)
# ---------------------------------------------------------------------------
@query(
    "p3_filter_bootstrap",
    """
    SELECT key, count(*) AS n FROM (
      SELECT CASE WHEN user_id % 5 = 0 THEN 'bootstrap_' ELSE 'key_' END
             || CAST(user_id AS VARCHAR) AS key
      FROM events)
    WHERE key NOT LIKE 'bootstrap%' GROUP BY key
    """,
)
def p3_filter_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P3 -- filterBootstrapMessages (IT/KinesisTestComponents.scala:105-113).
    from kcl_akka_stream_spark.operators.projections import filter_bootstrap

    ev = tbl(spark, sf_dir, "events").select(
        F.concat(
            F.when(F.col("user_id") % 5 == 0, F.lit("bootstrap_")).otherwise(F.lit("key_")),
            F.col("user_id").cast("string"),
        ).alias("key")
    )
    return filter_bootstrap(ev, "key").groupBy("key").agg(F.count(F.lit(1)).alias("n"))


@query(
    "p4_flatten_tokens",
    """
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def p4_flatten_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P4 -- mapConcat/flatten (KinesisSource.scala:191) as explode.
    from kcl_akka_stream_spark.operators.projections import flatten
    from kcl_akka_stream_spark.operators.text import tokens

    docs = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toklist"))
    return flatten(toks, "toklist", "token")


@query(
    "p5_grouped_batches",
    """
    SELECT event_id // 10 AS batch_id, count(*) AS batch_size,
           min(event_id) AS first_seq, max(event_id) AS last_seq
    FROM events GROUP BY 1
    """,
)
def p5_grouped_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P5 -- grouped(n) fixed-size batching (README.md:43).
    from kcl_akka_stream_spark.operators.projections import grouped

    ev = grouped(tbl(spark, sf_dir, "events"), 10, "event_id")
    return ev.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("batch_size"),
        F.min("event_id").alias("first_seq"),
        F.max("event_id").alias("last_seq"),
    )


# ---------------------------------------------------------------------------
# Scalar function families (SURVEY §2.8)
# ---------------------------------------------------------------------------
@query(
    "scalar_string_funcs",
    """
    SELECT c_custkey,
           upper(c_name) AS uname,
           substr(c_name, 1, 8) AS prefix,
           CAST(length(c_name) AS BIGINT) AS name_len,
           c_name LIKE 'Customer%' AS is_customer,
           'cust_' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') AS padded
    FROM customer
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tbl(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.col("c_name").startswith("Customer").alias("is_customer"),
        F.concat(F.lit("cust_"), F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0")).alias("padded"),
    )


@query(
    "scalar_datetime",
    f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           count(*) AS n, {_sql_sum_money('o_totalprice')} AS sum_price
    FROM orders
    WHERE date_part('year', o_orderdate) >= 1993
    GROUP BY 1
    """,
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tbl(spark, sf_dir, "orders")
    return (
        o.filter(F.year("o_orderdate") >= 1993)
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(F.count(F.lit(1)).alias("n"), _sum_money(F.col("o_totalprice")).alias("sum_price"))
    )


@query(
    "scalar_json",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.8 json family -- payload decode via get_json_object (SURVEY §1.3:
    # payload schema applied at decode time).
    ev = tbl(spark, sf_dir, "events")
    return ev.select("event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k_value"))


@query(
    "scalar_json_corrupt",
    """
    WITH raw AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN '{truncated' || props
                  ELSE props END AS props
      FROM events),
    parsed AS (
      SELECT event_id, event_type,
             CASE WHEN json_valid(props)
                  THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
             END AS k_value,
             NOT json_valid(props) AS is_corrupt
      FROM raw)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(CASE WHEN is_corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN NOT is_corrupt THEN k_value END) AS BIGINT) AS k_sum
    FROM parsed GROUP BY event_type
    """,
)
def scalar_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Malformed-payload tolerance: at 100 TB a corrupt record is a
    # certainty, and a decoder that either crashes or silently nulls is a
    # pipeline bug.  Deterministically corrupt 1/7 of the JSON payloads
    # and parse with the PERMISSIVE corrupt-record column (the standard
    # quarantine pattern: bad input lands verbatim in _corrupt_record,
    # never an exception, never silently confused with a valid record
    # that merely lacks the key), then return the damage audit: per-type
    # record / corrupt counts and the aggregate over clean rows only.
    ev = tbl(spark, sf_dir, "events")
    raw = ev.select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0, F.concat(F.lit("{truncated"), F.col("props"))
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    parsed = raw.select(
        "event_type",
        F.from_json(
            F.col("props"),
            "k bigint, _corrupt_record string",
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("j"),
    ).select(
        "event_type",
        F.col("j.k").alias("k_value"),
        F.col("j._corrupt_record").isNotNull().alias("is_corrupt"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.sum(F.when(F.col("is_corrupt"), 1).otherwise(0)).cast("long").alias("n_corrupt"),
        F.sum(F.when(~F.col("is_corrupt"), F.col("k_value"))).cast("long").alias("k_sum"),
    )


@query(
    "scalar_numeric",
    """
    SELECT l_orderkey, l_linenumber,
           l_linenumber % 2 = 0 AS is_even,
           floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100.0 AS net_price,
           CAST(l_quantity AS BIGINT) AS qty_int,
           abs(l_discount - 0.05) AS disc_dev
    FROM lineitem WHERE l_orderkey % 7 = 0
    """,
)
def scalar_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_linenumber") % 2 == 0).alias("is_even"),
        (F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)) / F.lit(100.0)).alias(
            "net_price"
        ),
        F.col("l_quantity").cast("bigint").alias("qty_int"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
    )


# ---------------------------------------------------------------------------
# Merge / set ops (SURVEY §2.4)
# ---------------------------------------------------------------------------
@query(
    "u_union_merge",
    """
    SELECT event_type, count(*) AS n FROM (
      SELECT event_type FROM events WHERE event_type = 'click'
      UNION ALL SELECT event_type FROM events WHERE event_type = 'view'
      UNION ALL SELECT event_type FROM events WHERE event_type = 'purchase'
    ) GROUP BY event_type
    """,
)
def u_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U1/U2 -- MergeHub / Source.combine fan-in as unionByName.
    ev = tbl(spark, sf_dir, "events").select("event_type")
    parts = [ev.filter(F.col("event_type") == t) for t in ("click", "view", "purchase")]
    return merge(*parts).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@query(
    "u_except",
    "SELECT c_custkey FROM customer"
    " EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'",
)
def u_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U4 -- set difference (IT/KinesisSourceTest.scala:261-271 assertion
    # algebra).  Customers with no completed ('F') order: in the fixture
    # every customer has SOME order, so the unfiltered difference was
    # empty and the gate row vacuous (VERDICT r5 #3); the status filter
    # leaves a 71-row difference at sf0.01.
    c = tbl(spark, sf_dir, "customer").select("c_custkey")
    o = (
        tbl(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.subtract(o)


@query("u_intersect", "SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders")
def u_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tbl(spark, sf_dir, "customer").select("c_custkey")
    o = tbl(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.intersect(o)


@query(
    "u_except_all",
    "SELECT o_custkey AS custkey FROM orders"
    " EXCEPT ALL"
    " SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'",
)
def u_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multiset difference (dedup-free EXCEPT): each custkey keeps
    # max(m_left - m_right, 0) occurrences.  Physically one count-per-key
    # agg on each side + a key-joined replication -- no row-level
    # pairing, so it scales like a groupBy, not like a join explosion.
    o = tbl(spark, sf_dir, "orders")
    left = o.select(F.col("o_custkey").alias("custkey"))
    right = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return left.exceptAll(right)


@query(
    "u_intersect_all",
    "SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'"
    " INTERSECT ALL"
    " SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'",
)
def u_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multiset intersection: min(m_left, m_right) occurrences per key --
    # the "customers active in BOTH order states, counted with
    # multiplicity" question EXCEPT/INTERSECT (distinct) cannot answer.
    o = tbl(spark, sf_dir, "orders")
    left = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    right = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return left.intersectAll(right)


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.6 -- absent in reference, required by the star schema)
# ---------------------------------------------------------------------------
@query(
    "j_orders_customer",
    f"""
    SELECT c_mktsegment, count(*) AS n_orders, {_sql_sum_money('o_totalprice')} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def j_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    return (
        J.equi_join(o, c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), _sum_money(F.col("o_totalprice")).alias("revenue"))
    )


@query(
    "j_broadcast_star",
    f"""
    SELECT n_name,
           CAST(sum({_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')})) AS DOUBLE)
             / 10000.0 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('AMERICA', 'ASIA')
    GROUP BY n_name
    """,
)
def j_broadcast_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q5-shaped star join: facts shuffle on their keys, the dimension
    # chain (nation, region) broadcasts -- zero shuffle for the small sides.
    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name").isin("AMERICA", "ASIA"))
    rev = F.sum(_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))).cast("double") / F.lit(
        10000.0
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(rev.alias("revenue"))
    )


@query(
    "j_semi",
    """
    SELECT n_name, count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    GROUP BY n_name
    """,
)
def j_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    n = tbl(spark, sf_dir, "nation")
    return (
        J.semi_join(c, o, "c_custkey")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "j_anti",
    """
    SELECT c_mktsegment, count(*) AS n_inactive
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    GROUP BY c_mktsegment
    """,
)
def j_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Anti-join restricted to completed ('F') orders: every customer has
    # some order in the fixture, so the unrestricted anti-join returned 0
    # rows and the gate row was vacuous (VERDICT r5 #3).
    c = tbl(spark, sf_dir, "customer")
    o = (
        tbl(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return J.anti_join(c, o, "c_custkey").groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_inactive"))


@query(
    "j_range_bucket",
    f"""
    SELECT r_name AS bucket_name, count(*) AS n, {_sql_sum_money('value')} AS sum_value
    FROM events JOIN region
      ON value >= r_regionkey * 70.0 AND value < (r_regionkey + 1) * 70.0
    GROUP BY r_name
    """,
)
def j_range_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Range join via bucketization (operators/joins.py): equi-join on the
    # coarse bucket id instead of a nested-loop inequality join.
    ev = tbl(spark, sf_dir, "events")
    buckets = tbl(spark, sf_dir, "region").select(
        F.col("r_name").alias("bucket_name"),
        (F.col("r_regionkey") * 70.0).alias("lo"),
        ((F.col("r_regionkey") + 1) * 70.0).alias("hi"),
    )
    joined = J.range_join_bucketed(ev, buckets, "value", "lo", "hi", bucket_width=70.0)
    return joined.groupBy("bucket_name").agg(
        F.count(F.lit(1)).alias("n"), _sum_money(F.col("value")).alias("sum_value")
    )


def _asof_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The as-of family's inputs: purchases, and clicks keyed by (user, ts)."""
    ev = tbl(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    return purchases, clicks


@query(
    "j_asof",
    """
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, c.click_id
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def j_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    # As-of join via union+window (operators/joins.py) -- no Python, one
    # shuffle on the key; matches DuckDB's native ASOF JOIN.
    purchases, clicks = _asof_sides(spark, sf_dir)
    return J.asof_join(purchases, clicks, "user_id", "ts", "ts", ["click_id"]).select(
        "purchase_id", "user_id", "click_id"
    )


# ---------------------------------------------------------------------------
# Window functions & ordering (SURVEY §2.7)
# ---------------------------------------------------------------------------
@query(
    "w1_shard_order",
    """
    SELECT user_id AS shard, event_id AS seq,
           row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
           event_id - coalesce(lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id), event_id) AS gap
    FROM events
    """,
)
def w1_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W1 -- per-shard total order + gap detection (KinesisRecord.scala:39-44).
    ev = tbl(spark, sf_dir, "events").withColumnRenamed("user_id", "shard")
    return W.shard_order(ev, "shard", "event_id").select(
        "shard", F.col("event_id").alias("seq"), "rn", "gap"
    )


@query(
    "w_topk_per_group",
    """
    SELECT * FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders JOIN customer ON o_custkey = c_custkey)
    WHERE rnk <= 3
    """,
)
def w_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey).select("c_mktsegment", "o_orderkey", "o_totalprice")
    return W.top_k_per_group(joined, "c_mktsegment", [F.col("o_totalprice").desc(), F.col("o_orderkey")], 3)


@query(
    "w_global_topn",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
)
def w_global_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W3 -- take(n): Spark plans TakeOrderedAndProject (per-partition heaps,
    # no global sort).
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return W.limit_n(o, 10, [F.col("o_totalprice").desc(), F.col("o_orderkey")])


@query(
    "w_running_sum",
    f"""
    SELECT user_id, event_id,
           CAST(sum({_sql_cents('value')})
                OVER (PARTITION BY user_id ORDER BY event_id
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0 AS running_value
    FROM events
    """,
)
def w_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "user_id",
        "event_id",
        (F.sum(_cents(F.col("value"))).over(w).cast("double") / F.lit(100.0)).alias("running_value"),
    )


@query(
    "w_sessionize",
    """
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
                       OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
    FROM flagged GROUP BY user_id
    """,
)
def w_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tbl(spark, sf_dir, "events")
    sess = W.sessionize(ev, "user_id", "ts", 1800)
    return sess.groupBy("user_id").agg(F.max("session_id").cast("bigint").alias("n_sessions"))


@query(
    "agg_salted_skew",
    f"""
    SELECT event_type, count(*) AS n, {_sql_sum_money('value')} AS sum_value
    FROM events GROUP BY event_type
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Skew-safe two-stage aggregation (operators/skew.py): event_type has
    # ~5 hot values over the whole table -- the worst groupBy-skew shape.
    # Result-identical to the plain GROUP BY, which is the oracle.
    from kcl_akka_stream_spark.operators.skew import salted_aggregate

    ev = tbl(spark, sf_dir, "events").select("event_type", _cents(F.col("value")).alias("__c"))
    out = salted_aggregate(ev, ["event_type"], sums={"__c": "cents"}, count_alias="n", n_salts=16)
    return out.select(
        "event_type", "n", (F.col("cents").cast("double") / F.lit(100.0)).alias("sum_value")
    )


@query(
    "j_salted_skew",
    f"""
    SELECT o_orderpriority, count(*) AS n_items, {_sql_sum_money('l_extendedprice')} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def j_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Skew-safe fact-dim equi-join: fact rows get a per-row salt, the dim is
    # replicated across the salt range (operators/skew.py::salted_join).
    from kcl_akka_stream_spark.operators.skew import salted_join

    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = tbl(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, on="l_orderkey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _sum_money(F.col("l_extendedprice")).alias("revenue"),
    )


@query(
    "j_null_skew_bypass",
    """
    WITH l AS (
      SELECT event_id, value,
             CASE WHEN event_id % 3 = 0 THEN NULL ELSE user_id END AS user_id
      FROM events),
    r AS (
      SELECT DISTINCT user_id, user_id % 10 AS segment
      FROM events),
    j AS (
      SELECT l.event_id, l.user_id, r.segment
      FROM l LEFT JOIN r ON l.user_id = r.user_id)
    SELECT coalesce(segment, -1) AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unattributed
    FROM j GROUP BY coalesce(segment, -1)
    """,
)
def j_null_skew_bypass(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Null-skew-safe LEFT join (operators/skew.py::null_bypass_left_join):
    # a third of the fact FK is nulled (the unattributed-events shape);
    # under a plain join every null row hashes to ONE reducer for zero
    # matches.  The operator routes null keys around the shuffle and
    # unions them back map-side -- result-identical, so the oracle is the
    # PLAIN left join.
    from kcl_akka_stream_spark.operators.skew import null_bypass_left_join

    ev = tbl(spark, sf_dir, "events")
    left = ev.select(
        "event_id",
        "value",
        F.when(F.col("event_id") % 3 == 0, F.lit(None))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
    )
    right = ev.select(
        "user_id", (F.col("user_id") % 10).alias("segment")
    ).distinct()
    joined = null_bypass_left_join(left, right, on="user_id")
    return joined.groupBy(
        F.coalesce(F.col("segment"), F.lit(-1)).alias("segment")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unattributed"),
    )


@query(
    "u_demux",
    """
    SELECT user_id AS key, string_agg(event_type, ',' ORDER BY event_id) AS msgs
    FROM events GROUP BY user_id
    """,
)
def u_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U3 -- groupBy(key).detach...mergeSubstreams (IT/KinesisTestProducer.
    # scala:37-46): demux by key, per-key ordered processing, remux.  The
    # order witness is the PHYSICAL row position after the remux
    # (monotonically_increasing_id is partition-monotone and, being
    # nondeterministic, cannot be reordered below the sort by Catalyst) --
    # the oracle only matches if each key really is contiguous and ordered.
    from kcl_akka_stream_spark.operators.merges import demux_process_remux

    ev = tbl(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    out = demux_process_remux(ev, "user_id", "event_id")
    positioned = out.withColumn("__pos", F.monotonically_increasing_id())
    return positioned.groupBy(F.col("user_id").alias("key")).agg(
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


@query(
    "w_rank_funcs",
    """
    SELECT o_orderkey,
           o_orderpriority,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile,
           round(o_totalprice - lag(o_totalprice) OVER w, 2) AS gap_prev,
           round(lead(o_totalprice) OVER w - o_totalprice, 2) AS gap_next
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def w_rank_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.7 -- the analytic-function family (absent in the reference; Spark
    # built-ins).  Ties broken on o_orderkey so every function is
    # deterministic.
    from pyspark.sql import Window

    o = tbl(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("gap_prev"),
        F.round(F.lead("o_totalprice").over(w) - F.col("o_totalprice"), 2).alias("gap_next"),
    )


@query(
    "j_full_outer",
    """
    SELECT n_name, o_orderpriority, count(o_orderkey) AS n_orders
    FROM nation
    FULL OUTER JOIN (
      SELECT o_orderkey, o_orderpriority, o_custkey FROM orders WHERE o_totalprice > 150000
    ) big ON nation.n_nationkey = big.o_custkey % 25
    GROUP BY n_name, o_orderpriority
    """,
)
def j_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.6 -- full outer equi-join (absent in reference; Spark built-in):
    # nations with no big orders and orders with no matching nation both
    # survive with nulls.
    n = tbl(spark, sf_dir, "nation")
    big = (
        tbl(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 150000)
        .select("o_orderkey", "o_orderpriority", "o_custkey")
    )
    joined = n.join(big, n.n_nationkey == big.o_custkey % 25, "full_outer")
    return joined.groupBy("n_name", "o_orderpriority").agg(
        F.count("o_orderkey").alias("n_orders")
    )


@query(
    "agg_grouping_sets",
    """
    SELECT o_orderpriority, o_orderstatus, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), (o_orderpriority, o_orderstatus))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.5 -- grouping sets (absent in reference; Catalyst built-in via SQL).
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, count(*) AS n
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), (o_orderpriority, o_orderstatus))
        """
    )


@query(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 6) AS p25,
           round(quantile_cont(l_quantity, 0.5), 6) AS p50,
           round(quantile_cont(l_quantity, 0.75), 6) AS p75,
           round(quantile_cont(l_quantity, 0.95), 6) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact interpolated percentiles (distribution analytics).  Spark's
    # percentile and DuckDB's quantile_cont share the linear-interpolation
    # definition, so values match to rounding.  At 100 TB the exact form
    # is a single sort-free shuffle with per-group buffers; the approximate
    # path (approx_percentile / t-digest) trades that for mergeable
    # sketches -- not oracle-checkable, so the exact form is registered.
    li = tbl(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("p75"),
        F.round(F.percentile("l_quantity", F.lit(0.95)), 6).alias("p95"),
    )


@query(
    "agg_histogram",
    """
    SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(l_extendedprice), 2) AS lo,
           round(max(l_extendedprice), 2) AS hi
    FROM lineitem GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed-width histogram as a map-side-combinable groupBy -- the shape
    # every data-profiling pass at scale reduces to.
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.floor(F.col("l_extendedprice") / 5000).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
    )


@query(
    "scalar_json_schema",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
           array_to_string(json_keys(props), ',') AS key_list,
           json_extract_string(props, '$.missing') IS NULL AS missing_is_null
    FROM events
    """,
)
def scalar_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §1.3 -- the payload-decode layer: user-supplied schema applied at
    # decode time via from_json (the Kafka/Kinesis-connector pattern), plus
    # schema introspection (json_object_keys) and null semantics for absent
    # fields.
    # spread(): per-row JSON parse work -- parallelism floor (r10,
    # same measured lesson as scalar_try_funcs)
    ev = spread(tbl(spark, sf_dir, "events"))
    parsed = F.from_json("props", "k BIGINT, missing STRING")
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k_typed"),
        F.array_join(F.json_object_keys("props"), ",").alias("key_list"),
        parsed.getField("missing").isNull().alias("missing_is_null"),
    )


@query(
    "q14_promo_revenue",
    f"""
    SELECT p_type,
           count(*) AS n_items,
           {_sql_sum_money('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_type
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q14 flavor: revenue by part type.  part is the dim side --
    # broadcast it so lineitem never shuffles for the join.
    li = tbl(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    p = tbl(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _sum_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@query(
    "j_supplier_geo",
    f"""
    SELECT r_name, count(*) AS n_suppliers, {_sql_sum_money('s_acctbal')} AS total_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def j_supplier_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Supplier snowflake: two broadcast hops (nation, region are the
    # always-broadcast dims) -- zero shuffles before the final agg.
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = tbl(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            _sum_money(F.col("s_acctbal")).alias("total_acctbal"),
        )
    )


@query(
    "scalar_conversion",
    """
    SELECT event_id,
           CAST(event_id AS VARCHAR) AS id_str,
           CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS id_roundtrip,
           CAST(ts AS DATE) AS event_date,
           CAST(octet_length(encode(props)) AS INT) AS props_bytes,
           upper(hex(encode(substring(props, 1, 4)))) AS props_hex_head,
           CAST(floor(value) AS BIGINT) AS value_floor
    FROM events
    """,
)
def scalar_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.8 conversion family (ByteBuffer<->ByteString / Option wrapping in
    # the reference, KinesisRecord.scala:50-57): string<->integer round
    # trip, timestamp->date truncation, string->binary with byte length and
    # hex rendering.  double->int goes through an explicit floor -- a bare
    # CAST truncates in Spark but ROUNDS in DuckDB, the classic cross-engine
    # trap this query pins down.
    ev = tbl(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("event_id").cast("string").alias("id_str"),
        F.col("event_id").cast("string").cast("bigint").alias("id_roundtrip"),
        F.col("ts").cast("date").alias("event_date"),
        F.octet_length(F.encode("props", "UTF-8")).cast("int").alias("props_bytes"),
        F.upper(F.hex(F.encode(F.substring("props", 1, 4), "UTF-8"))).alias("props_hex_head"),
        F.floor("value").cast("bigint").alias("value_floor"),
    )


# ---------------------------------------------------------------------------
# Classic decision-support shapes (TPC-H Q3/Q5/Q10/Q18 adapted to the
# fixture schema) -- the wide-join + agg plans a migrating user runs daily.
# ---------------------------------------------------------------------------
@query(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           {_sql_sum_money('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q3: unshipped-order revenue by priority.  customer is the
    # filtered dim (one segment) -- broadcast; orders->lineitem is the one
    # real shuffle; top-10 via TakeOrderedAndProject (no global sort).
    c = tbl(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey")), o.o_custkey == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _sum_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "o_orderdate", "o_orderpriority", "revenue")
    )


@query(
    "q5_local_supplier_volume",
    f"""
    SELECT n_name, {_sql_sum_money('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q5: revenue where customer and supplier share a nation inside
    # one region.  supplier/nation/region broadcast (dim-sized); the only
    # data-sized shuffle is orders<->lineitem on orderkey.
    c = tbl(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = tbl(spark, sf_dir, "lineitem")
    s = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = tbl(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            _sum_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@query(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           {_sql_sum_money('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q10: customers who returned the most revenue in a quarter.
    # Date filter prunes orders before the join; customer broadcast at
    # fixture scale (bucketed-SMJ at real scale -- see tests/test_bucketing).
    c = tbl(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            _sum_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue")
    )


@query(
    "q18_large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           round(total_qty, 2) AS total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q18: orders above a quantity threshold with their customers.
    # The HAVING pre-aggregation shrinks lineitem to qualifying orderkeys
    # BEFORE any join (the classic agg-pushdown shape); survivors are few
    # enough to broadcast into orders.
    li = tbl(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = tbl(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("total_qty"), 2).alias("total_qty"),
        )
    )


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q4 shape (EXISTS -> left-semi join, then a tiny agg), adapted
    # to the fixture's columns: the reference predicate l_commitdate <
    # l_receiptdate doesn't exist here, so "late" = shipped more than 60
    # days after the order date.  The semi-join carries the non-equi date
    # condition alongside the orderkey equi-join; dedup of multiple late
    # lines per order is the semi-join itself, not a distinct.
    o = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


@query(
    "q12_priority_shipping",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q12 shape (conditional aggregation over a fact-fact join),
    # adapted: no l_shipmode column in the fixture, so the group key is
    # l_linestatus.  Both CASE counters fold into ONE aggregate pass --
    # never two scans or a self-join; the date filter pushes to the
    # lineitem scan.
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "q19_discounted_revenue",
    f"""
    SELECT {_sql_sum_money('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#22' AND l_quantity BETWEEN 10 AND 35)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q19 shape: a disjunction of brand x quantity-band predicates
    # over a part<->lineitem join, adapted to the fixture's columns (no
    # l_shipinstruct / l_shipmode / p_container).  part is dim-sized ->
    # broadcast; the OR-of-ANDs stays ABOVE the join (it references both
    # sides) but each side's half-pushable conjuncts (brand isin, quantity
    # range) are derived by Catalyst and reach the scans.
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cond = (
        (F.col("p_brand") == "Brand#11") & F.col("l_quantity").between(1, 20)
    ) | ((F.col("p_brand") == "Brand#22") & F.col("l_quantity").between(10, 35))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            _sum_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "agg_pivot_event_types",
    f"""
    SELECT user_id,
           {", ".join(
               "CAST(sum(CASE WHEN event_type = '" + t + "' THEN 1 ELSE 0 END) AS BIGINT)"
               " AS n_" + t
               for t in _EVENT_TYPES
           )}
    FROM events GROUP BY user_id
    """,
)
def agg_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The pivot (long->wide) reshape: per-user event counts, one column
    # per event type.  The pivot values are LISTED explicitly -- omitting
    # them makes Spark run an extra distinct pass to discover them, a
    # hidden second scan at 100 TB.  One combinable agg.
    ev = tbl(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


@query(
    "agg_unpivot_brand_metrics",
    """
    WITH wide AS (
      SELECT p_brand,
             CAST(count(*) AS DOUBLE) AS n_parts,
             CAST(sum(p_size) AS DOUBLE) / count(*) AS avg_size,
             CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
               AS avg_price
      FROM part GROUP BY p_brand)
    SELECT p_brand, metric, value
    FROM wide UNPIVOT (value FOR metric IN (n_parts, avg_size, avg_price))
    """,
)
def agg_unpivot_brand_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The unpivot/melt (wide->long) reshape, the inverse of
    # agg_pivot_event_types: per-brand metric columns become
    # (metric, value) rows via ``DataFrame.unpivot`` -- a map-side Expand,
    # NOT a shuffle; the single exchange is the brand agg feeding it.
    # Cross-engine exactness: counts and int sums are exact in double;
    # each avg is ONE IEEE division; the money sum folds in DECIMAL(18,2)
    # first (partial-agg-order independent) per the module convention.
    p = tbl(spark, sf_dir, "part")
    wide = p.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("double").alias("n_parts"),
        (F.sum("p_size").cast("double") / F.count(F.lit(1))).alias("avg_size"),
        (
            F.sum(F.col("p_retailprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_price"),
    )
    return wide.unpivot(
        ["p_brand"], ["n_parts", "avg_size", "avg_price"], "metric", "value"
    )


@query(
    "w_funnel_conversion",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t_view
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
      GROUP BY e.user_id)
    SELECT CAST(count(s1.user_id) AS BIGINT) AS n_viewed,
           CAST(count(s2.user_id) AS BIGINT) AS n_clicked_after,
           CAST(count(s3.user_id) AS BIGINT) AS n_purchased_after
    FROM s1
    LEFT JOIN s2 ON s2.user_id = s1.user_id
    LEFT JOIN s3 ON s3.user_id = s1.user_id
    """,
)
def w_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ordered funnel (view -> later click -> later purchase): each stage
    # anchors on the previous stage's first event time.  Stage tables are
    # user-cardinality-sized aggregates; the event table is scanned with
    # a pushed event_type filter per stage and re-joined broadcast -- no
    # data-sized shuffle beyond the per-stage aggs.
    ev = tbl(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(s1), "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s2), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .agg(
            F.count("t_view").cast("long").alias("n_viewed"),
            F.count("t_click").cast("long").alias("n_clicked_after"),
            F.count("t_purchase").cast("long").alias("n_purchased_after"),
        )
    )


@query(
    "w_gap_fill_hourly",
    """
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS n
      FROM events WHERE user_id < 10 GROUP BY user_id, date_trunc('hour', ts)),
    spans AS (
      SELECT user_id, min(h) AS h0, max(h) AS h1 FROM b GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
      FROM spans)
    SELECT g.user_id, strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(coalesce(b.n, 0) AS BIGINT) AS n_events
    FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.h = g.h
    """,
)
def w_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Time-series densification: per-user hourly counts with MISSING
    # hours materialized as zero rows (sequence() -> explode over each
    # user's own [min, max] span).  The grid explode is bounded by span
    # hours per user; the join back is co-keyed on (user, hour).  The
    # user_id < 10 filter keeps fixture output reviewable -- the shape is
    # unchanged at full key cardinality.
    ev = tbl(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    b = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    spans = b.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    return (
        grid.join(b, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.date_format(F.col("h"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


@query(
    "sql_api_pricing",
    f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           {_sql_sum_money('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_api_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The SQL front end as a first-class surface: the same Catalyst plan
    # is reachable through spark.sql over registered views -- a migrating
    # user can keep their SQL verbatim.  (Same aggregation as
    # q1_pricing_summary, entered through the other door.)
    from kcl_akka_stream_spark.sources.batch import register_views

    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS sum_qty
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        """
    )


@query(
    "source_schema_evolution",
    """
    WITH v1 AS (SELECT event_id, event_type, NULL AS value FROM events
                WHERE event_id % 2 = 0),
    v2 AS (SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 1),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(count(value) AS BIGINT) AS n_with_value
    FROM u GROUP BY event_type
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Schema evolution at the source: an old export (no `value` column)
    # and a new export (with it) live in one directory; mergeSchema
    # reconciles them and the missing column reads as NULL.  The audit
    # counts how much of each type carries the new column.  At 100 TB
    # this is the append-only data-lake reality; mergeSchema costs one
    # footer pass, the scan stays pruned.
    import shutil
    import tempfile

    ev = tbl(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="kcl_evolve_")
    try:
        ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "event_type"
        ).write.mode("overwrite").parquet(out + "/v1")
        ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "event_type", "value"
        ).write.mode("overwrite").parquet(out + "/v2")
        merged = spark.read.option("mergeSchema", "true").parquet(
            out + "/v1", out + "/v2"
        )
        agg = merged.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("value").cast("long").alias("n_with_value"),
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "scalar_null_semantics",
    """
    WITH t AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS u,
             CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v
      FROM events)
    SELECT event_id,
           (u IS NOT DISTINCT FROM 42) AS null_safe_eq_42,
           CAST(coalesce(u, -1) AS BIGINT) AS u_filled,
           nullif(CAST(u AS BIGINT), 0) AS u_nullif_zero,
           CASE WHEN u IS NULL THEN 'missing' ELSE 'present' END AS u_state,
           round(coalesce(v, 0.0), 2) AS v_filled,
           CAST((u IS NULL AND v IS NULL) AS INT) AS both_null
    FROM t
    """,
)
def scalar_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The null-handling scalar family: null-safe equality (<=>), coalesce
    # chains, nullif, IS NULL branches -- three-valued logic pinned
    # against the oracle on deterministically injected nulls.
    ev = tbl(spark, sf_dir, "events")
    u = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("user_id"))
    v = F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(F.col("value"))
    t = ev.select("event_id", u.alias("u"), v.alias("v"))
    return t.select(
        "event_id",
        F.col("u").eqNullSafe(F.lit(42)).alias("null_safe_eq_42"),
        F.coalesce(F.col("u"), F.lit(-1)).cast("long").alias("u_filled"),
        F.nullif(F.col("u").cast("long"), F.lit(0)).alias("u_nullif_zero"),
        F.when(F.col("u").isNull(), "missing").otherwise("present").alias("u_state"),
        F.round(F.coalesce(F.col("v"), F.lit(0.0)), 2).alias("v_filled"),
        (F.col("u").isNull() & F.col("v").isNull()).cast("int").alias("both_null"),
    )


@query(
    "j_null_safe",
    """
    WITH l AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS k
      FROM events WHERE event_id < 1000),
    r AS (
      SELECT DISTINCT CASE WHEN user_id % 50 = 0 THEN NULL ELSE user_id END AS k
      FROM events)
    SELECT CAST(l.k IS NULL AS INT) AS key_is_null,
           CAST(count(*) AS BIGINT) AS n_joined
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY l.k IS NULL
    """,
)
def j_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Null-safe equi-join (<=>): NULL keys MATCH each other (unlike =,
    # which drops them silently) -- the semantics audit every ETL join on
    # nullable keys needs.  Counts joined rows by key-nullity.
    ev = tbl(spark, sf_dir, "events")
    left = ev.filter(F.col("event_id") < 1000).select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("user_id"))
        .alias("k"),
    )
    right = ev.select(
        F.when(F.col("user_id") % 50 == 0, F.lit(None))
        .otherwise(F.col("user_id"))
        .alias("k")
    ).distinct()
    return (
        left.join(right, left.k.eqNullSafe(right.k))
        .groupBy(left.k.isNull().cast("int").alias("key_is_null"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_joined"))
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped decision-support additions, round 6: four plan shapes the
# suite did not yet cover -- outer-join histogram (Q13), anti-join +
# count-distinct rollup (Q16), correlated scalar-subquery decorrelation
# (Q17), and scalar-aggregate + NOT-EXISTS (Q22).  Predicates are adapted
# to the fixture's reduced columns (no o_comment / partsupp / p_container
# / c_phone) and documented per query.
# ---------------------------------------------------------------------------
@query(
    "q13_customer_distribution",
    """
    WITH co AS (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q13 shape: LEFT OUTER join with the filter INSIDE the join
    # condition (pre-filtering the right side is equivalent and lets the
    # predicate push to the orders scan -- an ON-clause filter on the
    # preserved side would NOT be), then a two-level aggregation: orders
    # per customer, then customers per order-count.  count(o_orderkey)
    # counts non-null matches only, so order-less customers land in the
    # c_count=0 bucket instead of vanishing.  Adapted: the reference
    # excludes comment-matched orders (o_comment NOT LIKE ...); the
    # fixture has no o_comment, so the exclusion is priority-based.
    # Second agg's input is one row per customer -- tiny; the first agg
    # is the only data-sized shuffle.
    c = tbl(spark, sf_dir, "customer").select("c_custkey")
    o = (
        tbl(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


@query(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO'
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q16 shape: NOT IN -> left-anti join against a tiny excluded
    # set (broadcast -- no shuffle for the exclusion), dimension join,
    # then count(DISTINCT) under a multi-column group.  Adapted: the
    # fixture has no partsupp table, so lineitem's (l_partkey, l_suppkey)
    # pairs stand in for the part-supplier relationship, and the excluded
    # suppliers are the negative-balance ones (no s_comment complaints
    # column).  count-distinct expands to a two-phase agg (partial
    # distinct per partition, then final) -- still ONE data-sized shuffle
    # keyed on the group columns.
    li = tbl(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        tbl(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        tbl(spark, sf_dir, "part")
        .filter((F.col("p_brand") != "Brand#11") & (F.col("p_type") != "PROMO"))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@query(
    "q17_small_qty_revenue",
    f"""
    WITH pa AS (
      SELECT l_partkey AS a_partkey,
             CAST(sum({_sql_cents('l_quantity')}) AS BIGINT) AS sq,
             CAST(count(*) AS BIGINT) AS nq
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(sum({_sql_cents('l_extendedprice')}) AS DOUBLE) / 100.0 / 7.0
             AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa ON a_partkey = l_partkey
    WHERE p_brand = 'Brand#11'
      AND {_sql_cents('l_quantity')} * 5 * nq < sq
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q17 shape: the correlated scalar subquery (l_quantity <
    # 0.2 * per-part avg) DECORRELATED into a per-part aggregate joined
    # back -- the rewrite Catalyst itself applies to the subquery form,
    # written explicitly so the plan is one agg + two broadcast joins
    # instead of a re-executed subquery.  The avg comparison is made
    # integer-exact (cents(q) * 5 * n < sum_cents -- same rational as
    # q < sum/(5n)) because a double avg differs across partial-agg
    # orders and a boundary row must not flip between engines.  The
    # per-part aggregate is part-key-sized, far smaller than lineitem ->
    # broadcast; brand-filtered part likewise.
    li = tbl(spark, sf_dir, "lineitem")
    p = (
        tbl(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#11")
        .select("p_partkey")
    )
    # Restrict lineitem to the brand's parts BEFORE the per-part
    # aggregate: the avg per part is unchanged (it never mixes parts),
    # but pa shrinks from all-parts-sized to brand-sized -- at 100 TB
    # the difference between a broadcastable aggregate and one that
    # grows with the part table.
    li_b = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    pa = li_b.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum(_cents(F.col("l_quantity"))).alias("sq"),
        F.count(F.lit(1)).alias("nq"),
    )
    return (
        li_b.join(F.broadcast(pa), li_b.l_partkey == pa.a_partkey)
        .filter(_cents(F.col("l_quantity")) * 5 * F.col("nq") < F.col("sq"))
        .agg(
            (_sum_money(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@query(
    "q22_global_sales_opportunity",
    f"""
    WITH pos AS (
      SELECT CAST(sum({_sql_cents('c_acctbal')}) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM customer WHERE c_acctbal > 0.0),
    sel AS (
      SELECT c_custkey, c_nationkey, {_sql_cents('c_acctbal')} AS bal_c
      FROM customer, pos
      WHERE {_sql_cents('c_acctbal')} * n > s
        AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'))
    SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(bal_c) AS DOUBLE) / 100.0 AS totacctbal
    FROM sel JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q22 shape: scalar aggregate (avg positive balance) feeding a
    # filter, NOT EXISTS -> left-anti join, then a per-nation rollup.
    # The scalar lands as a single-row broadcast cross join (the same
    # pattern as pipeline_export_manifest's totals join); the
    # above-average comparison is integer-exact (cents * n > sum_cents)
    # so partial-agg order cannot flip a boundary customer.  Adapted:
    # no c_phone in the fixture, so the group key is the nation name
    # (broadcast dim join) and "no orders" is priority-scoped (every
    # fixture customer has SOME order -- the r5 verdict's vacuous-row
    # lesson applied at design time).  The anti-join's right side is
    # projected to o_custkey only.
    c = tbl(spark, sf_dir, "customer")
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(_cents(F.col("c_acctbal"))).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    urgent = (
        tbl(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    n = tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sel = (
        c.crossJoin(F.broadcast(pos))
        .filter(_cents(F.col("c_acctbal")) * F.col("n") > F.col("s"))
        .join(F.broadcast(urgent), F.col("c_custkey") == urgent.o_custkey, "left_anti")
        .select("c_nationkey", _cents(F.col("c_acctbal")).alias("bal_c"))
    )
    return (
        sel.join(F.broadcast(n), sel.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            (F.sum("bal_c").cast("double") / F.lit(100.0)).alias("totacctbal"),
        )
    )


@query(
    "agg_conditional_funcs",
    """
    SELECT event_type,
           CAST(count_if(value > 50.0) AS BIGINT) AS n_high,
           bool_and(value >= 0.0) AS all_nonneg,
           bool_or(value > 99.0) AS any_extreme,
           CAST(arg_max(event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) * 1000000000000 + event_id) AS BIGINT)
             AS id_of_max,
           CAST(arg_min(event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) * 1000000000000 + event_id) AS BIGINT)
             AS id_of_min
    FROM events GROUP BY event_type
    """,
)
def agg_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The conditional-aggregate family: count_if, bool_and/bool_or, and
    # arg-extremes (max_by/min_by).  The arg-extreme ORDERING KEY is made
    # unique (value cents * 1e5 + event_id) because max_by on a column
    # with duplicate values is tie-nondeterministic -- per-partition
    # fold order decides the winner, so the same query can return
    # different ids run to run: exactly the kind of silent flakiness a
    # 100 TB pipeline cannot debug.  All aggregates fold in one
    # combinable pass.
    ev = tbl(spark, sf_dir, "events")
    # 1e12 multiplier: cents <= ~1e4 keeps the key < 1e16 (BIGINT-safe)
    # while event ids stay unique below 1e12 -- at any fixture SF.
    key = _cents(F.col("value")) * F.lit(1_000_000_000_000) + F.col("event_id")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 50.0).cast("long").alias("n_high"),
        F.bool_and(F.col("value") >= 0.0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 99.0).alias("any_extreme"),
        F.max_by("event_id", key).cast("long").alias("id_of_max"),
        F.min_by("event_id", key).cast("long").alias("id_of_min"),
    )


@query(
    "agg_corr_exact",
    """
    WITH c AS (
      SELECT l_returnflag,
             CAST(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS DECIMAL(18,0)) AS x,
             CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS DECIMAL(18,0)) AS y
      FROM lineitem),
    s AS (
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(sum(x * y) AS DOUBLE) AS sxy
      FROM c GROUP BY l_returnflag),
    f AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM s)
    SELECT l_returnflag, n AS n_rows,
           round((nd * sxy - sx * sy)
                 / sqrt(nd * sxx - sx * sx)
                 / sqrt(nd * syy - sy * sy), 6) AS corr_qty_price,
           round((nd * sxy - sx * sy) / (nd * nd) / 10000.0, 6) AS covar_pop_dollars
    FROM f
    """,
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Correlation/covariance with EXACT integer moments: Spark's built-in
    # corr folds doubles in partition order (run-to-run drift at scale),
    # so the moments here accumulate as DECIMAL sums of integer cents --
    # order-independent, exact, overflow-safe (x,y declared DECIMAL(18,0)
    # so x*y stays within both engines' 38-digit product rule; the sums
    # widen to 38) -- then each EXACT sum casts to double once and the
    # textbook formula runs in identical IEEE ops on both engines,
    # rounded to 6 dp.
    li = tbl(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        _cents(F.col("l_quantity")).cast("decimal(18,0)").alias("x"),
        _cents(F.col("l_extendedprice")).cast("decimal(18,0)").alias("y"),
    )
    s = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.sqrt(nd * F.col("sxx") - F.col("sx") * F.col("sx"))
    dy = F.sqrt(nd * F.col("syy") - F.col("sy") * F.col("sy"))
    return s.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.round(num / dx / dy, 6).alias("corr_qty_price"),
        F.round(num / (nd * nd) / F.lit(10000.0), 6).alias("covar_pop_dollars"),
    )


@query(
    "j_cogroup_interval_counts",
    """
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             lead(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS next_date
      FROM orders WHERE o_custkey < 150)
    SELECT o.o_custkey, o.o_orderkey,
           CAST(count(e.ts) AS BIGINT) AS n_events
    FROM o LEFT JOIN events e
      ON e.user_id = o.o_custkey
     AND e.ts >= o.o_orderdate
     AND (o.next_date IS NULL OR e.ts < o.next_date)
    GROUP BY o.o_custkey, o.o_orderkey
    """,
)
def j_cogroup_interval_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The cogroup Arrow seam, gated: per customer, each order owns the
    # window [its date, next order date) and counts the events landing
    # inside it (operators/joins.py::cogrouped_interval_counts --
    # searchsorted kernel, one shuffle per side, never a join cross
    # product).  The oracle is the equivalent lead()-window + interval
    # LEFT JOIN.  Orders are pre-filtered to the event key range so the
    # cogroup only shuffles keys that can match.
    ev = tbl(spark, sf_dir, "events").select("user_id", "ts")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_custkey") < 150).select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    return J.cogrouped_interval_counts(
        ev,
        o,
        event_key="user_id",
        interval_key="o_custkey",
        event_ts="ts",
        interval_ts="o_orderdate",
        interval_id="o_orderkey",
    )


@query(
    "q21_suppliers_kept_waiting",
    """
    WITH late AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        AND o_orderstatus = 'F'),
    pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    nsupp AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS ns
              FROM pairs GROUP BY l_orderkey),
    nlate AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS nl
              FROM late GROUP BY l_orderkey)
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late lt
    JOIN nsupp USING (l_orderkey)
    JOIN nlate USING (l_orderkey)
    JOIN supplier ON s_suppkey = lt.l_suppkey
    WHERE ns > 1 AND nl = 1
    GROUP BY s_name
    """,
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q21 shape (suppliers who alone kept a multi-supplier order
    # waiting), with the reference's EXISTS / NOT-EXISTS pair REWRITTEN
    # as per-order counts: "another supplier shipped" = order has >1
    # distinct suppliers, "no other supplier was late" = exactly one
    # late supplier.  Equivalent, and the scalable form -- two
    # combinable aggregates joined back instead of two correlated
    # self-joins re-scanning lineitem.  Adapted: no l_commitdate /
    # l_receiptdate in the fixture, so "late" = shipped >60 days after
    # the order date (the q4 convention).
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    nsupp = pairs.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("ns"))
    nlate = late.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("nl"))
    s = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        late.join(nsupp, "l_orderkey")
        .join(nlate, "l_orderkey")
        .filter((F.col("ns") > 1) & (F.col("nl") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


@query(
    "q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum({_sql_cents('l_extendedprice * (1 - l_discount)')}) AS BIGINT)
               AS r_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name,
           CAST(r_cents AS DOUBLE) / 100.0 AS total_revenue
    FROM rev JOIN supplier ON s_suppkey = l_suppkey
    WHERE r_cents = (SELECT max(r_cents) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q15 shape: a revenue "view" consumed twice -- once for the
    # global max (scalar subquery -> single-row broadcast) and once for
    # the equality match.  The max comparison is in integer cents, so
    # the top supplier cannot flip on a float boundary; ties would
    # return every tied supplier (the reference's semantics) rather
    # than an arbitrary one.
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "r_cents"
        )
    )
    mx = rev.agg(F.max("r_cents").alias("mx"))
    s = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("r_cents") == F.col("mx"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("r_cents").cast("double") / F.lit(100.0)).alias("total_revenue"),
        )
    )


@query(
    "q11_important_supplier_value",
    f"""
    WITH v AS (
      SELECT l_suppkey,
             CAST(sum({_sql_cents('l_extendedprice')}) AS BIGINT) AS val_cents
      FROM lineitem GROUP BY l_suppkey),
    t AS (SELECT CAST(sum(val_cents) AS BIGINT) AS total_cents FROM v)
    SELECT l_suppkey AS suppkey,
           CAST(val_cents AS DOUBLE) / 100.0 AS supplier_value
    FROM v, t WHERE val_cents * 1000 > total_cents * 11
    """,
)
def q11_important_supplier_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q11 shape: a grouped sum filtered against a FRACTION of the
    # global sum (HAVING sum > f * total) -- the global total enters as
    # a single-row broadcast, and the 1.1% threshold is integer-exact
    # (val*1000 > total*11; at extreme SFs move both sides to
    # DECIMAL(38) -- cents sums approach BIGINT range near 1e17 rows).
    # Adapted: no partsupp in the fixture, so supplier "stock value" is
    # lineitem extendedprice mass per supplier.
    li = tbl(spark, sf_dir, "lineitem")
    v = li.groupBy("l_suppkey").agg(
        F.sum(_cents(F.col("l_extendedprice"))).alias("val_cents")
    )
    t = v.agg(F.sum("val_cents").alias("total_cents"))
    return (
        v.crossJoin(F.broadcast(t))
        .filter(F.col("val_cents") * 1000 > F.col("total_cents") * 11)
        .select(
            F.col("l_suppkey").alias("suppkey"),
            (F.col("val_cents").cast("double") / F.lit(100.0)).alias(
                "supplier_value"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round-6 third wave: the remaining classic decision-support shapes (Q2, Q6,
# Q7, Q8, Q9, Q20 adapted to the fixture schema).  With these, all 22 TPC-H
# plan shapes have a fixture-adapted twin in the registry.
# ---------------------------------------------------------------------------


@query(
    "q6_forecast_revenue",
    f"""
    SELECT CAST(sum({_sql_cents('l_extendedprice * l_discount')}) AS DOUBLE) / 100.0
             AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q6 shape: the pure scan-dominated aggregate -- no joins, no
    # groups, three conjunctive range predicates all pushed to the
    # parquet scan (PushedFilters carries every one), then a single
    # combinable sum.  At 100 TB this is the query whose cost IS the
    # I/O: row-group min/max pruning on l_shipdate skips most of the
    # table before a byte is decoded.
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _sum_money(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue"
            ),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


@query(
    "q7_volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           {_sql_sum_money('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND year(l_shipdate) IN (1996, 1997)
    GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q7 shape: bilateral trade volume between two nations by
    # year.  The nation pair disjunction sits ABOVE the supplier x
    # customer joins (it references both sides); each nation dim is
    # joined twice under different roles (n1/n2 aliases).  supplier +
    # nation broadcast; lineitem<->orders<->customer are the data-sized
    # shuffles.  Adapted: fixture has no l_commitdate, the year filter
    # stands in for the shipdate range.
    li = tbl(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(1996, 1997)
    )
    s = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = tbl(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            _sum_money(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


@query(
    "q8_market_share",
    f"""
    WITH vol AS (
      SELECT year(o_orderdate) AS o_year,
             {_sql_cents('l_extendedprice * (1 - l_discount)')} AS v_c,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n2.n_regionkey
      JOIN part ON p_partkey = l_partkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO')
    SELECT CAST(o_year AS INT) AS o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN v_c ELSE 0 END)
                        AS DOUBLE)
                 / CAST(sum(v_c) AS DOUBLE), 6) AS mkt_share
    FROM vol GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q8 shape: national market share -- the share of one
    # supplier nation's revenue within a region's PROMO-part purchases,
    # per order year.  The numerator is a CASE inside the same
    # aggregate pass as the denominator (one shuffle, not two query
    # runs); both sides sum integer cents, and the single
    # double-division is rounded to 6 dp so the ratio hashes
    # identically cross-engine.  region/nation/supplier/part broadcast.
    li = tbl(spark, sf_dir, "lineitem")
    s = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = tbl(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n2 = tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rkey")
    )
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    p = tbl(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    v_c = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_rkey") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", v_c).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.sum(v_c).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_type_profit",
    f"""
    SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
           CAST(sum({_sql_cents('l_extendedprice * (1 - l_discount)')}
                    - {_sql_cents('l_quantity * p_retailprice * 0.1')}) AS DOUBLE)
             / 100.0 AS sum_profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY 1, 2
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q9 shape: profit by supplier nation and year for parts
    # matching a name substring.  Adapted: the fixture has no partsupp,
    # so supply cost is modeled as 10% of p_retailprice per unit --
    # profit = revenue_cents - cost_cents, each term floored to cents
    # BEFORE the subtraction (identical expression both engines, so
    # partial-agg order cannot move a boundary).  The LIKE '%bolt%'
    # predicate cannot prune row groups (no prefix), but it IS pushed
    # to the part scan, and part is broadcast -- lineitem never
    # shuffles until the (nation, year) agg.
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%")).select(
        "p_partkey", "p_retailprice"
    )
    s = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))) - _cents(
        F.col("l_quantity") * F.col("p_retailprice") * F.lit(0.1)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg((F.sum(profit).cast("double") / F.lit(100.0)).alias("sum_profit"))
    )


@query(
    "q20_excess_inventory_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey, l_partkey
      HAVING sum(l_quantity) > 60)
    """,
)
def q20_excess_inventory_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q20 shape: the nested-IN / correlated-threshold query --
    # suppliers who moved more than a threshold quantity of any PROMO
    # part in 1996.  The reference form correlates ps_availqty against
    # 0.5 * sum(l_quantity); without partsupp the threshold is a
    # constant, which keeps the structural shape (grouped HAVING
    # feeding a semi-join) while staying fixture-honest.  The grouped
    # aggregate is combinable; the semi-join against the 100-row
    # supplier dim broadcasts the AGGREGATED side, not supplier,
    # because the group-by output is the smaller relation at scale.
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    s = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    movers = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 60)
        .select("l_suppkey")
        .distinct()
    )
    return s.join(
        F.broadcast(movers), s.s_suppkey == movers.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@query(
    "q2_min_cost_supplier",
    f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min({_sql_cents('l_extendedprice / l_quantity')}) AS unit_cents
      FROM lineitem GROUP BY 1, 2),
    m AS (SELECT l_partkey, min(unit_cents) AS mn FROM ps GROUP BY 1)
    SELECT p_partkey, s_name, n_name AS nation,
           CAST(unit_cents AS DOUBLE) / 100.0 AS unit_cost
    FROM ps
    JOIN m USING (l_partkey)
    JOIN part ON p_partkey = ps.l_partkey
    JOIN supplier ON s_suppkey = ps.l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_size = 10 AND unit_cents = mn
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q2 shape: for each size-10 part, the supplier(s) offering
    # the minimum cost -- the correlated-min subquery re-expressed as
    # (group-min joined back on equality), the scalable decorrelated
    # form.  Adapted: no partsupp, so the observed unit price
    # min(cents(l_extendedprice / l_quantity)) per (part, supplier)
    # stands in for ps_supplycost.  The min is in integer cents, so a
    # float boundary cannot drop or duplicate a tied supplier; ties
    # return every minimal supplier (reference semantics).  Three
    # exchanges, but only the first is data-sized: the per-part min and
    # the join-back move (part, supplier)-cardinality partial-agg
    # output, never raw lineitem -- cheaper at scale than forcing both
    # aggs onto one l_partkey repartition of the full fact table.
    li = tbl(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(_cents(F.col("l_extendedprice") / F.col("l_quantity"))).alias(
            "unit_cents"
        )
    )
    m = ps.groupBy("l_partkey").agg(F.min("unit_cents").alias("mn"))
    p = tbl(spark, sf_dir, "part").filter(F.col("p_size") == 10).select("p_partkey")
    s = tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = tbl(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ps.join(m, "l_partkey")
        .filter(F.col("unit_cents") == F.col("mn"))
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey",
            "s_name",
            F.col("n_name").alias("nation"),
            (F.col("unit_cents").cast("double") / F.lit(100.0)).alias("unit_cost"),
        )
    )


# ---------------------------------------------------------------------------
# Round-6 fourth wave: the remaining Python/SQL extension surfaces -- the
# RecordBatch seam (mapInArrow), the table-function seam (@udtf + SQL
# LATERAL), the DataFrame lateral-correlation API, and the VARIANT
# semi-structured type.  Each is a first-class gated query, not a demo.
# ---------------------------------------------------------------------------


@query(
    "arrow_doc_stats",
    r"""
    SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
           CAST(strlen(text) AS INT) AS n_bytes,
           CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens
    FROM documents
    """,
)
def arrow_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The mapInArrow seam: per-doc size stats computed by pyarrow C++
    # kernels on zero-copy RecordBatches -- no pandas boxing, no per-row
    # Python.  Map-only: 0 exchanges.  (n_chars counts codepoints,
    # n_bytes UTF-8 bytes; they differ on non-ASCII corpora -- equal on
    # this fixture, and the oracle checks both independently.)
    from kcl_akka_stream_spark.operators.arrow_ops import doc_stats_arrow

    return doc_stats_arrow(tbl(spark, sf_dir, "documents"))


@query(
    "udtf_token_runs",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok,
             unnest(generate_series(1, len(regexp_extract_all(text, '\S+'))))
               AS i
      FROM documents),
    marked AS (
      SELECT doc_id, i, tok,
             CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY i) = tok
                  THEN 0 ELSE 1 END AS brk
      FROM toks),
    grp AS (
      SELECT doc_id, i, tok,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS run_id
      FROM marked)
    SELECT doc_id, CAST(run_id AS INT) AS run_idx, tok AS token,
           CAST(count(*) AS INT) AS run_len
    FROM grp GROUP BY doc_id, run_id, tok HAVING count(*) >= 2
    """,
)
def udtf_token_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The Python UDTF seam through the SQL door: LATERAL token_runs(text)
    # expands each document into its adjacent-repeated-token runs
    # (elongation artifacts -- the repetition-filter family's witness
    # rows).  Run-length encoding is genuinely sequential within a row,
    # so the per-row Python loop is the natural form; the oracle
    # re-derives the runs relationally (lag -> break flags -> island
    # ids -> grouped counts), so the gate proves the two formulations
    # agree row-for-row.  Map-only on the Spark side: 0 exchanges.
    from kcl_akka_stream_spark.functions.udtfs import register_udtfs
    from kcl_akka_stream_spark.sources.batch import register_views

    register_udtfs(spark)
    register_views(spark, sf_dir, ["documents"])
    # NO spread (r10 measured, 1.56x regression): the run-length UDTF is
    # cheap at fixture doc counts and the extra exchange + 32-task stage
    # dominates; see tools/explain_audit.py::SPREAD_AUDIT_ALLOW.
    return spark.sql(
        """
        SELECT doc_id, r.run_idx, r.token, r.run_len
        FROM documents, LATERAL token_runs(text) r
        """
    )


@query(
    "j_lateral_topk",
    """
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey)
               AS rn
      FROM orders)
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM customer JOIN ranked ON o_custkey = c_custkey
    WHERE rn <= 2
    """,
)
def j_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The DataFrame lateral-correlation API (Spark 4 lateralJoin): "each
    # customer's two largest orders" written as a correlated per-row
    # subquery.  Catalyst DECORRELATES it -- the physical plan is
    # WindowGroupLimit (partial top-k before the shuffle) + row_number
    # + one equi-join, identical to the hand-written window form; no
    # nested-loop per-customer execution survives.  Tie-broken on
    # o_orderkey so top-2 is unique.
    c = tbl(spark, sf_dir, "customer").select("c_custkey")
    o = tbl(spark, sf_dir, "orders")
    top2 = (
        o.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(2)
        .select("o_orderkey", "o_totalprice")
    )
    return c.lateralJoin(top2).select("c_custkey", "o_orderkey", "o_totalprice")


@query(
    "scalar_variant_extract",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(count(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS n_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
             AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT)
             AS max_k
    FROM events GROUP BY event_type
    """,
)
def scalar_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The VARIANT semi-structured type (Spark 4): parse_json once into
    # the binary variant encoding, then typed variant_get extraction --
    # the schema-on-read path for payloads too heterogeneous for a
    # from_json struct schema.  Unlike get_json_object (string re-parse
    # per access), the variant value parses once and every extraction
    # is a binary probe.  One combinable agg on top.
    # spread(): per-row JSON parse work -- parallelism floor (r10,
    # same measured lesson as scalar_try_funcs)
    ev = spread(tbl(spark, sf_dir, "events"))
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("k").cast("long").alias("n_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
        )
    )


@query(
    "w_rolling_range_frame",
    f"""
    SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(sum({_sql_cents('o_totalprice')}) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate
                  RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 100.0 AS trailing_30d
    FROM orders
    """,
)
def w_rolling_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The RANGE window frame (value-based, not row-based): per customer,
    # revenue over the trailing 30 DAYS of order dates -- rows-between
    # frames cannot express this when order cadence is irregular.  Spark
    # takes range bounds as numeric offsets, so the ordering key is epoch
    # seconds and the frame is [-30d, 0] seconds; equal-date peers all
    # enter the frame together (RANGE semantics) on both engines, which
    # keeps duplicate order dates deterministic.  One window shuffle
    # keyed by customer; the sum is integer cents.
    from pyspark.sql import Window

    o = tbl(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        (
            F.sum(_cents(F.col("o_totalprice"))).over(w).cast("double")
            / F.lit(100.0)
        ).alias("trailing_30d"),
    )


@query(
    "agg_outlier_zscore",
    """
    WITH c AS (
      SELECT event_id, event_type, value,
             CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS DECIMAL(18,0)) AS v
      FROM events),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS DOUBLE) AS sv, CAST(sum(v * v) AS DOUBLE) AS svv
      FROM c GROUP BY event_type)
    SELECT event_id, c.event_type, value
    FROM c JOIN s USING (event_type)
    WHERE (CAST(n AS DOUBLE) * CAST(v AS DOUBLE) - sv)
          * (CAST(n AS DOUBLE) * CAST(v AS DOUBLE) - sv)
          > 9.0 * (CAST(n AS DOUBLE) * svv - sv * sv)
    """,
)
def agg_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Three-sigma outlier detection with EXACT moments (the agg_corr
    # convention): per-type sums of integer cents accumulate as DECIMAL
    # (order-independent), cast to double ONCE, and the z-score test is
    # algebraically cleared of division and sqrt --
    # (n*v - s)^2 > 9 * (n*q - s^2) -- so both engines evaluate the
    # same IEEE comparison and the flagged set is bit-identical.  The
    # built-in stddev would fold doubles in partition order: run-to-run
    # boundary drift for points sitting near 3 sigma.  Plan: one
    # combinable stats agg (5 rows out), broadcast back to the scan.
    ev = tbl(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "event_type",
        "value",
        _cents(F.col("value")).cast("decimal(18,0)").alias("v"),
    )
    s = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("double").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("svv"),
    )
    nd = F.col("n").cast("double")
    d = nd * F.col("v").cast("double") - F.col("sv")
    return (
        c.join(F.broadcast(s), "event_type")
        .filter(d * d > F.lit(9.0) * (nd * F.col("svv") - F.col("sv") * F.col("sv")))
        .select("event_id", "event_type", "value")
    )


@query(
    "udaf_grouped_median",
    """
    SELECT o_orderpriority, median(o_totalprice) AS med
    FROM orders GROUP BY o_orderpriority
    """,
)
def udaf_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.10 UDAF seam: a GROUPED_AGG pandas UDF in .agg() next to a
    # built-in -- the user-defined aggregate surface (the scalar pandas
    # UDF and applyInPandas kernels cover the other two Python-eval
    # shapes).  Exact median is deliberately the demo: it has no
    # combinable form, so this query ALSO documents the seam's scale
    # cost (whole group to one reducer) against the mergeable-sketch
    # alternatives the engine provides.
    from kcl_akka_stream_spark.functions.pandas_udfs import exact_median

    # NOTE: Spark forbids mixing a GROUPED_AGG pandas UDF with JVM
    # aggregates in one .agg() (INVALID_PANDAS_UDF_PLACEMENT) -- another
    # structural cost of the seam worth knowing.
    o = tbl(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        exact_median("o_totalprice").alias("med"),
    )


# Exact EWMA weights: alpha(1-alpha)^j frozen to integer micro-units in
# PYTHON (one source for both engines), so the time-decayed average is an
# integer dot product -- partial-agg order cannot move it and the single
# final division is one shared IEEE op.
_EWMA_WEIGHTS = [300000, 210000, 147000, 102900, 72030, 50421]  # a=0.3, H=6


def _ewma_weight_case(col: str) -> str:
    whens = " ".join(
        f"WHEN {j + 1} THEN {w}" for j, w in enumerate(_EWMA_WEIGHTS)
    )
    return f"CASE {col} {whens} END"


@query(
    "w_ewma_time_decay",
    f"""
    WITH r AS (
      SELECT user_id, value,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    k AS (SELECT user_id, v_cents, {_ewma_weight_case('rn')} AS w
          FROM r WHERE rn <= {len(_EWMA_WEIGHTS)})
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_used,
           CAST(sum(v_cents * w) AS BIGINT) AS weighted_micro_cents,
           CAST(sum(w) AS BIGINT) AS weight_sum,
           round(CAST(sum(v_cents * w) AS DOUBLE)
                 / CAST(sum(w) AS DOUBLE) / 100.0, 6) AS ewma_value
    FROM k GROUP BY user_id
    """,
)
def w_ewma_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exponentially-weighted moving average per user over the last H
    # events -- the time-decayed feature every behavioral model wants,
    # and the recursion every engine refuses to distribute.  The
    # truncated-horizon form makes it relational: rank events most-
    # recent-first (unique (ts, event_id) tiebreaker), attach the
    # PRECOMPUTED integer weight for each rank (element_at on a literal
    # array -- no float pow anywhere), integer dot product, one shared
    # division at the end.  One window shuffle keyed by user; the final
    # agg rides the same partitioning (zero extra exchanges).  The
    # infinite-horizon recursion would need sequential state; H-truncation
    # bounds the error at (1-a)^H (~12% mass here) and is the standard
    # streaming-feature trade.
    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    H = len(_EWMA_WEIGHTS)
    weights = F.array(*[F.lit(x) for x in _EWMA_WEIGHTS])
    ranked = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            _cents(F.col("value")).alias("v_cents"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= H)
        .withColumn("w", F.element_at(weights, F.col("rn")).cast("long"))
    )
    return ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.sum(F.col("v_cents") * F.col("w")).cast("long").alias(
            "weighted_micro_cents"
        ),
        F.sum("w").cast("long").alias("weight_sum"),
        F.round(
            F.sum(F.col("v_cents") * F.col("w")).cast("double")
            / F.sum("w").cast("double")
            / F.lit(100.0),
            6,
        ).alias("ewma_value"),
    )


@query(
    "w_cumulative_distinct",
    """
    WITH f AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events)
    SELECT user_id, event_type,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS BIGINT)
             AS running_distinct
    FROM f WHERE rn = 1
    """,
)
def w_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Running DISTINCT count per user over event time -- the
    # first-touch/variety feature (how many distinct event types has
    # this user produced so far, stamped at each first occurrence).
    # COUNT(DISTINCT) OVER a running frame is unsupported in both
    # engines; the relational decomposition is two stacked windows:
    # first-occurrence flag (row_number per (user, type) = 1), then
    # ordinal numbering of the survivors per user.  Both windows key on
    # user_id, so the second rides the first's partitioning -- one
    # exchange total.  Unique (ts, event_id) tiebreaker keeps the
    # numbering deterministic cross-engine.
    ev = tbl(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    firsts = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return firsts.select(
        "user_id",
        "event_type",
        F.row_number().over(w2).cast("long").alias("running_distinct"),
    )


def _cents_histogram(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Events as (event_type, v) integer cents, and their (event_type, v, c)
    value histogram."""
    ev = tbl(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    hist = ev.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))
    return ev, hist


@query(
    "agg_winsorized_stats",
    """
    WITH v AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
      FROM events),
    hist AS (
      SELECT event_type, v_cents, count(*) AS c
      FROM v GROUP BY event_type, v_cents),
    cdf AS (
      SELECT event_type, v_cents, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY v_cents
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM hist),
    thr AS (
      SELECT event_type,
             min(CASE WHEN cum >= (n + 19) // 20 THEN v_cents END) AS p05,
             min(CASE WHEN cum >= (19 * n + 19) // 20 THEN v_cents END) AS p95
      FROM cdf GROUP BY event_type)
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(t.p05 AS BIGINT) AS p05_cents,
           CAST(t.p95 AS BIGINT) AS p95_cents,
           CAST(sum(CASE WHEN v.v_cents < t.p05 THEN t.p05
                         WHEN v.v_cents > t.p95 THEN t.p95
                         ELSE v.v_cents END) AS BIGINT) AS winsorized_sum_cents,
           CAST((sum(CASE WHEN v.v_cents < t.p05 THEN t.p05
                          WHEN v.v_cents > t.p95 THEN t.p95
                          ELSE v.v_cents END) * 10000) // count(*) AS BIGINT)
             AS winsorized_mean_micro,
           CAST(sum(CASE WHEN v.v_cents < t.p05 OR v.v_cents > t.p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM v JOIN thr t ON t.event_type = v.event_type
    GROUP BY v.event_type, t.p05, t.p95
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Winsorized (clamped-tail) robust statistics per event type: exact
    # discrete p05/p95 via the HISTOGRAM-CDF decomposition, then clamp
    # and aggregate.  The naive exact form ranks every raw row in a
    # per-group sort window (data-sized per-key sort -- the shape the
    # KMV fix just removed); instead the values pre-aggregate to
    # (group, value) counts (one combinable shuffle), the cumulative
    # window runs over the DISTINCT-VALUE relation (cents-bounded, tiny),
    # and the rank-r value is min(v where cum >= r).  The clamp is a
    # broadcast join back.  Integer cents/micro throughout.
    ev, hist = _cents_histogram(spark, sf_dir)
    wc = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    cdf = hist.withColumn("cum", F.sum("c").over(wc)).withColumn(
        "n", F.sum("c").over(wn)
    )
    thr = cdf.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 19) div 20"), F.col("v"))
        ).alias("p05"),
        F.min(
            F.when(F.col("cum") >= F.expr("(19 * n + 19) div 20"), F.col("v"))
        ).alias("p95"),
    )
    clamped = ev.join(F.broadcast(thr), "event_type").withColumn(
        "w",
        F.when(F.col("v") < F.col("p05"), F.col("p05"))
        .when(F.col("v") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("v")),
    )
    return clamped.groupBy("event_type", "p05", "p95").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("w").cast("long").alias("winsorized_sum_cents"),
        F.sum(
            ((F.col("v") < F.col("p05")) | (F.col("v") > F.col("p95"))).cast(
                "long"
            )
        ).alias("n_clamped"),
    ).select(
        "event_type",
        "n",
        F.col("p05").cast("long").alias("p05_cents"),
        F.col("p95").cast("long").alias("p95_cents"),
        "winsorized_sum_cents",
        F.expr("(winsorized_sum_cents * 10000) div n")
        .cast("long")
        .alias("winsorized_mean_micro"),
        F.col("n_clamped").cast("long").alias("n_clamped"),
    )


@query(
    "j_interval_overlap",
    """
    WITH w AS (
      SELECT o_orderkey AS k, o_orderdate AS s,
             o_orderdate + INTERVAL 14 DAY AS e
      FROM orders WHERE o_totalprice > 490000)
    SELECT a.k AS a_id, b.k AS b_id,
           CAST(datediff('day', greatest(a.s, b.s), least(a.e, b.e)) + 1
                AS BIGINT) AS overlap_days
    FROM w a JOIN w b ON a.k < b.k AND a.s <= b.e AND b.s <= a.e
    """,
)
def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Interval-overlap join (operators/joins.py::interval_overlap_join):
    # concurrent high-value order windows (14-day spans over the rare
    # o_totalprice > 490k tail).  The oracle brute-forces the theta-join
    # (fine at gate scale); the engine runs the GRAIN-BUCKETED form --
    # explode to week buckets, equi-join on bucket, exact refine, dedupe
    # -- the shape that stays hash-partitionable at 100 TB where the
    # theta-join is an all-pairs scan.  Plan-asserted: no
    # CartesianProduct (tests/test_plans.py).
    w = (
        tbl(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 490000)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderdate").alias("s"),
            F.date_add(F.col("o_orderdate"), 14).cast("timestamp").alias("e"),
        )
    )
    from kcl_akka_stream_spark.operators.joins import interval_overlap_join

    a = w.select(
        F.col("k").alias("a_id"),
        F.col("s").alias("a_start"),
        F.col("e").alias("a_end"),
    )
    b = w.select(
        F.col("k").alias("b_id"),
        F.col("s").alias("b_start"),
        F.col("e").alias("b_end"),
    )
    return interval_overlap_join(a, b, grain_days=7).filter(
        F.col("a_id") < F.col("b_id")
    )


_POWER_SUMS_ORACLE = """
    WITH v AS (
      SELECT event_type, CAST(floor(value * 10 + 0.5) AS BIGINT) AS v
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v) AS BIGINT) AS s1,
           CAST(sum(v * v) AS BIGINT) AS s2,
           CAST(sum(v * v * v) AS BIGINT) AS s3,
           CAST((sum(v) * 100000) // count(*) AS BIGINT) AS mean_micro
    FROM v GROUP BY event_type
    """


@query("agg_power_sums", _POWER_SUMS_ORACLE)
def agg_power_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact moment states (operators/aggregations.py::power_sums): n and
    # the first three integer power sums per event type -- the mergeable
    # basis every mean/variance/skewness derives from.  Deci-unit
    # freezing makes all four counters plain int64 adds: commutative and
    # order-independent, so map-side combine, incremental merges and the
    # streaming twin (stream_moments_merge) are bit-identical to the
    # direct build -- proven by sharing this oracle.  One combinable
    # shuffle; at 100 TB the state is groups x 4 longs, never the data.
    from kcl_akka_stream_spark.operators.aggregations import power_sums

    st = power_sums(tbl(spark, sf_dir, "events"), "event_type", "value")
    return st.select(
        "event_type", "n", "s1", "s2", "s3",
        F.expr("(s1 * 100000) div n").cast("long").alias("mean_micro"),
    )


@query(
    "w_top_paths",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t2,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS t3
      FROM events),
    paths AS (
      SELECT event_type || '>' || t2 || '>' || t3 AS path
      FROM o WHERE t3 IS NOT NULL)
    SELECT path, CAST(count(*) AS BIGINT) AS n_paths
    FROM paths GROUP BY path
    ORDER BY n_paths DESC, path LIMIT 10
    """,
)
def w_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frequent 3-step behavior paths (operators/windows.py::top_paths)
    # -- the sequential-pattern core of journey analytics: stacked
    # lead()s on ONE user-keyed window sort, a combinable path count,
    # and a TakeOrderedAndProject top-10 (per-partition heads + k-sized
    # driver merge, never a global sort).
    from kcl_akka_stream_spark.operators.windows import top_paths

    return top_paths(
        tbl(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        tiebreak_col="event_id",
        type_col="event_type",
        depth=3,
        k=10,
    )


@query(
    "scalar_url_funcs",
    # The oracle reconstructs every component from the SAME base columns
    # the URL was assembled from -- ground truth by construction, so this
    # checks Spark's parse_url against an independent derivation rather
    # than a second regex of the same flavor.
    """
    SELECT doc_id,
           source || '.example.org' AS host,
           '/docs/' || lang || '/' || CAST(doc_id AS VARCHAR) AS path,
           'lang=' || lang || '&page=' || CAST(doc_id % 7 AS VARCHAR) AS query,
           CAST(doc_id % 7 AS VARCHAR) AS page,
           'https' AS protocol,
           'example.org' AS domain
    FROM documents
    """,
)
def scalar_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # URL parsing -- the web-corpus staple (domain mixing, per-site
    # caps, robots filtering all start here).  The URL column is
    # assembled from fixture columns, then every component is recovered
    # with parse_url (JVM built-in, codegen'd -- never a Python UDF) and
    # the registered-domain suffix with substring_index.  Map-only.
    docs = tbl(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org/docs/"),
        F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        F.lit("?lang="), F.col("lang"),
        F.lit("&page="), (F.col("doc_id") % 7).cast("string"),
    )
    d = docs.select("doc_id", url.alias("__url"))
    return d.select(
        "doc_id",
        F.parse_url(F.col("__url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("__url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("__url"), F.lit("QUERY")).alias("query"),
        F.parse_url(F.col("__url"), F.lit("QUERY"), F.lit("page")).alias("page"),
        F.parse_url(F.col("__url"), F.lit("PROTOCOL")).alias("protocol"),
        F.substring_index(
            F.parse_url(F.col("__url"), F.lit("HOST")), ".", -2
        ).alias("domain"),
    )


@query(
    "j_scd2_point_in_time",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    ch AS (
      SELECT user_id, event_type, ts, event_id FROM o
      WHERE prev IS NULL OR prev <> event_type),
    scd AS (
      SELECT user_id, event_type AS state,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT)
               AS version,
             ts AS vf,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS vt
      FROM ch),
    u AS (SELECT DISTINCT user_id FROM events),
    t AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-02 00:00:00',
                                        TIMESTAMP '2024-01-29 00:00:00',
                                        INTERVAL 7 DAY)) AS pt),
    probe AS (SELECT user_id, pt FROM u CROSS JOIN t)
    SELECT p.user_id,
           strftime(p.pt, '%Y-%m-%d %H:%M:%S') AS at_ts,
           s.state, s.version
    FROM probe p LEFT JOIN scd s
      ON s.user_id = p.user_id AND s.vf <= p.pt
     AND (s.vt IS NULL OR p.pt < s.vt)
    """,
)
def j_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Point-in-time (as-of) lookup against the SCD2 dimension built by
    # pipeline_scd2_history -- the serving half of the SCD2 pair: for a
    # weekly probe grid over every user, recover the state valid AT that
    # instant via the half-open range predicate [valid_from, valid_to).
    # The probe grid explodes a literal timestamp sequence per user
    # (map-side -- no cartesian node), and the join is user-equi with
    # the range check as join filter, so it hash-partitions on the key
    # at any scale; the changes-sized SCD2 side is the small build.
    from kcl_akka_stream_spark.operators.cdc import scd2_compact

    ev = tbl(spark, sf_dir, "events")
    scd = scd2_compact(ev).select(
        F.col("user_id").alias("s_user"), "state", "version",
        "valid_from", "valid_to",
    )
    probes = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.explode(
                F.expr(
                    "sequence(timestamp'2024-01-02 00:00:00',"
                    " timestamp'2024-01-29 00:00:00', interval 7 days)"
                )
            ).alias("pt"),
        )
    )
    joined = probes.join(
        scd,
        (F.col("s_user") == F.col("user_id"))
        & (F.col("valid_from") <= F.col("pt"))
        & (F.col("valid_to").isNull() | (F.col("pt") < F.col("valid_to"))),
        "left",
    )
    return joined.select(
        "user_id",
        F.date_format("pt", "yyyy-MM-dd HH:mm:ss").alias("at_ts"),
        "state",
        "version",
    )


@query(
    "agg_mode_exact",
    """
    WITH v AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events),
    hist AS (
      SELECT event_type, v, count(*) AS c FROM v GROUP BY event_type, v),
    ranked AS (
      SELECT event_type, v, c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY c DESC, v) AS rn
      FROM hist)
    SELECT event_type, CAST(v AS BIGINT) AS mode_cents,
           CAST(c AS BIGINT) AS n_mode
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact per-group mode with a DETERMINISTIC tie-break (lowest value
    # among max counts) -- the built-in `mode` aggregate is
    # fold-order-nondeterministic on ties, the same trap as duplicate-key
    # max_by (agg_conditional_funcs).  Decomposition: one combinable
    # (group, value) histogram shuffle, then the rank window runs over
    # the VALUE-BOUNDED histogram relation, never the data (the
    # winsorized-stats discipline).
    _, hist = _cents_histogram(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(F.col("c").desc(), "v")
    return (
        hist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("v").cast("long").alias("mode_cents"),
            F.col("c").cast("long").alias("n_mode"),
        )
    )


@query(
    "w_inter_event_gap_stats",
    """
    WITH g AS (
      SELECT event_type,
             (epoch_us(ts)
               - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id))) // 1000000
               AS gap_s
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(gap_s) AS BIGINT) AS sum_gap_s,
           CAST(min(gap_s) AS BIGINT) AS min_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s,
           CAST((sum(gap_s) * 1000) // count(*) AS BIGINT) AS mean_gap_ms
    FROM g WHERE gap_s IS NOT NULL
    GROUP BY event_type
    """,
)
def w_inter_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Inter-arrival analytics: per-user consecutive gaps (the gap stamps
    # the LATER event), aggregated per event type in integer seconds --
    # the activity-cadence feature behind churn/engagement models and
    # the empirical basis for choosing sessionize gaps (w_sessionize)
    # and watermark widths (stream_*).  One user-keyed window sort, one
    # combinable agg.
    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact microsecond difference floored to whole seconds -- identical
    # truncation in both engines (unix_timestamp would truncate BEFORE
    # the subtraction; epoch() doubles would round)
    g = ev.select(
        "event_type",
        F.expr(
            "(unix_micros(ts) - unix_micros(lag(ts) OVER"
            " (PARTITION BY user_id ORDER BY ts, event_id))) div 1000000"
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap_s").cast("long").alias("sum_gap_s"),
        F.min("gap_s").cast("long").alias("min_gap_s"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
        F.expr("(sum(gap_s) * 1000) div count(1)").cast("long").alias("mean_gap_ms"),
    )


@query(
    "w_retention_cohorts",
    """
    WITH w AS (
      SELECT user_id, date_trunc('week', ts) AS wk FROM events),
    first_wk AS (
      SELECT user_id, min(wk) AS cohort FROM w GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, wk FROM w)
    SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
           CAST(datediff('day', f.cohort, a.wk) // 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM active a JOIN first_wk f ON f.user_id = a.user_id
    GROUP BY f.cohort, datediff('day', f.cohort, a.wk) // 7
    """,
)
def w_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cohort retention matrix -- the product-analytics staple: users
    # grouped by first-seen week, activity counted at each week offset
    # since the cohort.  The first-seen week attaches as a user-keyed
    # window min (rides the same partitioning as the distinct), so the
    # whole matrix is two combinable aggs on one key exchange + one
    # cohort-sized final agg.
    ev = tbl(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    )
    active = ev.distinct()
    cohort = F.min("wk").over(Window.partitionBy("user_id"))
    return (
        active.withColumn("cohort", cohort)
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            F.expr("datediff(wk, cohort) div 7").cast("long").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )


@query(
    "agg_gini_report",
    """
    WITH v AS (
      SELECT event_type, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events),
    r AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v, event_id) AS i
      FROM v)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v) AS BIGINT) AS sum_cents,
           CAST(sum(i * v) AS BIGINT) AS rank_weighted_cents
    FROM r GROUP BY event_type
    """,
)
def agg_gini_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gini inequality coefficient per event type, from the sorted-rank
    # identity G = 2*sum(i*v_i)/(n*sum v) - (n+1)/n: the query emits the
    # EXACT INTEGER ingredients (n, sum v, sum i*v with a deterministic
    # (v, event_id) rank) and leaves the one division to the caller --
    # the same freeze-then-divide discipline as the moment/corr family.
    # One per-group rank window + one combinable agg.
    ev = tbl(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    w = Window.partitionBy("event_type").orderBy("v", "event_id")
    return (
        ev.withColumn("i", F.row_number().over(w))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("sum_cents"),
            F.sum(F.col("i") * F.col("v")).cast("long").alias("rank_weighted_cents"),
        )
    )


@query(
    "agg_mad_outliers",
    """
    WITH h AS (
      SELECT event_type AS g,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v,
             count(*) AS c
      FROM events GROUP BY 1, 2),
    hh AS (
      SELECT g, v, c,
             sum(c) OVER (PARTITION BY g ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(c) OVER (PARTITION BY g) AS n
      FROM h),
    med AS (
      SELECT g, max(n) AS n,
             min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS med
      FROM hh GROUP BY g),
    dh AS (
      SELECT h.g, med.n, abs(h.v - med.med) AS dev, sum(h.c) AS c
      FROM h JOIN med ON med.g = h.g
      GROUP BY h.g, med.n, abs(h.v - med.med)),
    dcum AS (
      SELECT g, n, dev, c,
             sum(c) OVER (PARTITION BY g ORDER BY dev
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM dh),
    mad AS (
      SELECT g, min(CASE WHEN cum >= (n + 1) // 2 THEN dev END) AS mad
      FROM dcum GROUP BY g)
    SELECT dh.g AS event_type, CAST(max(dh.n) AS BIGINT) AS n,
           CAST(max(med.med) AS BIGINT) AS med_micro,
           CAST(max(mad.mad) AS BIGINT) AS mad_micro,
           CAST(sum(CASE WHEN dh.dev > 3 * mad.mad THEN dh.c ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dh JOIN mad ON mad.g = dh.g JOIN med ON med.g = dh.g
    GROUP BY dh.g
    """,
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Robust per-type outlier report (operators/aggregations.py::
    # mad_outlier_report): exact discrete median + MAD + the 3-MAD fence
    # count -- the anomaly gate z-scores can't give (one wild point
    # inflates mean AND stddev; median/MAD has 50% breakdown).  The
    # winsorized-stats scale discipline: ONE data-sized (type, value)
    # count, then every median/cumulative step rides the DISTINCT-VALUE
    # histogram relation -- no data-sized per-key sort anywhere.
    from kcl_akka_stream_spark.operators.aggregations import mad_outlier_report

    ev = tbl(spark, sf_dir, "events")
    r = mad_outlier_report(ev, "event_type", "value")
    return r.select(
        "event_type",
        "n",
        F.col("med_units").alias("med_micro"),
        F.col("mad_units").alias("mad_micro"),
        "n_outliers",
    )


@query(
    "agg_bitmap_distinct",
    # The oracle is GROUND TRUTH, not the same arithmetic: COUNT(DISTINCT)
    # directly, plus the touched-word count as COUNT(DISTINCT id div 63).
    # If the bitmap shift/OR/popcount logic miscounts ANYTHING, the gate
    # goes red -- the acceptance-contract pattern (agg_approx_distinct_report),
    # here for an exact mergeable state.
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id // 63) AS BIGINT) AS n_words,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact distinct users per event type via 63-bit bitmap words
    # (operators/sketches.py::bitmap_state): the MERGEABLE exact distinct
    # -- bitwise OR is commutative/associative/IDEMPOTENT, so per-batch /
    # per-day states combine without re-reading data and replays absorb
    # for free, which COUNT(DISTINCT) can never do incrementally.  One
    # (type, word)-keyed combinable agg (map-side OR), then a popcount
    # rollup on the words-sized state.
    from kcl_akka_stream_spark.operators.sketches import (
        bitmap_counts,
        bitmap_state,
    )

    ev = tbl(spark, sf_dir, "events")
    state = bitmap_state(ev, "event_type", "user_id")
    return bitmap_counts(state, "event_type").select(
        "event_type", "n_words", "n_distinct"
    )


@query(
    "scalar_bitwise_funcs",
    """
    SELECT event_id,
           CAST(event_id & 255 AS BIGINT) AS b_and,
           CAST(event_id | 4096 AS BIGINT) AS b_or,
           CAST(xor(event_id, 1365) AS BIGINT) AS b_xor,
           CAST((event_id & 1023) << 3 AS BIGINT) AS b_shl,
           CAST(event_id >> 4 AS BIGINT) AS b_shr,
           CAST(bit_count(event_id) AS BIGINT) AS b_cnt
    FROM events
    """,
)
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.8 bitwise scalar surface: AND/OR/XOR masks, bounded shifts,
    # popcount -- the flag-field / bucket-arithmetic idioms (and the
    # primitives under bitmap_state/simhash).  Map-only, whole-stage
    # codegen; engines diverge only at shift overflow (Spark wraps,
    # DuckDB raises), so the shifted operand is masked to 10 bits first
    # -- the portable discipline bitmap_state's 63-bit words follow.
    ev = tbl(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("event_id & 255").cast("long").alias("b_and"),
        F.expr("event_id | 4096").cast("long").alias("b_or"),
        F.expr("event_id ^ 1365").cast("long").alias("b_xor"),
        F.shiftleft(F.expr("event_id & 1023"), 3).cast("long").alias("b_shl"),
        F.shiftright(F.col("event_id"), 4).cast("long").alias("b_shr"),
        F.bit_count("event_id").cast("long").alias("b_cnt"),
    )


@query(
    "j_asof_forward",
    """
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id AS purchase_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, c.click_id
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
)
def j_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Forward as-of join (operators/joins.py::asof_join_forward): for
    # each purchase, the user's NEXT click at-or-after it -- the
    # time-to-next-event lookup mirroring j_asof's lookback.  Same one
    # key shuffle, no Python; matches DuckDB's native forward ASOF
    # (`l.ts <= r.ts`).  Right side pre-aggregated per (user, ts) so
    # equal-timestamp winners are deterministic in both engines.
    purchases, clicks = _asof_sides(spark, sf_dir)
    return J.asof_join_forward(
        purchases, clicks, "user_id", "ts", "ts", ["click_id"]
    ).select("purchase_id", "user_id", "click_id")


@query(
    "scalar_array_funcs",
    """
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           array_to_string(list_slice(list_sort(toks), 1, 3), ' ') AS first3_sorted,
           array_to_string(list_transform(list_slice(toks, 1, 3), x -> upper(x)), ' ')
             AS upper3,
           CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0)
                AS BIGINT) AS total_len,
           CAST(list_contains(toks, 'the') AS INT) AS has_the,
           CAST(len(list_filter(toks, x -> len(x) > 5)) AS BIGINT) AS n_long
    FROM t
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.8 array/higher-order-function surface: sort/slice/distinct,
    # transform, filter, aggregate (fold), contains -- the collection
    # idioms under every token pipeline, exercised as scalars with the
    # joined-string convention for array outputs.  The token array
    # materializes ONCE in a child projection (the dedup_segments
    # lesson: an inlined array expression re-tokenizes per reference);
    # everything after is map-only whole-stage codegen.
    from kcl_akka_stream_spark.operators.text import tokens

    docs = tbl(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
        F.concat_ws(" ", F.slice(F.sort_array("toks"), 1, 3)).alias(
            "first3_sorted"
        ),
        F.concat_ws(
            " ", F.transform(F.slice("toks", 1, 3), lambda x: F.upper(x))
        ).alias("upper3"),
        F.aggregate(
            "toks", F.lit(0), lambda acc, x: acc + F.length(x)
        )
        .cast("long")
        .alias("total_len"),
        F.array_contains("toks", "the").cast("int").alias("has_the"),
        F.size(F.filter("toks", lambda x: F.length(x) > 5))
        .cast("long")
        .alias("n_long"),
    )


@query(
    "w_login_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events),
    isl AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INT) AS island
      FROM days),
    runs AS (
      SELECT user_id, island, count(*) AS len,
             min(d) AS streak_start
      FROM isl GROUP BY user_id, island),
    best AS (
      SELECT user_id, len, streak_start,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY len DESC, streak_start) AS rn
      FROM runs)
    SELECT user_id, CAST(len AS BIGINT) AS longest_streak,
           strftime(streak_start, '%Y-%m-%d') AS streak_start
    FROM best WHERE rn = 1
    """,
)
def w_login_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gaps-and-islands: longest run of CONSECUTIVE active days per user
    # (the retention/engagement streak metric).  The classic relational
    # trick -- day minus its per-user ordinal is CONSTANT within a
    # consecutive run -- turns streak detection into one distinct + two
    # stacked windows + a run-sized agg, all riding a single user-keyed
    # exchange; no self-join, no iteration.  Earliest streak wins ties.
    ev = tbl(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    isl = days.withColumn(
        "island", F.expr("date_sub(d, row_number() OVER (PARTITION BY user_id ORDER BY d))")
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("d").alias("streak_start"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), "streak_start"
    )
    return (
        runs.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").alias("longest_streak"),
            F.date_format("streak_start", "yyyy-MM-dd").alias("streak_start"),
        )
    )


@query(
    "j_asof_tolerance",
    """
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
      SELECT event_id AS purchase_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id,
           CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.click_id END
             AS click_id
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def j_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bounded-staleness as-of join (pandas merge_asof's `tolerance`):
    # the latest click at-or-before each purchase counts only if it is
    # at most 1 hour stale -- the freshness contract every feature-store
    # lookup carries (a day-old price must NOT silently join as
    # "latest").  Implemented by carrying the matched timestamp through
    # the same one-shuffle union+window as j_asof and nulling matches
    # beyond the window -- tolerance is a post-filter, the join cost is
    # unchanged.
    ev = tbl(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", "ts", "click_id", F.col("ts").alias("click_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    j = J.asof_join(
        purchases, clicks, "user_id", "ts", "ts", ["click_id", "click_ts"]
    )
    within = F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return j.select(
        "purchase_id",
        "user_id",
        F.when(within, F.col("click_id")).alias("click_id"),
    )


@query(
    "w_time_weighted_avg",
    """
    WITH seq AS (
      SELECT user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
             epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_us
      FROM events),
    seg AS (SELECT user_id, c, next_us - us AS dur FROM seq)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(dur) AS BIGINT) AS span_us,
           CAST(CASE WHEN sum(dur) > 0 THEN sum(c * dur) // sum(dur) END
                AS BIGINT) AS twa_cents
    FROM seg GROUP BY user_id
    """,
)
def w_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Time-weighted average per user (the timeseries / feature-store TWA:
    # each value holds until the next observation -- LOCF weighting), the
    # metric behind "average balance", "mean gauge reading", duty-cycle.
    # Exact integer discipline end-to-end: unix_micros deltas (timezone
    # interpretation cancels in the subtraction), integer-cent values,
    # int64 weighted numerator, one integer division at the end -- both
    # engines agree bit-for-bit.  One user-keyed exchange carries the
    # lead() window AND the final agg (operators/windows.py).
    ev = tbl(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", _cents(F.col("value")).alias("cents")
    )
    return W.time_weighted_avg(ev, "user_id", "ts", "cents", "event_id")


@query(
    "j_asof_nearest",
    """
    WITH clicks AS (
      SELECT user_id, ts, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts FROM events
      WHERE event_type = 'purchase'),
    back AS (
      SELECT p.purchase_id, p.user_id, p.ts, c.click_id AS b_id, c.ts AS b_ts
      FROM purchases p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts >= c.ts),
    fwd AS (
      SELECT p.purchase_id, c.click_id AS f_id, c.ts AS f_ts
      FROM purchases p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts <= c.ts)
    SELECT b.purchase_id, b.user_id,
           CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL
                      OR epoch_us(b.ts) - epoch_us(b.b_ts)
                         <= epoch_us(f.f_ts) - epoch_us(b.ts))
                THEN b.b_id ELSE f.f_id END AS click_id,
           CAST(CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL
                      OR epoch_us(b.ts) - epoch_us(b.b_ts)
                         <= epoch_us(f.f_ts) - epoch_us(b.ts))
                THEN epoch_us(b.ts) - epoch_us(b.b_ts)
                WHEN f.f_ts IS NOT NULL
                THEN epoch_us(f.f_ts) - epoch_us(b.ts) END
                AS BIGINT) AS asof_dist_us
    FROM back b JOIN fwd f ON b.purchase_id = f.purchase_id
    """,
)
def j_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Nearest as-of join (pandas merge_asof direction='nearest'): each
    # purchase pairs with its CLOSEST click in time, before or after,
    # equidistant ties to the earlier -- sensor alignment / nearest-quote
    # semantics, completing the as-of family (backward j_asof, forward
    # j_asof_forward, bounded j_asof_tolerance).  Spark reads BOTH
    # directions from one union + one exchange/sort with mirrored window
    # frames (operators/joins.py::asof_join_nearest); the oracle
    # composes DuckDB's native backward + forward ASOF joins and applies
    # the same tie rule.
    purchases, clicks = _asof_sides(spark, sf_dir)
    j = J.asof_join_nearest(
        purchases, clicks, "user_id", "ts", "ts", ["click_id"]
    )
    return j.select("purchase_id", "user_id", "click_id", "asof_dist_us")


@query(
    "agg_itemset_pairs",
    """
    WITH items AS (
      SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    pairs AS (
      SELECT a.i AS brand1, b2.i AS brand2, count(*) AS support
      FROM items a JOIN items b2 ON a.b = b2.b AND a.i < b2.i
      GROUP BY a.i, b2.i)
    SELECT brand1, brand2, CAST(support AS BIGINT) AS support
    FROM pairs ORDER BY support DESC, brand1, brand2 LIMIT 40
    """,
)
def agg_itemset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frequent-itemset core (k=2): which part BRANDS co-occur in the same
    # order, by support -- market-basket association counts.  The brand
    # dimension attaches by broadcast; pair generation is basket-local
    # (self equi-join on the order key, item1 < item2), so the blow-up is
    # sum over baskets of C(m,2) -- governed by basket size (fixture max
    # 11), never corpus size.  The 100 TB guard is the max_basket_size
    # argument (VERDICT r8 #4): one hot basket cannot contribute C(m,2)
    # pairs.  64 drops nothing at any fixture SF (max basket 11), so the
    # uncapped oracle still matches bit-for-bit; production sets it to
    # its basket-size p99.9.  Top-40 is TakeOrderedAndProject with full
    # tiebreak.
    from kcl_akka_stream_spark.operators.aggregations import (
        cooccurrence_pairs,
    )

    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = tbl(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select("l_orderkey", "p_brand")
    pairs = cooccurrence_pairs(
        baskets, "l_orderkey", "p_brand", max_basket_size=64
    )
    return (
        pairs.select(
            F.col("item1").alias("brand1"),
            F.col("item2").alias("brand2"),
            "support",
        )
        .orderBy(F.col("support").desc(), "brand1", "brand2")
        .limit(40)
    )


@query(
    "w_session_attribution",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged),
    rn AS (
      SELECT user_id, session_id, event_type, value,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts DESC, event_id DESC) AS rnd
      FROM sess),
    per_sess AS (
      SELECT user_id, session_id,
             max(CASE WHEN rn = 1 THEN event_type END) AS first_touch,
             max(CASE WHEN rnd = 1 THEN event_type END) AS last_touch,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                      ELSE 0 END) AS purchase_cents
      FROM rn GROUP BY user_id, session_id)
    SELECT first_touch, last_touch,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN purchase_cents > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converting,
           CAST(sum(purchase_cents) AS BIGINT) AS purchase_cents
    FROM per_sess GROUP BY first_touch, last_touch
    """,
)
def w_session_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Marketing-style attribution matrix: sessionize (30-min gap, the
    # proven w_sessionize machinery), then credit each session's purchase
    # revenue to its (first-touch, last-touch) event-type pair -- the
    # "which entry channel converts" report.  Session boundaries are
    # tie-order-stable (equal-ts rows always share a session); first/last
    # picks carry a full (ts, event_id) tiebreak.  Scale shape: ONE
    # user exchange carries sessionize AND both rank windows
    # (hash(user) satisfies the (user, session) clustering), and the
    # session/matrix aggs are combinable.
    ev = tbl(spark, sf_dir, "events")
    sess = W.sessionize(ev, "user_id", "ts", 1800)
    wf = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    wl = Window.partitionBy("user_id", "session_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    rn = sess.select(
        "user_id",
        "session_id",
        "event_type",
        F.row_number().over(wf).alias("rn"),
        F.row_number().over(wl).alias("rnd"),
        F.when(F.col("event_type") == "purchase", _cents(F.col("value")))
        .otherwise(F.lit(0))
        .alias("p_cents"),
    )
    per_sess = rn.groupBy("user_id", "session_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias(
            "first_touch"
        ),
        F.max(F.when(F.col("rnd") == 1, F.col("event_type"))).alias(
            "last_touch"
        ),
        F.sum("p_cents").alias("purchase_cents"),
    )
    return per_sess.groupBy("first_touch", "last_touch").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum((F.col("purchase_cents") > 0).cast("int"))
        .cast("long")
        .alias("n_converting"),
        F.sum("purchase_cents").cast("long").alias("purchase_cents"),
    )


@query(
    "agg_ab_test_report",
    """
    WITH s AS (
      SELECT event_type AS variant, count(*) AS n,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s1,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                 * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s2
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type),
    w AS (
      SELECT a.n AS n_a, a.s1 AS s1_a, a.s2 AS s2_a,
             b.n AS n_b, b.s1 AS s1_b, b.s2 AS s2_b
      FROM s a, s b WHERE a.variant = 'click' AND b.variant = 'view')
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(s1_a AS BIGINT) AS s1_a,
           CAST(s2_a AS BIGINT) AS s2_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(s1_b AS BIGINT) AS s1_b,
           CAST(s2_b AS BIGINT) AS s2_b,
           CAST((s1_a * 1000000) // n_a - (s1_b * 1000000) // n_b
                AS BIGINT) AS mean_diff_micro,
           round((CAST(s1_a AS DOUBLE) / n_a - CAST(s1_b AS DOUBLE) / n_b)
                 / sqrt((CAST(s2_a AS DOUBLE)
                         - CAST(s1_a AS DOUBLE) * s1_a / n_a)
                        / (n_a - 1) / n_a
                        + (CAST(s2_b AS DOUBLE)
                           - CAST(s1_b AS DOUBLE) * s1_b / n_b)
                        / (n_b - 1) / n_b), 6) AS welch_t
    FROM w
    """,
)
def agg_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-sample experiment readout (A/B test): exact integer sufficient
    # statistics (n, sum, sum-of-squares in cents -- order-independent
    # int64 adds, the power-sums discipline) for the click-vs-view value
    # distributions, the integer mean gap, and the Welch t statistic
    # derived from those identical integers in one shared expression
    # shape (round 6).  The sufficient statistics are combinable states
    # -- this readout can be maintained incrementally / on a stream
    # exactly like stream_moments_merge.
    ev = tbl(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    s = (
        ev.select("event_type", _cents(F.col("value")).alias("c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("s1"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
        )
    )
    a = s.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_a"), F.col("s1").alias("s1_a"), F.col("s2").alias("s2_a")
    )
    b = s.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_b"), F.col("s1").alias("s1_b"), F.col("s2").alias("s2_b")
    )
    w = a.crossJoin(F.broadcast(b))
    va = (
        F.col("s2_a").cast("double")
        - F.col("s1_a").cast("double") * F.col("s1_a") / F.col("n_a")
    ) / (F.col("n_a") - 1) / F.col("n_a")
    vb = (
        F.col("s2_b").cast("double")
        - F.col("s1_b").cast("double") * F.col("s1_b") / F.col("n_b")
    ) / (F.col("n_b") - 1) / F.col("n_b")
    return w.select(
        "n_a", "s1_a", "s2_a", "n_b", "s1_b", "s2_b",
        (
            F.expr("(s1_a * 1000000) div n_a")
            - F.expr("(s1_b * 1000000) div n_b")
        )
        .cast("long")
        .alias("mean_diff_micro"),
        F.round(
            (
                F.col("s1_a").cast("double") / F.col("n_a")
                - F.col("s1_b").cast("double") / F.col("n_b")
            )
            / F.sqrt(va + vb),
            6,
        ).alias("welch_t"),
    )


@query(
    "w_wow_change",
    """
    WITH wk AS (
      SELECT event_type,
             strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY event_type, date_trunc('week', ts))
    SELECT event_type, week_start, CAST(cents AS BIGINT) AS cents,
           CAST(lag(cents) OVER w AS BIGINT) AS prev_cents,
           CAST(((cents - lag(cents) OVER w) * 10000) // lag(cents) OVER w
                AS BIGINT) AS delta_bps
    FROM wk
    WINDOW w AS (PARTITION BY event_type ORDER BY week_start)
    """,
)
def w_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Week-over-week trend: weekly value mass per event type (exact
    # integer cents) with the previous week and the basis-point delta via
    # integer division -- the ops-dashboard "is this metric moving"
    # query.  The weekly rollup is combinable and weeks-sized; the lag
    # window rides the tiny rollup relation (both engines truncate weeks
    # to Monday).
    ev = tbl(spark, sf_dir, "events")
    wk = (
        ev.select(
            "event_type",
            F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
            .alias("week_start"),
            _cents(F.col("value")).alias("c"),
        )
        .groupBy("event_type", "week_start")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("week_start")
    return wk.select(
        "event_type",
        "week_start",
        "cents",
        F.lag("cents").over(w).cast("long").alias("prev_cents"),
        F.expr(
            "((cents - lag(cents) OVER (PARTITION BY event_type ORDER BY week_start)) * 10000)"
            " div lag(cents) OVER (PARTITION BY event_type ORDER BY week_start)"
        )
        .cast("long")
        .alias("delta_bps"),
    )


# ---------------------------------------------------------------------------
# Wave 17: bitmap set algebra, trailing-window anomaly gate, regex surface
# ---------------------------------------------------------------------------


@query(
    "agg_bitmap_set_ops",
    # GROUND-TRUTH oracle: DuckDB computes the set sizes directly from the
    # member sets (COUNT DISTINCT + intersection via equi-join of the two
    # distinct sets) -- if any word-aligned AND/OR/popcount is wrong, the
    # gate goes red.  The acceptance-contract pattern for exact set algebra.
    """
    WITH a AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'purchase' AND value >= 50),
    b AS (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'click' AND value >= 50),
    i AS (SELECT count(*) AS n_and FROM a JOIN b USING (user_id)),
    sa AS (SELECT count(*) AS n_a FROM a),
    sb AS (SELECT count(*) AS n_b FROM b)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_and AS BIGINT) AS n_and,
           CAST(n_a + n_b - n_and AS BIGINT) AS n_or,
           CAST(n_a - n_and AS BIGINT) AS n_a_only,
           CAST(n_b - n_and AS BIGINT) AS n_b_only,
           CAST(n_and * 1000000 // (n_a + n_b - n_and) AS BIGINT)
             AS jaccard_ppm
    FROM i, sa, sb
    """,
)
def agg_bitmap_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT audience set algebra on bitmap states (operators/sketches.py::
    # bitmap_set_ops): intersection / union / difference sizes of the
    # high-value purchaser and clicker user sets by word-aligned bitwise
    # AND/OR -- the exact twin of agg_kmv_set_ops (same audience-overlap
    # question, sketch route) for DENSE id spaces, where a bitmap state is
    # both exact and smaller than the KMV error would justify.  Two
    # combinable map-side ORs, one word-keyed join of two bounded state
    # relations, one single-row popcount rollup; the member sets are never
    # joined.  Bitwise OR's idempotence makes the same states the
    # streaming/incremental form (stream_bitmap_merge).
    from kcl_akka_stream_spark.operators.sketches import (
        bitmap_set_ops,
        bitmap_state,
    )

    ev = tbl(spark, sf_dir, "events").filter(F.col("value") >= 50)
    a = ev.filter(F.col("event_type") == "purchase")
    b = ev.filter(F.col("event_type") == "click")
    sa = bitmap_state(a, None, "user_id")
    sb = bitmap_state(b, None, "user_id")
    return bitmap_set_ops(sa, sb)


@query(
    "w_anomaly_trailing_zscore",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    t AS (
      SELECT event_type, day, x,
             count(*)   OVER tw AS n_trail,
             sum(x)     OVER tw AS s1,
             sum(x * x) OVER tw AS s2
      FROM daily
      WINDOW tw AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(x AS BIGINT) AS n_events,
           CAST(n_trail AS BIGINT) AS n_trail,
           CAST(CASE WHEN n_trail >= 4
                      AND (n_trail * x - s1) * (n_trail * x - s1)
                          > 9 * (n_trail * s2 - s1 * s1)
                     THEN 1 ELSE 0 END AS INT) AS is_anomaly
    FROM t
    """,
)
def w_anomaly_trailing_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Trailing-window anomaly gate (SPC control chart over the daily
    # series): flag days whose event count sits more than 3 trailing
    # standard deviations from the trailing-7-day mean.  The |z| > 3 test
    # is evaluated WITHOUT sqrt or division: (n*x - s1)^2 > 9*(n*s2 - s1^2)
    # is the same inequality cleared of denominators, pure int64 -- exact
    # cross-engine, no epsilon.  Complementary to agg_mad_outliers (global
    # robust fence) -- this is the LOCAL drift-aware gate a monitoring
    # pipeline runs on arrival.  Scale: the daily rollup is one combinable
    # agg; every window rides ONE exchange keyed by event_type over the
    # days-sized relation.
    ev = tbl(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    tw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    t = (
        daily.withColumn("n_trail", F.count(F.lit(1)).over(tw))
        .withColumn("s1", F.sum("x").over(tw))
        .withColumn("s2", F.sum(F.col("x") * F.col("x")).over(tw))
    )
    dev = F.col("n_trail") * F.col("x") - F.col("s1")
    var9 = 9 * (F.col("n_trail") * F.col("s2") - F.col("s1") * F.col("s1"))
    return t.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("x").cast("long").alias("n_events"),
        F.col("n_trail").cast("long").alias("n_trail"),
        F.when((F.col("n_trail") >= 4) & (dev * dev > var9), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_anomaly"),
    )


@query(
    "scalar_regex_funcs",
    """
    WITH m AS (
      SELECT event_id,
             'user=' || CAST(user_id AS VARCHAR) || ' saw https://ex'
               || CAST(event_id % 7 AS VARCHAR) || '.com/p/'
               || CAST(event_id AS VARCHAR) || ' rating '
               || CAST(CAST(floor(value) AS BIGINT) % 10 AS VARCHAR) || ' of 10 '
               || props AS msg
      FROM events)
    SELECT event_id,
           regexp_extract(msg, '[0-9]+') AS first_num,
           CAST(len(regexp_extract_all(msg, '[0-9]+')) AS BIGINT) AS n_nums,
           regexp_extract(msg, 'https?://[a-z0-9./]+') AS url,
           CAST(regexp_matches(msg, 'rating [5-9]') AS INT) AS high_rating,
           substring(regexp_replace(msg, '[0-9]+', '#', 'g'), 1, 48)
             AS masked_prefix,
           CAST(len(regexp_extract_all(msg, '[a-z]+')) AS BIGINT) AS n_words
    FROM m
    """,
)
def scalar_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.8 regex scalar surface: extract / extract-all count / match-test
    # / global replace over a deterministic messy string assembled from
    # base columns (the dedup_url_canonical fixture discipline -- the raw
    # fixture text is lowercase-only, so the message is built to make
    # every function non-vacuous).  Patterns stay in the character-class
    # subset where Java and RE2 dialects agree; Spark's regexp_replace is
    # global by default, so the oracle passes 'g'.  Map-only,
    # whole-stage codegen.
    # spread(): heavy per-row regex/JSON/map expressions must not
    # serialize onto a 1-partition scan (the r9 #5 lesson extended to
    # plain expensive projections -- measured r10, see NOTES_r10)
    ev = spread(tbl(spark, sf_dir, "events"))
    msg = F.concat(
        F.lit("user="),
        F.col("user_id").cast("string"),
        F.lit(" saw https://ex"),
        (F.col("event_id") % 7).cast("string"),
        F.lit(".com/p/"),
        F.col("event_id").cast("string"),
        F.lit(" rating "),
        (F.floor("value").cast("long") % 10).cast("string"),
        F.lit(" of 10 "),
        F.col("props"),
    )
    m = ev.select("event_id", msg.alias("msg"))
    return m.select(
        "event_id",
        F.regexp_extract("msg", "[0-9]+", 0).alias("first_num"),
        F.expr("size(regexp_extract_all(msg, '[0-9]+', 0))")
        .cast("long")
        .alias("n_nums"),
        F.regexp_extract("msg", "https?://[a-z0-9./]+", 0).alias("url"),
        F.col("msg").rlike("rating [5-9]").cast("int").alias("high_rating"),
        F.substring(
            F.regexp_replace("msg", "[0-9]+", "#"), 1, 48
        ).alias("masked_prefix"),
        F.expr("size(regexp_extract_all(msg, '[a-z]+', 0))")
        .cast("long")
        .alias("n_words"),
    )


# ---------------------------------------------------------------------------
# Wave 18 (round 9): exact weighted median, Pearson sufficient statistics,
# deterministic DP-noised counts
# ---------------------------------------------------------------------------


@query(
    "agg_weighted_median",
    """
    WITH hist AS (
      SELECT l_returnflag AS g,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
             sum(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY l_returnflag,
                             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)),
    c AS (
      SELECT g, v, w,
             sum(w) OVER (PARTITION BY g ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(w) OVER (PARTITION BY g) AS tw
      FROM hist)
    SELECT g AS l_returnflag,
           CAST(max(tw) AS BIGINT) AS total_w,
           CAST(min(v) AS BIGINT) AS wmedian
    FROM c WHERE 2 * cw >= tw GROUP BY g
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact QUANTITY-weighted median price per return flag (operators/
    # aggregations.py::weighted_median): the robust price-level statistic a
    # mixture-reweighting pipeline needs (weighted quantiles decide where
    # token budgets land).  Histogram-CDF decomposition: ONE data-sized
    # (group, value) weight rollup; the cumulative window rides the
    # distinct-value histogram; the pick is pure int64 (2*cw >= tw), no
    # division -- exact cross-engine.
    from kcl_akka_stream_spark.operators.aggregations import weighted_median

    li = tbl(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        _cents(F.col("l_extendedprice")).alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return weighted_median(li, "l_returnflag", "price_cents", "qty")


@query(
    "agg_pearson_corr",
    """
    WITH b AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
             CAST(extract(hour FROM ts) AS BIGINT) AS y
      FROM events),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sx2,
             CAST(sum(y * y) AS BIGINT) AS sy2
      FROM b GROUP BY event_type)
    SELECT event_type, n, sx, sy, sxy, sx2, sy2,
           CASE WHEN CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx > 0
                 AND CAST(n AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy > 0
                THEN round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                           / (sqrt(CAST(n AS DOUBLE) * sx2
                                   - CAST(sx AS DOUBLE) * sx)
                              * sqrt(CAST(n AS DOUBLE) * sy2
                                     - CAST(sy AS DOUBLE) * sy)), 6)
           END AS corr_r,
           CASE WHEN CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx > 0
                THEN CAST(floor((CAST(n AS DOUBLE) * sxy
                                 - CAST(sx AS DOUBLE) * sy) * 1000000.0
                                / (CAST(n AS DOUBLE) * sx2
                                   - CAST(sx AS DOUBLE) * sx)) AS BIGINT)
           END AS beta_micro
    FROM s
    """,
)
def agg_pearson_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pearson correlation + OLS slope between event value (cents) and
    # hour-of-day, per event type, from EXACT integer sufficient
    # statistics (operators/aggregations.py::pearson_stats) -- the
    # quality-calibration primitive (does a curation signal correlate
    # with an outcome?).  n/sx/sy/sxy/sx2/sy2 are plain int64 sums
    # (order-independent, mergeable -- the power-sums discipline); r is
    # ONE float expression from those identical integers rounded 6 dp;
    # the slope stays integer (micro-units, div).  One combinable agg.
    from kcl_akka_stream_spark.operators.aggregations import pearson_stats

    ev = tbl(spark, sf_dir, "events").select(
        "event_type",
        _cents(F.col("value")).alias("x"),
        F.hour("ts").cast("long").alias("y"),
    )
    return pearson_stats(ev, "event_type", "x", "y")


def _dp_noised_oracle() -> str:
    from kcl_akka_stream_spark.operators.sampling import GEOM_HALF_CDF_U32

    def draw(u: str) -> str:
        expr = "8"
        for j in reversed(range(8)):
            expr = f"CASE WHEN {u} < {GEOM_HALF_CDF_U32[j]} THEN {j} ELSE {expr} END"
        return expr

    ua = (
        "CAST(('0x' || substring(md5('dp|' || event_type), 1, 8)) AS BIGINT)"
    )
    ub = (
        "CAST(('0x' || substring(md5('dp|' || event_type), 9, 8)) AS BIGINT)"
    )
    return f"""
    WITH c AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type)
    SELECT event_type,
           CAST(greatest(n + ({draw(ua)}) - ({draw(ub)}), 0) AS BIGINT)
             AS n_noised
    FROM c
    """


@query("agg_dp_noised_counts", _dp_noised_oracle())
def agg_dp_noised_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PSEUDO-DP event-type counts -- reproducible noise for pipeline
    # testing, NOT a privacy guarantee (the operator's output contract;
    # ADVICE r9): the DETERMINISTIC geometric mechanism (operators/
    # sampling.py::pseudo_dp_noised_counts; Ghosh et al. 2009 shape) --
    # discrete-Laplace noise = difference of two truncated
    # Geometric(1 - e^-0.5) draws, each classified from a seeded-md5
    # uniform by the frozen integer CDF (the POISSON1_CDF_U32
    # discipline) -- both engines derive the SAME noise, so the noising
    # PLUMBING itself is hash-testable (which is exactly why it is not
    # private: the seed inverts it).  One combinable count agg; noise
    # attaches map-side to the groups-sized relation; the true count
    # never leaves the operator.
    from kcl_akka_stream_spark.operators.sampling import (
        pseudo_dp_noised_counts,
    )

    ev = tbl(spark, sf_dir, "events").select("event_type")
    return pseudo_dp_noised_counts(ev, "event_type", seed="dp")


@query(
    "w_seasonality_profile",
    """
    WITH g AS (
      SELECT event_type,
             CAST(extract(dow FROM ts) AS BIGINT) AS dow,
             CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3)
    SELECT event_type, dow, hr, n,
           CAST(n * 1000000 // sum(n) OVER (PARTITION BY event_type)
                AS BIGINT) AS share_ppm
    FROM g
    """,
)
def w_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Traffic seasonality profile: per event type, the (day-of-week x
    # hour-of-day) activity matrix with each cell's integer-ppm share of
    # the type's total -- the shape a scheduler consults before picking
    # batch windows, and the empirical basis for anomaly baselines
    # (w_anomaly_trailing_zscore assumes roughly stationary days; this
    # report is how you check).  dow follows DuckDB's 0=Sunday
    # convention (Spark's dayofweek is 1=Sunday, so minus one).  One
    # combinable agg; the share window rides the bounded 7x24-per-type
    # profile relation.
    ev = tbl(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type",
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = Window.partitionBy("event_type")
    return g.select(
        "event_type",
        "dow",
        "hr",
        "n",
        F.expr(
            "n * 1000000 div sum(n) OVER (PARTITION BY event_type)"
        )
        .cast("long")
        .alias("share_ppm"),
    )


@query(
    "w_lag_features",
    """
    WITH daily AS (
      SELECT user_id,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS rev_cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)),
    f AS (
      SELECT user_id, d, rev_cents,
             max(rev_cents) OVER (PARTITION BY user_id ORDER BY d
               RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS lag1_cents,
             max(rev_cents) OVER (PARTITION BY user_id ORDER BY d
               RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS lag7_cents,
             sum(rev_cents) OVER (PARTITION BY user_id ORDER BY d
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS roll7_cents,
             count(*) OVER (PARTITION BY user_id ORDER BY d
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS roll7_days
      FROM daily)
    SELECT user_id, d, CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(lag1_cents AS BIGINT) AS lag1_cents,
           CAST(lag7_cents AS BIGINT) AS lag7_cents,
           CAST(roll7_cents AS BIGINT) AS roll7_cents,
           CAST(roll7_days AS BIGINT) AS roll7_days
    FROM f
    ORDER BY user_id, d
    """,
)
def w_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Feature-store lag/rolling export: per (user, day) purchase revenue
    # with CALENDAR-aware lag-1d / lag-7d and a rolling-7d sum -- RANGE
    # frames over the integer epoch-day key, so a user who skipped
    # yesterday gets NULL lag1 (row-offset lag() would silently serve a
    # stale value; that bug class is the reason this op exists).  All
    # values integer cents.  One combinable daily rollup, then every
    # frame rides ONE user-keyed exchange over the days-sized relation.
    #
    # CORRECTNESS_r10 hash-red postmortem: the oracle's final SELECT
    # passed rev_cents through UNCAST -- DuckDB sum(BIGINT) is HUGEINT
    # (int128), invisible to any fetchall()-based compare (Python ints)
    # but type-divergent through an Arrow/pandas fetch, which is exactly
    # the one-query/one-column shape the driver red showed (rows+schema
    # green, hash red, judge multiset-diff clean).  Fixed: oracle now
    # CASTs rev_cents, and both sides carry a deterministic
    # ORDER BY user_id, d (VERDICT r10 #1a) -- one bounded sort on the
    # days-sized output.  tools/dtype_audit.py now sweeps EVERY oracle
    # for uncast HUGEINT/DECIMAL output columns so this class is gated.
    ev = tbl(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.sum(_cents(F.col("value"))).cast("long").alias("rev_cents"))
    base = Window.partitionBy("user_id").orderBy("d")
    return daily.select(
        "user_id",
        "d",
        "rev_cents",
        F.max("rev_cents")
        .over(base.rangeBetween(-1, -1))
        .cast("long")
        .alias("lag1_cents"),
        F.max("rev_cents")
        .over(base.rangeBetween(-7, -7))
        .cast("long")
        .alias("lag7_cents"),
        F.sum("rev_cents")
        .over(base.rangeBetween(-6, 0))
        .cast("long")
        .alias("roll7_cents"),
        F.count(F.lit(1))
        .over(base.rangeBetween(-6, 0))
        .cast("long")
        .alias("roll7_days"),
    ).orderBy("user_id", "d")


# ---------------------------------------------------------------------------
# Wave 20 (round 9): mergeable bucket-quantile contract, degree
# assortativity, T5 span-corruption plan
# ---------------------------------------------------------------------------


@query(
    "agg_bucket_quantile_contract",
    """
    WITH b AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events),
    hist AS (
      SELECT event_type, cents // 100 AS bin, count(*) AS n
      FROM b GROUP BY event_type, cents // 100),
    hc AS (
      SELECT event_type, bin, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(n) OVER (PARTITION BY event_type) AS tw
      FROM hist),
    approx AS (
      SELECT event_type, max(tw) AS n_events,
             min(CASE WHEN 2 * cw >= tw THEN bin * 100 END) AS p50_bucket_cc,
             min(CASE WHEN 10 * cw >= 9 * tw THEN bin * 100 END)
               AS p90_bucket_cc
      FROM hc GROUP BY event_type),
    vh AS (
      SELECT event_type, cents, count(*) AS n FROM b
      GROUP BY event_type, cents),
    vc AS (
      SELECT event_type, cents, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(n) OVER (PARTITION BY event_type) AS tw
      FROM vh),
    exact AS (
      SELECT event_type,
             min(CASE WHEN 2 * cw >= tw THEN cents END) AS p50_exact_cc,
             min(CASE WHEN 10 * cw >= 9 * tw THEN cents END) AS p90_exact_cc
      FROM vc GROUP BY event_type)
    SELECT a.event_type, CAST(a.n_events AS BIGINT) AS n_events,
           CAST(e.p50_exact_cc AS BIGINT) AS p50_exact_cc,
           CAST(a.p50_bucket_cc AS BIGINT) AS p50_bucket_cc,
           CAST(e.p90_exact_cc AS BIGINT) AS p90_exact_cc,
           CAST(a.p90_bucket_cc AS BIGINT) AS p90_bucket_cc,
           CAST(CASE WHEN e.p50_exact_cc - a.p50_bucket_cc BETWEEN 0 AND 99
                      AND e.p90_exact_cc - a.p90_bucket_cc BETWEEN 0 AND 99
                     THEN 1 ELSE 0 END AS INT) AS within_width
    FROM approx a JOIN exact e ON e.event_type = a.event_type
    """,
)
def agg_bucket_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MERGEABLE quantiles with an acceptance contract (the KMV/HLL/CMS
    # family pattern): an equi-width histogram state ((type, bin) counts,
    # plain-addition mergeable -- the streamable form approx_quantile
    # lacks) answers p50/p90 as the lower edge of the CDF-crossing
    # bucket, and the contract column asserts the approx sits within one
    # bucket width BELOW the exact discrete quantile -- by construction
    # (lower edge <= exact < next edge), so a binning/CDF bug turns the
    # gate red in both engines.  Both CDFs ride bounded relations (bins,
    # distinct values); the data-sized work is two combinable aggs.
    ev = tbl(spark, sf_dir, "events").select(
        "event_type", _cents(F.col("value")).alias("cents")
    )
    hist = ev.groupBy(
        "event_type", F.expr("cents div 100").alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))
    cw = Window.partitionBy("event_type").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tw = Window.partitionBy("event_type")
    hc = hist.withColumn("cw", F.sum("n").over(cw)).withColumn(
        "tw", F.sum("n").over(tw)
    )
    approx = hc.groupBy("event_type").agg(
        F.max("tw").cast("long").alias("n_events"),
        F.min(
            F.when(2 * F.col("cw") >= F.col("tw"), F.col("bin") * 100)
        ).alias("p50_bucket_cc"),
        F.min(
            F.when(10 * F.col("cw") >= 9 * F.col("tw"), F.col("bin") * 100)
        ).alias("p90_bucket_cc"),
    )
    vh = ev.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("n"))
    vcw = Window.partitionBy("event_type").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    vc = vh.withColumn("cw", F.sum("n").over(vcw)).withColumn(
        "tw", F.sum("n").over(tw)
    )
    exact = vc.groupBy("event_type").agg(
        F.min(
            F.when(2 * F.col("cw") >= F.col("tw"), F.col("cents"))
        ).alias("p50_exact_cc"),
        F.min(
            F.when(10 * F.col("cw") >= 9 * F.col("tw"), F.col("cents"))
        ).alias("p90_exact_cc"),
    )
    j = approx.join(exact, "event_type")
    ok50 = (F.col("p50_exact_cc") - F.col("p50_bucket_cc")).between(0, 99)
    ok90 = (F.col("p90_exact_cc") - F.col("p90_bucket_cc")).between(0, 99)
    return j.select(
        "event_type",
        "n_events",
        F.col("p50_exact_cc").cast("long").alias("p50_exact_cc"),
        F.col("p50_bucket_cc").cast("long").alias("p50_bucket_cc"),
        F.col("p90_exact_cc").cast("long").alias("p90_exact_cc"),
        F.col("p90_bucket_cc").cast("long").alias("p90_bucket_cc"),
        F.when(ok50 & ok90, F.lit(1)).otherwise(F.lit(0)).cast("int").alias("within_width"),
    )


@query(
    "w_percent_rank_normalize",
    """
    WITH b AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events),
    r AS (
      SELECT event_id, event_type, cents,
             rank() OVER (PARTITION BY event_type ORDER BY cents) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM b)
    SELECT event_id, event_type, cents,
           CAST((rk - 1) * 1000000 // greatest(n - 1, 1) AS BIGINT)
             AS pr_micro
    FROM r
    """,
)
def w_percent_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Percent-rank feature normalization in integer ppm: each event's
    # value mapped to its within-type rank position ((rank-1)*1e6 div
    # (n-1)) -- the distribution-free scaling that survives outliers
    # where min-max scaling collapses (the quantile-normalization step
    # before mixing heterogeneous quality signals).  rank() (not
    # row_number) keeps ties identical, so the output is deterministic
    # without a tiebreak; integer div avoids percent_rank()'s float.
    # One type-keyed window over the data-sized relation -- the exact
    # per-row-normalization cost, same class as agg_gini_report's
    # documented window.
    ev = tbl(spark, sf_dir, "events").select(
        "event_id", "event_type", _cents(F.col("value")).alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    tw = Window.partitionBy("event_type")
    return ev.select(
        "event_id",
        "event_type",
        "cents",
        # rank() is INT in Spark: cast to bigint BEFORE the * 1e6, or the
        # product overflows 32 bits past rank ~2147 (the sf0.1 gate
        # caught exactly this -- sf0.01 ranks were too small to trip it)
        F.expr(
            "(cast(rank() OVER (PARTITION BY event_type ORDER BY cents)"
            " as bigint) - 1)"
            " * 1000000 div greatest(count(1) OVER (PARTITION BY event_type)"
            " - 1, 1)"
        )
        .cast("long")
        .alias("pr_micro"),
    )


@query(
    "scalar_map_funcs",
    """
    SELECT event_id,
           CAST(3 AS INT) AS n_keys,
           't,u,v' AS keys_sorted,
           event_type AS t_val,
           CAST(1 AS INT) AS has_u,
           CAST(0 AS INT) AS has_z,
           't:' || event_type || ',u:' || CAST(user_id AS VARCHAR)
             AS entries_no_v,
           upper(event_type) AS t_upper,
           CAST(user_id AS VARCHAR) || '|' ||
             CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS picked
    FROM events
    """,
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.8 map-function surface: build a real MapType column from base
    # columns (str_to_map over a constructed 'k:v' string -- the
    # dedup_url_canonical fixture discipline), then exercise size /
    # map_keys / element_at / map_contains_key / map_filter /
    # transform_values / map_entries.  The oracle derives every output
    # DIRECTLY from the base columns, so it is ground truth by
    # construction: any bug in the map round-trip (parse, lookup,
    # filter, transform) diverges from it.  Map-only, whole-stage
    # codegen; map_keys is sorted before joining because map iteration
    # order is an implementation detail, never a contract.
    # spread(): heavy per-row regex/JSON/map expressions must not
    # serialize onto a 1-partition scan (the r9 #5 lesson extended to
    # plain expensive projections -- measured r10, see NOTES_r10)
    ev = spread(tbl(spark, sf_dir, "events"))
    m = F.expr(
        "str_to_map(concat('t:', event_type, ',u:', cast(user_id as string),"
        " ',v:', cast(cast(floor(value) as bigint) as string)), ',', ':')"
    )
    ev2 = ev.select("event_id", "event_type", "user_id", "value", m.alias("m"))
    entries_no_v = F.array_join(
        F.transform(
            F.array_sort(F.map_entries(F.map_filter("m", lambda k, v: k != F.lit("v")))),
            lambda e: F.concat(e.getField("key"), F.lit(":"), e.getField("value")),
        ),
        ",",
    )
    return ev2.select(
        "event_id",
        F.size("m").cast("int").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("keys_sorted"),
        F.element_at("m", "t").alias("t_val"),
        F.expr("map_contains_key(m, 'u')").cast("int").alias("has_u"),
        F.expr("map_contains_key(m, 'z')").cast("int").alias("has_z"),
        entries_no_v.alias("entries_no_v"),
        F.element_at(F.transform_values("m", lambda k, v: F.upper(v)), "t").alias(
            "t_upper"
        ),
        F.concat(
            F.element_at("m", "u"), F.lit("|"), F.element_at("m", "v")
        ).alias("picked"),
    )


# ---------------------------------------------------------------------------
# Round-10 wave 24: distribution-drift, inequality, changepoint, entropy
# ---------------------------------------------------------------------------

@query(
    "agg_ks_drift",
    """
    WITH v AS (
      SELECT event_type,
             CAST(event_id % 2 AS INT) AS half,
             CAST(floor(value * 10 + 0.5) AS BIGINT) AS bin
      FROM events),
    h AS (SELECT event_type, half, bin, count(*) AS c
          FROM v GROUP BY 1, 2, 3),
    a AS (SELECT event_type, bin, c FROM h WHERE half = 0),
    b AS (SELECT event_type, bin, c FROM h WHERE half = 1),
    j AS (
      SELECT coalesce(a.event_type, b.event_type) AS event_type,
             coalesce(a.bin, b.bin) AS bin,
             coalesce(a.c, 0) AS ca, coalesce(b.c, 0) AS cb
      FROM a FULL OUTER JOIN b
        ON a.event_type = b.event_type AND a.bin = b.bin),
    cum AS (
      SELECT event_type, bin,
             sum(ca) OVER (PARTITION BY event_type ORDER BY bin) AS cum_a,
             sum(cb) OVER (PARTITION BY event_type ORDER BY bin) AS cum_b,
             sum(ca) OVER (PARTITION BY event_type) AS na,
             sum(cb) OVER (PARTITION BY event_type) AS nb
      FROM j)
    SELECT event_type,
           CAST(max(na) AS BIGINT) AS na,
           CAST(max(nb) AS BIGINT) AS nb,
           CAST(floor(CAST(max(abs(cum_a * nb - cum_b * na)) AS DOUBLE)
                      * 1000000.0
                      / (CAST(max(na) AS DOUBLE) * max(nb)))
                AS BIGINT) AS ks_ppm
    FROM cum GROUP BY event_type
    """,
)
def agg_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-sample Kolmogorov-Smirnov drift statistic per event type
    # (Kolmogorov 1933, public): the max CDF gap between the two halves
    # of the stream (event_id parity -- the same split every two-sample
    # query here uses), in EXACT INTEGER ppm: values freeze to deci-unit
    # bins, per-(type, half, bin) counts full-outer align, the CDF gap
    # rides as |cum_a*nb - cum_b*na| (common-denominator form -- no
    # per-row division), and one ppm division happens at the end.  The
    # distribution-SHAPE drift gate next to agg_histogram_kl_drift's
    # mass-ratio view: KS is threshold-free and metric-free, the
    # standard "did the feature distribution move" test before a
    # training run.  Int64 bound (ADVICE r10 corrected): the exact part
    # is the gap |cum_a*nb - cum_b*na| <= na*nb -- safe below ~3e9 rows
    # per (type, half); the ppm scaling is ONE shared IEEE double
    # multiply+divide+floor (the gini_ppm pattern), NOT *1_000_000 in
    # int64 (which silently overflowed past na*nb ~ 9.2e12, i.e. ~3e6
    # rows per half -- the r10 advice finding).  Shard upstream past 3e9.
    # Scale shape: ONE combinable (type, half, bin) count agg; the
    # alignment join, windows and max all ride the BIN-sized relation.
    return _ks_finalize(_ks_counts(tbl(spark, sf_dir, "events")))


def _ks_counts(ev: DataFrame) -> DataFrame:
    """PIVOTED half counters ``ca``/``cb`` per (event_type, deci-bin): the
    two halves are conditional counters inside ONE combinable agg -- no
    per-half relation, no full-outer alignment join.  Shared by
    ``agg_ks_drift`` and its streaming twin, whose state store adds them
    across micro-batches."""
    return ev.groupBy(
        F.col("event_type"),
        F.expr("cast(floor(value * 10 + 0.5) as bigint)").alias("bin"),
    ).agg(
        F.sum((F.col("event_id") % 2 == 0).cast("long")).cast("long").alias("ca"),
        F.sum((F.col("event_id") % 2 == 1).cast("long")).cast("long").alias("cb"),
    )


def _ks_finalize(j: DataFrame) -> DataFrame:
    """KS max-gap fold over per-(event_type, bin) half counts ``ca``/``cb``:
    cumulative CDFs, totals and the integer-ppm max gap.  Shared by
    ``agg_ks_drift`` and its streaming twin (cumulative sums do not merge;
    counts do, so the fold runs after the merge)."""
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    cum = j.select(
        "event_type",
        F.sum("ca").over(wcum).alias("cum_a"),
        F.sum("cb").over(wcum).alias("cum_b"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    return cum.groupBy("event_type").agg(
        F.max("na").cast("long").alias("na"),
        F.max("nb").cast("long").alias("nb"),
        # ppm scaling is ONE shared IEEE double op (gini_ppm pattern;
        # an int64 *1_000_000 form overflows past ~3e6 rows per half)
        F.expr(
            "cast(floor(cast(max(abs(cum_a * nb - cum_b * na)) as double)"
            " * 1000000.0 / (cast(max(na) as double) * max(nb))) as bigint)"
        ).alias("ks_ppm"),
    )


def _supplier_revenue_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier, ``rev``: the sum of its lineitem prices in cents."""
    li = tbl(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.sum(F.expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)"))
        .cast("long")
        .alias("rev")
    )


@query(
    "agg_gini_concentration",
    """
    WITH r AS (
      SELECT l_suppkey,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev
      FROM lineitem GROUP BY l_suppkey),
    o AS (
      SELECT rev,
             row_number() OVER (ORDER BY rev, l_suppkey) AS i,
             count(*) OVER () AS n,
             sum(rev) OVER () AS s
      FROM r)
    SELECT CAST(max(n) AS BIGINT) AS n_suppliers,
           CAST(max(s) AS BIGINT) AS total_cents,
           CAST(floor((2.0 * sum(i * rev) - (max(n) + 1.0) * max(s))
                      * 1000000.0 / (CAST(max(n) AS DOUBLE) * max(s)))
                AS BIGINT) AS gini_ppm
    FROM o
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gini coefficient of per-supplier revenue (Gini 1912, public) --
    # the concentration diagnostic a marketplace / corpus-source mix
    # audits (is 1% of suppliers taking 90% of revenue?).  Exact
    # integer sufficient statistics: revenue freezes to cents, the rank
    # formula G = (2*sum(i*x_i) - (n+1)*S) / (n*S) uses int64 sums and
    # ONE double division floored to ppm (identical IEEE ops from
    # identical int64s cross-engine).  The unpartitioned rank window
    # rides the SUPPLIER-sized relation (bounded dimension), never the
    # lineitem fact -- the one-reducer sort is model-sized by design.
    r = _supplier_revenue_cents(spark, sf_dir)
    w = Window.orderBy("rev", "l_suppkey")
    o = r.select(
        "rev",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        F.sum("rev").over(Window.partitionBy()).alias("s"),
    )
    return o.agg(
        F.max("n").cast("long").alias("n_suppliers"),
        F.max("s").cast("long").alias("total_cents"),
        F.expr(
            "cast(floor((2.0 * sum(i * rev) - (max(n) + 1.0) * max(s))"
            " * 1000000.0 / (cast(max(n) as double) * max(s))) as bigint)"
        ).alias("gini_ppm"),
    )


@query(
    "w_cusum_changepoint",
    """
    WITH v AS (
      SELECT event_type, event_id,
             CAST(floor(value * 10 + 0.5) AS BIGINT) AS x
      FROM events),
    t AS (
      SELECT event_type, event_id, x,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(x) OVER (PARTITION BY event_type) AS s,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id)
               AS k,
             sum(x) OVER (PARTITION BY event_type ORDER BY event_id) AS cx
      FROM v),
    c AS (
      SELECT event_type, event_id, n,
             n * cx - k * s AS cusum,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(n * cx - k * s) DESC, event_id)
               AS rn
      FROM t)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(abs(cusum) AS BIGINT) AS peak_cusum_nscaled,
           CAST(event_id AS BIGINT) AS peak_event_id
    FROM c WHERE rn = 1
    """,
)
def w_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUSUM changepoint locator per event type (Page 1954, public): the
    # cumulative deviation from the series mean peaks AT the change
    # point -- the standard "when did this metric shift" primitive.
    # Exact integers end-to-end: deci-unit values, and the mean never
    # divides -- the cusum rides n-SCALED as n*cum_x(k) - k*S (multiply
    # both sides by n), so the peak position and magnitude are int64
    # comparisons, bit-identical cross-engine.  Int64 bound: n * sum(x)
    # -- safe below ~1e9 rows x 1e3 deci-units per type.
    # Scale shape: ONE event_type-keyed sort exchange; all four windows
    # share it (same partition + compatible order); the argmax window
    # rides the same sort.  Output is type-sized.
    ev = tbl(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "event_id",
        F.expr("cast(floor(value * 10 + 0.5) as bigint)").alias("x"),
    )
    wt = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("event_id")
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    t = v.select(
        "event_type",
        "event_id",
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("x").over(wt).alias("s"),
        F.row_number().over(wo).alias("k"),
        F.sum("x").over(wcum).alias("cx"),
    )
    c = t.select(
        "event_type",
        "event_id",
        "n",
        (F.col("n") * F.col("cx") - F.col("k") * F.col("s")).alias("cusum"),
    )
    wpk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), "event_id"
    )
    return (
        c.withColumn("rn", F.row_number().over(wpk))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.abs(F.col("cusum")).cast("long").alias("peak_cusum_nscaled"),
            F.col("event_id").cast("long").alias("peak_event_id"),
        )
    )


@query(
    "agg_entropy_profile",
    """
    WITH h AS (
      SELECT event_type, date_part('hour', ts) AS hr, count(*) AS c
      FROM events GROUP BY 1, 2),
    t AS (
      SELECT event_type, hr, c,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM h)
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(c * CAST(round(ln(CAST(n AS DOUBLE) / c) * 1000000)
                             AS BIGINT)) // max(n) AS BIGINT)
             AS entropy_micronats
    FROM t GROUP BY event_type
    """,
)
def agg_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shannon entropy of the hour-of-day mix per event type, in integer
    # micro-nats: H = sum_h (c_h/n) ln(n/c_h) -- computed as
    # sum(c_h * round(ln(n/c_h)*1e6)) div n, the frozen-ln discipline of
    # tfidf/unigram_logprob (per-bin ln is rounded to micro BEFORE the
    # sum, so partial-agg order and libm sub-ulp drift cannot move the
    # hash).  The diurnal-concentration diagnostic: H near ln(24) means
    # flat usage, near 0 means one-hour spikes (bot traffic).  Scale
    # shape: ONE combinable (type, hour) count agg; entropy folds on the
    # 24-bin relation.  Counts are plain-addition mergeable -- the
    # stream twin would reuse this oracle unchanged.
    ev = tbl(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    return _entropy_finalize(h)


def _entropy_finalize(h: DataFrame) -> DataFrame:
    """Frozen-ln entropy fold over per-(event_type, hr) counts ``c``.
    Shared by ``agg_entropy_profile`` and its streaming twin (averaging
    per-batch entropies is not the union's entropy, so the fold runs after
    the merge)."""
    t = h.withColumn("n", F.sum("c").over(Window.partitionBy("event_type")))
    return t.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.expr(
            "cast(sum(c * cast(round(ln(cast(n as double) / c) * 1000000)"
            " as bigint)) div max(n) as bigint)"
        ).alias("entropy_micronats"),
    )


# ---------------------------------------------------------------------------
# Round-10 wave 25: association tests (MI, chi-square) over the
# (event_type, hour) contingency cells
# ---------------------------------------------------------------------------

_CELLS_SQL = """
    cells AS (
      SELECT event_type, date_part('hour', ts) AS hr, count(*) AS o
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type, hr, o,
             sum(o) OVER (PARTITION BY event_type) AS r,
             sum(o) OVER (PARTITION BY hr) AS c,
             sum(o) OVER () AS n
      FROM cells)
    """


@query(
    "agg_mutual_information",
    f"""
    WITH {_CELLS_SQL},
    mi AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(sum(o * CAST(round(ln(CAST(o AS DOUBLE) * n
                                        / (CAST(r AS DOUBLE) * c)) * 1000000)
                               AS BIGINT)) // max(n) AS BIGINT)
               AS mi_micronats
      FROM m),
    hx AS (
      SELECT CAST(sum(r1 * CAST(round(ln(CAST(n1 AS DOUBLE) / r1) * 1000000)
                                AS BIGINT)) // max(n1) AS BIGINT) AS h
      FROM (SELECT event_type, sum(o) AS r1, sum(sum(o)) OVER () AS n1
            FROM cells GROUP BY event_type)),
    hy AS (
      SELECT CAST(sum(c1 * CAST(round(ln(CAST(n1 AS DOUBLE) / c1) * 1000000)
                                AS BIGINT)) // max(n1) AS BIGINT) AS h
      FROM (SELECT hr, sum(o) AS c1, sum(sum(o)) OVER () AS n1
            FROM cells GROUP BY hr))
    SELECT n, mi_micronats,
           CAST(hx.h AS BIGINT) AS h_type_micronats,
           CAST(hy.h AS BIGINT) AS h_hour_micronats
    FROM mi, hx, hy
    """,
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mutual information between event type and hour-of-day in integer
    # micro-nats (Shannon 1948): MI = sum_xy p_xy ln(p_xy / (p_x p_y)),
    # computed as sum(o * round(ln(o*n / (r*c)) * 1e6)) div n -- the
    # frozen-ln-per-cell discipline (agg_entropy_profile / tfidf), so
    # partial-agg order and libm sub-ulp drift cannot move the hash.
    # Marginal entropies ride along for normalized-MI downstream.  The
    # association strength between two categoricals -- the feature-
    # leakage / redundancy diagnostic run before adding a feature.
    # Int64 bound: o*n <= 2^63 -- safe below ~3e9 events.
    # Scale shape: ONE combinable (type, hour) cell agg; margins and MI
    # fold ride the CELL-sized relation (types x 24).
    ev = tbl(spark, sf_dir, "events")
    # cells feeds THREE consumers (MI fold + both margin entropies):
    # localCheckpoint materializes the data-sized agg once -- the
    # downstream windows all ride the (types x 24)-sized relation
    cells = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("o")).localCheckpoint(eager=True)
    return _mi_finalize(cells)


def _mi_finalize(cells: DataFrame) -> DataFrame:
    """MI fold plus both marginal entropies over checkpointed
    per-(event_type, hr) cell counts ``o``.  Shared by
    ``agg_mutual_information`` and its streaming twin."""
    m = cells.select(
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("o").over(Window.partitionBy("hr")).alias("c"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    mi = m.agg(
        F.max("n").cast("long").alias("n"),
        F.expr(
            "cast(sum(o * cast(round(ln(cast(o as double) * n"
            " / (cast(r as double) * c)) * 1000000) as bigint))"
            " div max(n) as bigint)"
        ).alias("mi_micronats"),
    )

    def _margin_entropy(key: str, alias: str):
        mg = cells.groupBy(key).agg(F.sum("o").cast("long").alias("cnt"))
        mg = mg.withColumn("n1", F.sum("cnt").over(Window.partitionBy()))
        return mg.agg(
            F.expr(
                "cast(sum(cnt * cast(round(ln(cast(n1 as double) / cnt)"
                " * 1000000) as bigint)) div max(n1) as bigint)"
            ).alias(alias)
        )

    hx = _margin_entropy("event_type", "h_type_micronats")
    hy = _margin_entropy("hr", "h_hour_micronats")
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select("n", "mi_micronats", "h_type_micronats", "h_hour_micronats")
    )


def _type_hour_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (event_type, hour) contingency table: each cell's count ``o``
    with its row total ``r``, column total ``c`` and grand total ``n``."""
    ev = tbl(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    return cells.select(
        "event_type",
        "hr",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("o").over(Window.partitionBy("hr")).alias("c"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )


@query(
    "agg_chi_square_independence",
    f"""
    WITH {_CELLS_SQL}
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT hr) - 1) AS BIGINT) AS dof,
           CAST(sum(CAST(floor(
                 (CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c)
                 * (CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c)
                 * 1000000.0 / (CAST(n AS DOUBLE) * r * c)) AS BIGINT))
             AS BIGINT) AS chi2_micro
    FROM m
    """,
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pearson chi-square independence statistic for the (event_type,
    # hour) contingency table (Pearson 1900): per cell
    # (o*n - r*c)^2 / (n*r*c), FLOORED to integer micro BEFORE the sum
    # so the total is an order-independent int64 (the products are exact
    # int64s rendered as identical doubles on both engines; the one
    # double multiply/divide sequence is the same IEEE ops).  The
    # formal-test companion of agg_mutual_information -- chi2 >> dof
    # rejects independence.  Scale shape: ONE combinable cell agg; the
    # fold rides the cell-sized relation.
    m = _type_hour_cells(spark, sf_dir)
    return m.agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("hr") - 1)
        ).cast("long").alias("dof"),
        F.expr(
            "cast(sum(cast(floor("
            "(cast(o as double) * n - cast(r as double) * c)"
            " * (cast(o as double) * n - cast(r as double) * c)"
            " * 1000000.0 / (cast(n as double) * r * c)) as bigint))"
            " as bigint)"
        ).alias("chi2_micro"),
    )


# ---------------------------------------------------------------------------
# Round-10 wave 26: heavy-tail index, conditional recency windows
# ---------------------------------------------------------------------------


@query(
    "agg_hill_tail_index",
    """
    WITH r AS (
      SELECT l_suppkey,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev
      FROM lineitem GROUP BY l_suppkey),
    o AS (
      SELECT rev,
             row_number() OVER (ORDER BY rev DESC, l_suppkey) AS rk
      FROM r),
    top AS (SELECT rev, rk FROM o WHERE rk <= 20),
    xk AS (SELECT rev AS x20 FROM top WHERE rk = 20)
    SELECT CAST(20 AS BIGINT) AS k,
           CAST(max(x20) AS BIGINT) AS xk_cents,
           CAST(sum(CASE WHEN rk < 20 THEN
                 CAST(round(ln(CAST(rev AS DOUBLE) / x20) * 1000000)
                      AS BIGINT) ELSE 0 END) // 19 AS BIGINT)
             AS hill_inv_micro
    FROM top, xk
    """,
)
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hill tail-index estimator (Hill 1975, public) over per-supplier
    # revenue: 1/alpha = mean of ln(x_(i) / x_(k)) across the top k-1
    # order statistics -- the heavy-tail diagnostic that tells a
    # pipeline whether its key distribution is power-law (small alpha ->
    # aggressive skew handling: salting, hot-key caps) or light-tailed.
    # Frozen-ln integer discipline: each term rounds to micro BEFORE the
    # sum, so the result is an order-independent int64.  Scale shape:
    # one combinable supplier agg; the rank window rides the bounded
    # supplier relation; the fold touches k rows.
    r = _supplier_revenue_cents(spark, sf_dir)
    w = Window.orderBy(F.col("rev").desc(), "l_suppkey")
    top = r.select("rev", F.row_number().over(w).alias("rk")).filter(
        F.col("rk") <= 20
    )
    xk = top.filter(F.col("rk") == 20).select(F.col("rev").alias("x20"))
    return (
        top.crossJoin(F.broadcast(xk))
        .agg(
            F.lit(20).cast("long").alias("k"),
            F.max("x20").cast("long").alias("xk_cents"),
            F.expr(
                "cast(sum(case when rk < 20 then"
                " cast(round(ln(cast(rev as double) / x20) * 1000000)"
                " as bigint) else 0 end) div 19 as bigint)"
            ).alias("hill_inv_micro"),
        )
    )


@query(
    "w_time_since_event",
    """
    WITH t AS (
      SELECT event_id, user_id, ts,
             last_value(CASE WHEN event_type = 'click' THEN ts END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_click
      FROM events)
    SELECT event_id, user_id,
           CAST(date_diff('second', last_click, ts) AS BIGINT)
             AS since_click_s
    FROM t
    """,
)
def w_time_since_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Conditional recency feature: per event, seconds since the user's
    # most recent click AT OR BEFORE it (NULL before the first click) --
    # the "time since last X" feature every behavioral model consumes,
    # and the window idiom that computes it WITHOUT a self-join:
    # last_value(CASE ... END IGNORE NULLS) over the user's own ordered
    # frame.  A naive as-of self-join of events x clicks shuffles twice
    # and re-sorts; this is ONE user-keyed sort shared with any other
    # per-user features.  Ties ordered by (ts, event_id) -> fully
    # deterministic.
    ev = tbl(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return ev.select(
        "event_id",
        "user_id",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(last_click)
        ).cast("long").alias("since_click_s"),
    )


@query(
    "scalar_try_funcs",
    """
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.v') AS BIGINT) AS v_long,
           CASE WHEN CAST(event_id % 5 AS BIGINT) = 0 THEN NULL
                ELSE CAST(floor(value * 100 + 0.5) AS BIGINT)
                     // (event_id % 5) END AS safe_div,
           TRY_CAST(substring(event_type, 1, 1) AS BIGINT) AS not_a_number,
           CASE WHEN len(regexp_extract_all(lower(event_type), '[a-z]+')) >= 2
                THEN regexp_extract_all(lower(event_type), '[a-z]+')[2]
                ELSE NULL END AS second_token
    FROM events
    """,
)
def scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The error-safe scalar surface (SQL2016 TRY semantics): try_cast on
    # a JSON-extracted field (malformed -> NULL, never an exception),
    # try_divide by a sometimes-zero denominator (NULL, not
    # DivideByZero), try_cast on a non-numeric string, and
    # try_element_at past the array end.  At 100 TB a single dirty row
    # must NEVER kill a 10-hour job -- the TRY family is how a pipeline
    # encodes "quarantine, don't crash" declaratively, keeping the whole
    # expression in codegen instead of a Python guard.  Map-only, zero
    # shuffle; the oracle derives every NULL from the same base columns
    # with explicit CASE guards (ground truth by construction).
    # spread(): heavy per-row regex/JSON/map expressions must not
    # serialize onto a 1-partition scan (the r9 #5 lesson extended to
    # plain expensive projections -- measured r10, see NOTES_r10)
    ev = spread(tbl(spark, sf_dir, "events"))
    return ev.select(
        "event_id",
        F.expr("try_cast(get_json_object(props, '$.v') as bigint)").alias(
            "v_long"
        ),
        F.floor(
            F.expr(
                "try_divide(cast(floor(value * 100 + 0.5) as bigint),"
                " event_id % 5)"
            )
        ).cast("long").alias("safe_div"),
        F.expr("try_cast(substring(event_type, 1, 1) as bigint)").alias(
            "not_a_number"
        ),
        F.expr(
            "try_element_at(regexp_extract_all(lower(event_type),"
            " '[a-z]+', 0), 2)"
        ).alias("second_token"),
    )


# ---------------------------------------------------------------------------
# Round-10 wave 28: OHLC bars, regression-residual outliers
# ---------------------------------------------------------------------------


@query(
    "w_ohlc_bars",
    """
    WITH v AS (
      SELECT event_type, date_trunc('hour', ts) AS bar, ts, event_id,
             CAST(floor(value * 10 + 0.5) AS BIGINT) AS x
      FROM events),
    r AS (
      SELECT event_type, bar, x,
             row_number() OVER (PARTITION BY event_type, bar
                                ORDER BY ts, event_id) AS rn_open,
             row_number() OVER (PARTITION BY event_type, bar
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM v)
    SELECT event_type,
           strftime(bar, '%Y-%m-%d %H:%M:%S') AS bar_start,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(CASE WHEN rn_open = 1 THEN x END) AS BIGINT) AS open_deci,
           CAST(max(x) AS BIGINT) AS high_deci,
           CAST(min(x) AS BIGINT) AS low_deci,
           CAST(max(CASE WHEN rn_close = 1 THEN x END) AS BIGINT) AS close_deci
    FROM r GROUP BY event_type, bar
    """,
)
def w_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OHLC candle bars per (event type, hour): open/close by the
    # deterministic (ts, event_id) order, high/low as plain min/max --
    # the time-series downsampling primitive every metrics store serves.
    # Open/close ride as rank-1 flags folded into the SAME combinable
    # agg as high/low (CASE WHEN rn = 1), so the whole bar is ONE
    # (type, bar)-keyed window sort + ONE agg riding its partitioning;
    # values deci-frozen so the hash is exact cross-engine.
    ev = tbl(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bar"),
        "ts",
        "event_id",
        F.expr("cast(floor(value * 10 + 0.5) as bigint)").alias("x"),
    )
    wo = Window.partitionBy("event_type", "bar").orderBy("ts", "event_id")
    wc = Window.partitionBy("event_type", "bar").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = v.select(
        "event_type",
        "bar",
        "x",
        F.row_number().over(wo).alias("rn_open"),
        F.row_number().over(wc).alias("rn_close"),
    )
    return r.groupBy("event_type", "bar").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max(F.when(F.col("rn_open") == 1, F.col("x"))).cast("long").alias("open_deci"),
        F.max("x").cast("long").alias("high_deci"),
        F.min("x").cast("long").alias("low_deci"),
        F.max(F.when(F.col("rn_close") == 1, F.col("x"))).cast("long").alias("close_deci"),
    ).select(
        "event_type",
        F.date_format("bar", "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
        "n",
        "open_deci",
        "high_deci",
        "low_deci",
        "close_deci",
    )


@query(
    "agg_ols_residual_outliers",
    """
    WITH v AS (
      SELECT event_type, event_id,
             CAST(date_part('hour', ts) AS BIGINT) AS x,
             CAST(floor(value * 10 + 0.5) AS BIGINT) AS y
      FROM events),
    s AS (
      SELECT event_type,
             count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sx2
      FROM v GROUP BY event_type),
    fit AS (
      SELECT event_type,
             (n * sxy - sx * sy) * 1000000 // (n * sx2 - sx * sx) AS b_micro,
             (sy * 1000000 - ((n * sxy - sx * sy) * 1000000
                              // (n * sx2 - sx * sx)) * sx) // n AS a_micro
      FROM s),
    resid AS (
      SELECT v.event_type, v.event_id,
             v.y * 1000000 - (f.a_micro + f.b_micro * v.x) AS resid_micro
      FROM v JOIN fit f ON f.event_type = v.event_type)
    SELECT event_type, event_id, CAST(resid_micro AS BIGINT) AS resid_micro
    FROM resid
    ORDER BY abs(resid_micro) DESC, event_id LIMIT 10
    """,
)
def agg_ols_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Regression-residual outliers: fit value ~ hour-of-day per event
    # type by exact-integer OLS (the pearson_stats sufficient-statistic
    # discipline: slope and intercept are FLOOR DIVISIONS of int64 sums
    # in micro-units), then rank the top-10 |residual| -- "the events
    # most inconsistent with their type's diurnal trend", the
    # model-based complement of z-score/MAD outliers (which ignore
    # covariates).  Residuals are EXACT integers (y*1e6 - a - b*x), so
    # ranking is deterministic cross-engine.  Scale shape: ONE
    # combinable moments agg, broadcast fit join-back, map-side
    # residual, TakeOrdered top-10.  Int64 bound: n*sxy -- safe below
    # ~4e8 rows per type at deci-values x hour<24.
    ev = tbl(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "event_id",
        F.hour("ts").cast("long").alias("x"),
        F.expr("cast(floor(value * 10 + 0.5) as bigint)").alias("y"),
    )
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    fit = s.select(
        "event_type",
        F.expr(
            "(n * sxy - sx * sy) * 1000000 div (n * sx2 - sx * sx)"
        ).alias("b_micro"),
        F.expr(
            "(sy * 1000000 - ((n * sxy - sx * sy) * 1000000"
            " div (n * sx2 - sx * sx)) * sx) div n"
        ).alias("a_micro"),
    )
    resid = v.join(F.broadcast(fit), "event_type").select(
        "event_type",
        "event_id",
        (
            F.col("y") * F.lit(1_000_000)
            - (F.col("a_micro") + F.col("b_micro") * F.col("x"))
        ).cast("long").alias("resid_micro"),
    )
    return resid.orderBy(F.abs("resid_micro").desc(), "event_id").limit(10)


@query(
    "agg_autocorr_lag1",
    """
    WITH v AS (
      SELECT event_type, event_id,
             CAST(floor(value * 10 + 0.5) AS BIGINT) AS v
      FROM events),
    p AS (
      SELECT event_type,
             lag(v) OVER (PARTITION BY event_type ORDER BY event_id) AS x,
             v AS y
      FROM v),
    b AS (SELECT event_type, x, y FROM p WHERE x IS NOT NULL),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sx2,
             CAST(sum(y * y) AS BIGINT) AS sy2
      FROM b GROUP BY event_type)
    SELECT event_type, n, sx, sy, sxy, sx2, sy2,
           CASE WHEN CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx > 0
                 AND CAST(n AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy > 0
                THEN round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                           / (sqrt(CAST(n AS DOUBLE) * sx2
                                   - CAST(sx AS DOUBLE) * sx)
                              * sqrt(CAST(n AS DOUBLE) * sy2
                                     - CAST(sy AS DOUBLE) * sy)), 6)
           END AS autocorr_r
    FROM s
    """,
)
def agg_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lag-1 autocorrelation per event type: Pearson r of (x_{t-1}, x_t)
    # over the event_id-ordered deci-values -- the momentum /
    # mean-reversion / white-noise diagnostic for a metric stream
    # (positive: trending; near 0: independent; negative: oscillating).
    # Composition: one lag window over the type-keyed sort + the
    # pearson_stats exact-integer moment fold (operators/aggregations);
    # r is a single double expression from exact int64 sums.  Scale
    # shape: ONE type-keyed sort exchange; the moment agg rides its
    # partitioning.
    from kcl_akka_stream_spark.operators.aggregations import pearson_stats

    ev = tbl(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "event_id",
        F.expr("cast(floor(value * 10 + 0.5) as bigint)").alias("v"),
    )
    w = Window.partitionBy("event_type").orderBy("event_id")
    p = v.select(
        "event_type",
        F.lag("v").over(w).alias("x"),
        F.col("v").alias("y"),
    ).filter(F.col("x").isNotNull())
    return pearson_stats(p, "event_type", "x", "y").select(
        "event_type", "n", "sx", "sy", "sxy", "sx2", "sy2",
        F.col("corr_r").alias("autocorr_r"),
    )


@query(
    "w_seasonal_decompose",
    """
    WITH v AS (
      SELECT event_type,
             CAST(date_part('dow', ts) AS BIGINT) AS dow,
             CAST(floor(value * 10 + 0.5) AS BIGINT) AS x
      FROM events),
    g AS (
      SELECT event_type, dow,
             count(*) AS n_d, sum(x) AS s_d,
             sum(sum(x)) OVER (PARTITION BY event_type) AS s,
             sum(count(*)) OVER (PARTITION BY event_type) AS n
      FROM v GROUP BY event_type, dow)
    SELECT event_type, dow,
           CAST(n_d AS BIGINT) AS n_d,
           CAST(s_d * 1000000 // n_d AS BIGINT) AS dow_mean_micro,
           CAST(s * 1000000 // n AS BIGINT) AS grand_mean_micro,
           CAST(s_d * 1000000 // n_d - s * 1000000 // n AS BIGINT)
             AS dow_effect_micro
    FROM g
    """,
)
def w_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Additive day-of-week decomposition per event type: grand mean +
    # per-dow effect (both in integer micro-units via floor division of
    # exact int64 sums) -- the classical-decomposition seasonal
    # component, and the deseasonalization table a forecaster or anomaly
    # detector subtracts before CUSUM/z-scoring (w_cusum_changepoint's
    # natural upstream).  Distinct from w_seasonality_profile (which
    # profiles hour-of-day volume): this decomposes the VALUE into
    # level + weekday effect.  ONE combinable (type, dow) agg; the
    # grand-mean window rides the 7-row-per-type relation.
    ev = tbl(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.dayofweek("ts").cast("long").alias("dw_spark"),
        F.expr("cast(floor(value * 10 + 0.5) as bigint)").alias("x"),
    ).select(
        "event_type",
        # DuckDB dow: 0=Sunday..6=Saturday; Spark dayofweek: 1=Sunday..7
        (F.col("dw_spark") - 1).alias("dow"),
        "x",
    )
    g = v.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("x").cast("long").alias("s_d"),
    )
    wt = Window.partitionBy("event_type")
    g2 = g.select(
        "event_type",
        "dow",
        "n_d",
        "s_d",
        F.sum("s_d").over(wt).alias("s"),
        F.sum("n_d").over(wt).alias("n"),
    )
    return g2.select(
        "event_type",
        "dow",
        "n_d",
        F.expr("s_d * 1000000 div n_d").cast("long").alias("dow_mean_micro"),
        F.expr("s * 1000000 div n").cast("long").alias("grand_mean_micro"),
        F.expr("s_d * 1000000 div n_d - s * 1000000 div n")
        .cast("long")
        .alias("dow_effect_micro"),
    )


# ---------------------------------------------------------------------------
# Round-11 wave 31: rank-based drift (Mann-Whitney) and Welch A/B t-test
# ---------------------------------------------------------------------------


@query(
    "agg_mann_whitney",
    """
    WITH v AS (
      SELECT event_type,
             CAST(event_id % 2 AS INT) AS half,
             CAST(floor(value * 10 + 0.5) AS BIGINT) AS bin
      FROM events),
    h AS (
      SELECT event_type, bin,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS cb
      FROM v GROUP BY 1, 2),
    c AS (
      SELECT event_type, bin, ca, cb,
             coalesce(sum(cb) OVER (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_cb,
             sum(ca) OVER (PARTITION BY event_type) AS na,
             sum(cb) OVER (PARTITION BY event_type) AS nb
      FROM h)
    SELECT event_type,
           CAST(max(na) AS BIGINT) AS na,
           CAST(max(nb) AS BIGINT) AS nb,
           CAST(sum(2 * ca * cum_cb + ca * cb) AS BIGINT) AS u2,
           CAST(floor(CAST(sum(2 * ca * cum_cb + ca * cb) AS DOUBLE)
                      * 1000000.0
                      / (2.0 * max(na) * max(nb))) AS BIGINT) AS auc_ppm
    FROM c GROUP BY event_type
    """,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-sample Mann-Whitney U (Mann & Whitney 1947, public) between
    # the stream's event_id-parity halves -- the RANK-based drift gate
    # next to KS (max CDF gap) and KL (mass ratio): U/(na*nb) is the
    # probability that a random half-A value exceeds a random half-B
    # value (the AUC), so it reads location shift where KS reads shape.
    # EXACT integers end-to-end: values freeze to deci-unit bins, and
    # U2 = 2*U = sum over bins of (2*ca*cum_cb_below + ca*cb) counts
    # every cross pair twice with ties counting once each way -- no
    # midrank halves, no floats until the single shared IEEE ppm
    # division (the gini/ks pattern).  Int64 bound: U2 <= 2*na*nb --
    # safe below ~2e9 rows per (type, half); shard upstream past that.
    # Scale shape: ONE pivoted combinable (type, bin) agg; the
    # cumulative window and finalize ride the BIN-sized relation.
    ev = tbl(spark, sf_dir, "events")
    h = ev.groupBy(
        F.col("event_type"),
        F.expr("cast(floor(value * 10 + 0.5) as bigint)").alias("bin"),
    ).agg(
        F.sum((F.col("event_id") % 2 == 0).cast("long")).cast("long").alias("ca"),
        F.sum((F.col("event_id") % 2 == 1).cast("long")).cast("long").alias("cb"),
    )
    wprev = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy("event_type")
    c = h.select(
        "event_type",
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(wprev), F.lit(0)).alias("cum_cb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    return c.groupBy("event_type").agg(
        F.max("na").cast("long").alias("na"),
        F.max("nb").cast("long").alias("nb"),
        F.sum(F.expr("2 * ca * cum_cb + ca * cb")).cast("long").alias("u2"),
        F.expr(
            "cast(floor(cast(sum(2 * ca * cum_cb + ca * cb) as double)"
            " * 1000000.0 / (2.0 * max(na) * max(nb))) as bigint)"
        ).alias("auc_ppm"),
    )


@query(
    "agg_welch_ttest",
    """
    WITH v AS (
      SELECT event_type,
             CAST(event_id % 2 AS INT) AS half,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
      FROM events),
    m AS (
      SELECT event_type,
             sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN half = 0 THEN x ELSE 0 END) AS s1,
             sum(CASE WHEN half = 0 THEN x * x ELSE 0 END) AS q1,
             sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n2,
             sum(CASE WHEN half = 1 THEN x ELSE 0 END) AS s2,
             sum(CASE WHEN half = 1 THEN x * x ELSE 0 END) AS q2
      FROM v GROUP BY event_type)
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(s1 AS BIGINT) AS s1_cents, CAST(s2 AS BIGINT) AS s2_cents,
           round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                 / sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                           / nullif(n1 - 1, 0) / n1)
                        + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)
                           / nullif(n2 - 1, 0) / n2)), 6) AS t_stat
    FROM m
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Welch's two-sample t statistic (Welch 1947, public) between the
    # event_id-parity halves per type -- the A/B experiment readout a
    # training-data pipeline runs on guardrail metrics.  Sufficient
    # statistics are EXACT int64 (count, sum, sum-of-squares in cents;
    # q = sum(x^2) <= 1e10 * n, safe below ~9e8 rows per half at
    # fixture value range); the t finalize is ONE shared IEEE double
    # expression from identical ints, rounded to 6 dp (the pearson
    # pattern -- same moment-fold state shape, so the streaming moments
    # family covers its merge).  ONE combinable agg, output type-sized.
    ev = tbl(spark, sf_dir, "events")
    x = F.expr("cast(floor(value * 100 + 0.5) as bigint)")
    h0 = (F.col("event_id") % 2 == 0).cast("long")
    h1 = (F.col("event_id") % 2 == 1).cast("long")
    m = ev.select(
        "event_type", x.alias("x"), h0.alias("h0"), h1.alias("h1")
    ).groupBy("event_type").agg(
        F.sum("h0").alias("n1"),
        F.sum(F.col("x") * F.col("h0")).alias("s1"),
        F.sum(F.col("x") * F.col("x") * F.col("h0")).alias("q1"),
        F.sum("h1").alias("n2"),
        F.sum(F.col("x") * F.col("h1")).alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("h1")).alias("q2"),
    )
    return m.select(
        "event_type",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("s1").cast("long").alias("s1_cents"),
        F.col("s2").cast("long").alias("s2_cents"),
        F.expr(
            "round((cast(s1 as double) / n1 - cast(s2 as double) / n2)"
            " / sqrt(((cast(q1 as double) - cast(s1 as double) * s1 / n1)"
            " / nullif(n1 - 1, 0) / n1)"
            " + ((cast(q2 as double) - cast(s2 as double) * s2 / n2)"
            " / nullif(n2 - 1, 0) / n2)), 6)"
        ).alias("t_stat"),
    )


@query(
    "agg_trimmed_mean",
    """
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events),
    h AS (SELECT event_type, cents, count(*) AS c FROM v GROUP BY 1, 2),
    cumt AS (
      SELECT event_type, cents, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n,
             sum(c * cents) OVER (PARTITION BY event_type) AS s
      FROM h),
    k AS (SELECT *, n // 10 AS trim FROM cumt),
    kept AS (
      SELECT event_type, n, s, trim,
             greatest(0, least(cum, n - trim)
                         - greatest(cum - c, trim)) * cents AS contrib
      FROM k)
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(trim) AS BIGINT) AS n_trimmed_each_end,
           CAST(floor(CAST(max(s) AS DOUBLE) * 1000000 / max(n))
                AS BIGINT) AS mean_micro,
           CAST(floor(CAST(sum(contrib) AS DOUBLE) * 1000000
                      / (max(n) - 2 * max(trim))) AS BIGINT)
             AS trimmed_mean_micro
    FROM kept GROUP BY event_type
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 10% trimmed mean per event type (Tukey's robust-location family,
    # public) -- completes the robust-statistics set next to the exact
    # median and MAD: the mean after discarding the lowest and highest
    # n/10 values, EXACTLY, from the (type, cents) histogram: each bin
    # contributes max(0, min(cum, n-k) - max(cum_prev, k)) of its
    # copies, so the boundary bins contribute partially and everything
    # stays int64 until the single shared IEEE micro-unit division.
    # The untrimmed mean rides along as the contrast column (their gap
    # is the tail-mass diagnostic).  Scale shape: ONE combinable
    # (type, cents) count agg; windows and finalize ride the
    # distinct-value relation.
    ev = tbl(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    k = h.select(
        "event_type",
        "cents",
        "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
        F.sum(F.col("c") * F.col("cents")).over(wall).alias("s"),
    ).withColumn("trim", F.expr("n div 10"))
    kept = k.select(
        "event_type",
        "n",
        "s",
        "trim",
        F.expr(
            "greatest(0, least(cum, n - trim) - greatest(cum - c, trim)) * cents"
        ).alias("contrib"),
    )
    return kept.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max("trim").cast("long").alias("n_trimmed_each_end"),
        F.expr(
            "cast(floor(cast(max(s) as double) * 1000000 / max(n)) as bigint)"
        ).alias("mean_micro"),
        F.expr(
            "cast(floor(cast(sum(contrib) as double) * 1000000"
            " / (max(n) - 2 * max(trim))) as bigint)"
        ).alias("trimmed_mean_micro"),
    )


@query(
    "w_streaks",
    """
    WITH o AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rt
      FROM events),
    runs AS (
      SELECT user_id, event_type, rn - rt AS grp, count(*) AS len
      FROM o GROUP BY user_id, event_type, rn - rt)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS max_len,
           CAST(sum(CAST(len >= 3 AS INT)) AS BIGINT) AS n_streaks_ge3,
           CAST(sum(len) AS BIGINT) AS n_events
    FROM runs GROUP BY event_type
    """,
)
def w_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gaps-and-islands (the classic rn-difference decomposition): maximal
    # runs of CONSECUTIVE same-type events per user in (ts, event_id)
    # order.  Long single-type streaks are the bot/retry signature a
    # behavioral pipeline screens (a user emitting 50 consecutive
    # purchases is not a user), and the islands pattern itself is the
    # missing member of the window family -- sessionize cuts on TIME
    # gaps, streaks cut on VALUE changes.  Two window functions share
    # ONE user-keyed sort (the per-(user,type) rank orders consistently
    # within the same exchange); runs and the report are combinable
    # aggs.  n_events doubles as the conservation check: per-type event
    # totals must match the raw table.
    ev = tbl(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wut = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(wu).alias("rn"),
        F.row_number().over(wut).alias("rt"),
    )
    runs = o.groupBy(
        "user_id", "event_type", (F.col("rn") - F.col("rt")).alias("grp")
    ).agg(F.count(F.lit(1)).alias("len"))
    return runs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("len").cast("long").alias("max_len"),
        F.sum((F.col("len") >= 3).cast("int")).cast("long").alias("n_streaks_ge3"),
        F.sum("len").cast("long").alias("n_events"),
    )


@query(
    "agg_psi_drift",
    """
    WITH vh AS (
      SELECT event_type,
             CAST(event_id % 2 AS INT) AS half,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             count(*) AS c
      FROM events GROUP BY 1, 2, 3),
    refc AS (
      SELECT event_type, cents, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM (SELECT event_type, cents, sum(c) AS c FROM vh
            WHERE half = 0 GROUP BY 1, 2)),
    edges AS (
      SELECT event_type, d,
             min(CASE WHEN 10 * cum >= d * n THEN cents END) AS hi
      FROM refc, (SELECT unnest(generate_series(1, 9)) AS d)
      GROUP BY event_type, d),
    binned AS (
      SELECT h.event_type, h.half, h.cents, h.c,
             coalesce(min(e.d), 10) AS decile
      FROM vh h LEFT JOIN edges e
        ON e.event_type = h.event_type AND h.cents <= e.hi
      GROUP BY h.event_type, h.half, h.cents, h.c),
    cells AS (
      SELECT event_type, decile,
             sum(CASE WHEN half = 0 THEN c ELSE 0 END) + 1 AS ca,
             sum(CASE WHEN half = 1 THEN c ELSE 0 END) + 1 AS cb
      FROM binned GROUP BY 1, 2),
    tot AS (
      SELECT event_type, sum(ca) AS na, sum(cb) AS nb FROM cells GROUP BY 1)
    SELECT c.event_type,
           CAST(max(t.na) AS BIGINT) AS na,
           CAST(max(t.nb) AS BIGINT) AS nb,
           CAST(sum((c.ca * 1000000 // t.na - c.cb * 1000000 // t.nb)
                    * CAST(round(ln((CAST(c.ca AS DOUBLE) * t.nb)
                                    / (CAST(c.cb AS DOUBLE) * t.na))
                                 * 1000000) AS BIGINT))
                // 1000000 AS BIGINT) AS psi_micro
    FROM cells c JOIN tot t ON t.event_type = c.event_type
    GROUP BY c.event_type
    """,
)
def agg_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Population Stability Index (the credit-scoring / ML-monitoring
    # standard, public) between the event_id-parity halves: decile bin
    # edges come from the REFERENCE half's exact discrete CDF (the
    # bucket-quantile machinery), both halves' masses land in those 10
    # bins with +1 Laplace smoothing (PSI's log explodes on empty
    # cells; smoothing is the documented convention), and
    # PSI = sum (p_i - q_i) * ln(p_i / q_i) evaluates in frozen integer
    # micro-units: ppm mass shares x micro-nat frozen logs, one ln per
    # BIN (bounded), rounded identically in both engines (the KL-drift
    # recipe).  Next to KS (max CDF gap), MW (rank shift) and KL
    # (mass ratio), PSI is the binned-share industry readout with its
    # 0.1/0.25 action thresholds.  Scale shape: ONE combinable
    # (type, half, cents) count agg; edges, binning and the PSI fold
    # ride the distinct-value/bin relations (the bin assign joins the
    # VALUE histogram to 9 broadcast edges, never the raw rows).
    ev = tbl(spark, sf_dir, "events")
    # the (type, half, cents) histogram feeds BOTH the reference-decile
    # edge derivation and the bin assignment -- checkpoint the bounded
    # relation once so the data-sized scan+agg runs once, not twice.
    # Measured at sf0.1: a wash (1.78s vs 1.89s, within host noise --
    # the fixture scan is cheap); kept because at 100 TB the two
    # branches would otherwise each rescan the full fact table, while
    # the checkpoint costs one bounded histogram materialization.
    v = ev.groupBy(
        "event_type",
        (F.col("event_id") % 2).cast("int").alias("half"),
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    ).agg(F.count(F.lit(1)).alias("c")).localCheckpoint(eager=True)
    refc = (
        v.filter(F.col("half") == 0)
        .groupBy("event_type", "cents")
        .agg(F.sum("c").alias("c"))
        .select(
            "event_type",
            "cents",
            "c",
            F.sum("c")
            .over(
                Window.partitionBy("event_type")
                .orderBy("cents")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            .alias("cum"),
            F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
        )
    )
    deciles = tbl(spark, sf_dir, "events").sparkSession.range(1, 10).select(
        F.col("id").cast("long").alias("d")
    )
    edges = (
        refc.crossJoin(F.broadcast(deciles))
        .groupBy("event_type", "d")
        .agg(
            F.min(
                F.when(10 * F.col("cum") >= F.col("d") * F.col("n"), F.col("cents"))
            ).alias("hi")
        )
    )
    binned = (
        v.join(
            F.broadcast(edges.withColumnRenamed("event_type", "et")),
            (F.col("et") == F.col("event_type")) & (F.col("cents") <= F.col("hi")),
            "left",
        )
        .groupBy("event_type", "half", "cents", "c")
        .agg(F.coalesce(F.min("d"), F.lit(10)).alias("decile"))
    )
    cells = binned.groupBy("event_type", "decile").agg(
        (F.sum(F.when(F.col("half") == 0, F.col("c")).otherwise(0)) + 1).alias("ca"),
        (F.sum(F.when(F.col("half") == 1, F.col("c")).otherwise(0)) + 1).alias("cb"),
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    return (
        cells.join(tot.withColumnRenamed("event_type", "et2"), F.col("et2") == F.col("event_type"))
        .groupBy("event_type")
        .agg(
            F.max("na").cast("long").alias("na"),
            F.max("nb").cast("long").alias("nb"),
            F.expr(
                "cast(sum((ca * 1000000 div na - cb * 1000000 div nb)"
                " * cast(round(ln((cast(ca as double) * nb)"
                " / (cast(cb as double) * na)) * 1000000) as bigint))"
                " div 1000000 as bigint)"
            ).alias("psi_micro"),
        )
    )


@query(
    "w_markov_transitions",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    p AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
    t AS (
      SELECT from_type, sum(n) AS row_total FROM p GROUP BY from_type)
    SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n,
           CAST(p.n * 1000000 // t.row_total AS BIGINT) AS prob_ppm
    FROM p JOIN t ON t.from_type = p.from_type
    """,
)
def w_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # First-order Markov transition matrix over per-user event
    # sequences -- the behavioral-model baseline (what follows a click?)
    # and the input to next-event prediction features.  One user-keyed
    # lead() (the same exchange shape every sequence op here rides),
    # then the matrix and its row-normalized ppm probabilities live on
    # the bounded (type x type) relation.  Exact integers end-to-end;
    # row sums of prob_ppm land in (1e6 - n_cols, 1e6] by flooring
    # (pinned).
    ev = tbl(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", F.lead("event_type").over(wu).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    p = o.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    t = p.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return p.join(F.broadcast(t), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        F.expr("n * 1000000 div row_total").cast("long").alias("prob_ppm"),
    )


@query(
    "j_null_safe_eq",
    """
    WITH a AS (
      SELECT event_id, nullif(user_id % 7, 0) AS k FROM events
      WHERE event_type = 'purchase'),
    b AS (
      SELECT event_id, nullif(user_id % 7, 0) AS k FROM events
      WHERE event_type = 'click')
    SELECT
      CAST((SELECT count(*) FROM a JOIN b ON a.k = b.k) AS BIGINT)
        AS n_plain,
      CAST((SELECT count(*) FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k)
        AS BIGINT) AS n_null_safe,
      CAST((SELECT count(*) FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
            WHERE a.k IS NULL) AS BIGINT) AS n_null_matches
    """,
)
def j_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Null-safe equality join semantics (Spark `<=>` == SQL IS NOT
    # DISTINCT FROM): plain `=` silently DROPS every NULL-keyed row
    # from a join -- the classic data-loss bug when a "key" column is
    # nullable -- while the null-safe operator matches NULL to NULL.
    # This contract query counts the same join under both operators
    # plus the NULL-only match volume, so the gap (n_null_safe -
    # n_plain == n_null_matches) is the audited difference.  Plan note:
    # Spark executes `<=>` as a hash join (null-safe keys hash like
    # values); it does NOT fall back to a cartesian.
    #
    # Optimization r15 (guide §2.3 "aggregate before you shuffle" /
    # §3.3 exploding joins): the join key has only 7 distinct non-null
    # values, so joining the raw event slices materialized ~10^8 pairs
    # just to COUNT them.  Both sides now pre-fold to per-key counts (<=
    # 8 rows each) and the SAME plain / null-safe join operators run on
    # the count relations; pair counts are exact products cnt_a * cnt_b
    # summed -- identical results (the oracle still materializes the
    # pair join in DuckDB, so the equivalence stays independently
    # checked), and the join that reaches the executor is 8x8 instead of
    # ~20k x ~20k per key.  At 100 TB the old shape is a cartesian-class
    # blowup; this one shuffles 8 rows.
    ev = tbl(spark, sf_dir, "events")
    a = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.nullif(F.col("user_id") % 7, F.lit(0)).alias("ka"))
        .agg(F.count(F.lit(1)).cast("long").alias("ca"))
    )
    b = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.nullif(F.col("user_id") % 7, F.lit(0)).alias("kb"))
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    n_plain = a.join(b, F.col("ka") == F.col("kb")).agg(
        F.coalesce(F.sum(F.expr("ca * cb")), F.lit(0))
        .cast("long")
        .alias("n_plain")
    )
    ns = a.join(b, F.col("ka").eqNullSafe(F.col("kb")))
    n_null_safe = ns.agg(
        F.coalesce(F.sum(F.expr("ca * cb")), F.lit(0))
        .cast("long")
        .alias("n_null_safe")
    )
    n_null_matches = ns.filter(F.col("ka").isNull()).agg(
        F.coalesce(F.sum(F.expr("ca * cb")), F.lit(0))
        .cast("long")
        .alias("n_null_matches")
    )
    return (
        F.broadcast(n_plain)
        .crossJoin(F.broadcast(n_null_safe))
        .crossJoin(F.broadcast(n_null_matches))
    )


@query(
    "agg_quantile_normalize",
    """
    WITH vh AS (
      SELECT event_type,
             CAST(event_id % 2 AS INT) AS half,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             count(*) AS c
      FROM events GROUP BY 1, 2, 3),
    a AS (
      SELECT event_type, cents, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM vh WHERE half = 0),
    b AS (
      SELECT event_type, cents, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM vh WHERE half = 1),
    u AS (
      SELECT a.event_type, TRUE AS is_a, cents, 0 AS c,
             cum * (SELECT max(n) FROM b b2
                    WHERE b2.event_type = a.event_type) AS r
      FROM a
      UNION ALL
      SELECT b.event_type, FALSE AS is_a, cents, c,
             cum * (SELECT max(n) FROM a a2
                    WHERE a2.event_type = b.event_type) AS r
      FROM b),
    mapped AS (
      SELECT event_type, is_a, cents, c,
             min(CASE WHEN is_a THEN cents END)
               OVER (PARTITION BY event_type ORDER BY r, is_a
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS mapped_cents
      FROM u)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_target_values,
           CAST(sum(c) AS BIGINT) AS n_target_rows,
           CAST(sum(c * mapped_cents) AS BIGINT) AS sum_mapped_cents,
           CAST(min(mapped_cents) AS BIGINT) AS min_mapped,
           CAST(max(mapped_cents) AS BIGINT) AS max_mapped
    FROM mapped WHERE NOT is_a
    GROUP BY event_type
    """,
)
def agg_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quantile normalization (the batch-effect correction standard from
    # bioinformatics / feature alignment, public): map every value of
    # the TARGET half (event_id odd) onto the REFERENCE half's (even)
    # empirical quantile -- mapped(v) = the smallest reference value
    # whose CDF reaches v's target-CDF rank.  Exactness: the rank
    # comparison cross-multiplies (cum_a * nb >= cum_b * na -- no
    # division), and the mapping evaluates as ONE per-type sorted union
    # of both CDFs with a forward-looking min window (b-rows sort
    # before a-rows on rank ties, so an exactly-tied reference value is
    # visible in its own frame) -- NO value x value join, which would
    # be quadratic in distinct values.  Output: per-type row/value
    # counts + weighted mapped-sum checksum (pins the full mapping).
    # Int64 bound: cum * n <= na * nb, ~3e9 rows per half.
    ev = tbl(spark, sf_dir, "events")
    vh = ev.groupBy(
        "event_type",
        (F.col("event_id") % 2).cast("int").alias("half"),
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")

    def cdf(half):
        return (
            vh.filter(F.col("half") == half)
            .select(
                "event_type",
                "cents",
                "c",
                F.sum("c").over(wcum).alias("cum"),
                F.sum("c").over(wall).alias("n"),
            )
        )

    a, b = cdf(0), cdf(1)
    na = a.groupBy("event_type").agg(F.max("n").alias("na"))
    nb = b.groupBy("event_type").agg(F.max("n").alias("nb"))
    u = (
        a.join(F.broadcast(nb), "event_type")
        .select(
            "event_type",
            F.lit(True).alias("is_a"),
            "cents",
            F.lit(0).alias("c"),
            (F.col("cum") * F.col("nb")).alias("r"),
        )
        .unionByName(
            b.join(F.broadcast(na), "event_type").select(
                "event_type",
                F.lit(False).alias("is_a"),
                "cents",
                "c",
                (F.col("cum") * F.col("na")).alias("r"),
            )
        )
    )
    # Forward-looking min == running min over the REVERSED sort.  The
    # direct form (orderBy asc + rowsBetween(0, unboundedFollowing))
    # re-aggregates the remaining frame per row in Spark -- O(n^2) per
    # partition, measured 12.0s vs 0.35s on the sf0.1 distinct-value
    # relation under full materialization.  Descending order keeps the
    # tie rule (b before a ascending == a before b descending), so an
    # exactly-tied reference value is still visible in its own frame.
    wmap = (
        Window.partitionBy("event_type")
        .orderBy(F.col("r").desc(), F.col("is_a").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    mapped = u.select(
        "event_type",
        "is_a",
        "c",
        F.min(F.when(F.col("is_a"), F.col("cents"))).over(wmap).alias("mapped_cents"),
    ).filter(~F.col("is_a"))
    return mapped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_target_values"),
        F.sum("c").cast("long").alias("n_target_rows"),
        F.sum(F.col("c") * F.col("mapped_cents")).cast("long").alias("sum_mapped_cents"),
        F.min("mapped_cents").cast("long").alias("min_mapped"),
        F.max("mapped_cents").cast("long").alias("max_mapped"),
    )


@query(
    "sample_neyman_allocation",
    """
    WITH m AS (
      SELECT event_type,
             count(*) AS n,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s1,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                 * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s2
      FROM events GROUP BY event_type),
    w AS (
      SELECT event_type, n,
             CAST(floor(n * sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                                  * s1 / n) / nullif(n - 1, 0)) ) AS BIGINT)
               AS w_int
      FROM m),
    t AS (SELECT sum(w_int) AS tw FROM w),
    base AS (
      SELECT w.event_type, w.n, w.w_int,
             10000 * w.w_int // t.tw AS base_alloc,
             10000 * w.w_int % t.tw AS rem
      FROM w, t),
    lv AS (SELECT 10000 - sum(base_alloc) AS leftover FROM base),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, event_type) AS rk
      FROM base)
    SELECT r.event_type, CAST(r.n AS BIGINT) AS n,
           CAST(r.w_int AS BIGINT) AS neyman_weight,
           CAST(r.base_alloc
                + CASE WHEN r.rk <= lv.leftover THEN 1 ELSE 0 END AS BIGINT)
             AS sample_alloc
    FROM ranked r, lv
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Neyman optimal allocation (Neyman 1934, public): distribute a
    # 10,000-row sample budget across strata proportionally to
    # N_h * S_h (stratum size x standard deviation) -- the
    # survey-sampling rule that beats proportional allocation whenever
    # strata variances differ, and the principled way to budget a
    # labeling / eval sample over heterogeneous event types.  The
    # weight freezes floor(n * sd) to int64 (sd via one shared sqrt
    # from exact integer moments); the integerization reuses the
    # Hamilton largest-remainder machinery (allocations sum EXACTLY to
    # the budget, deterministic tiebreak).  ONE combinable moments agg;
    # everything after rides the strata relation.
    ev = tbl(spark, sf_dir, "events")
    x = F.expr("cast(floor(value * 100 + 0.5) as bigint)")
    m = ev.select("event_type", x.alias("x")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    w = m.select(
        "event_type",
        "n",
        F.expr(
            "cast(floor(n * sqrt((cast(s2 as double) - cast(s1 as double)"
            " * s1 / n) / nullif(n - 1, 0))) as bigint)"
        ).alias("w_int"),
    )
    t = w.agg(F.sum("w_int").alias("tw"))
    base = w.crossJoin(F.broadcast(t)).select(
        "event_type",
        "n",
        "w_int",
        F.expr("10000 * w_int div tw").alias("base_alloc"),
        F.expr("10000 * w_int % tw").alias("rem"),
    )
    lv = base.agg((F.lit(10_000) - F.sum("base_alloc")).alias("leftover"))
    ranked = base.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "event_type"))
        .alias("rk"),
    )
    return ranked.crossJoin(F.broadcast(lv)).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("w_int").cast("long").alias("neyman_weight"),
        F.expr(
            "cast(base_alloc + case when rk <= leftover then 1 else 0 end"
            " as bigint)"
        ).alias("sample_alloc"),
    )


@query(
    "agg_simpson_diversity",
    """
    WITH c AS (
      SELECT event_type, user_id, count(*) AS c
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT event_type,
             sum(c) AS n,
             count(*) AS n_users,
             sum(c * (c - 1)) AS coll
      FROM c GROUP BY event_type)
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(floor(CAST(coll AS DOUBLE) * 1000000.0
                      / (CAST(n AS DOUBLE) * nullif(n - 1, 0))) AS BIGINT)
             AS simpson_ppm,
           CAST(1000000 - floor(CAST(coll AS DOUBLE) * 1000000.0
                                / (CAST(n AS DOUBLE) * nullif(n - 1, 0))) AS BIGINT)
             AS diversity_ppm
    FROM g
    """,
)
def agg_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Simpson concentration / Gini-Simpson diversity per event type
    # (Simpson 1949, public): the EXACT probability that two randomly
    # drawn events (without replacement) come from the SAME user --
    # sum c_i(c_i-1) / (n(n-1)), pure int64, no logs at all, which is
    # what distinguishes it from the Shannon entropy report (frozen-ln)
    # next door: Simpson weights dominant users quadratically, so it is
    # the sharper bot/power-user concentration alarm.  The ppm scaling
    # is ONE shared IEEE double multiply+divide+floor (the gini/ks
    # pattern -- an int64 *1e6 would silently overflow past ~3e6 events
    # per type, the exact headroom bug ADVICE r10 caught in agg_ks_drift);
    # the exact part (coll <= n^2) holds to ~3e9 events per type.  ONE
    # combinable (type, user) count agg; the fold rides the user relation.
    ev = tbl(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    g = c.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("coll"),
    )
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("n_users").cast("long").alias("n_users"),
        F.expr(
            "cast(floor(cast(coll as double) * 1000000.0"
            " / (cast(n as double) * nullif(n - 1, 0))) as bigint)"
        ).alias("simpson_ppm"),
        F.expr(
            "cast(1000000 - floor(cast(coll as double) * 1000000.0"
            " / (cast(n as double) * nullif(n - 1, 0))) as bigint)"
        ).alias("diversity_ppm"),
    )


@query(
    "scalar_edit_funcs",
    """
    WITH d AS (
      SELECT lang,
             substring(text, 1, 12) AS head
      FROM documents),
    m AS (
      SELECT lang,
             levenshtein(head, reverse(head)) AS lev_rev,
             levenshtein(head, translate(head, 'aeiou', 'AEIOU')) AS lev_tr,
             length(lpad(head, 20, '.')) + length(rpad(head, 24, '-'))
               AS pad_len,
             length(repeat(head, 2)) AS rep_len
      FROM d)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(lev_rev) AS BIGINT) AS sum_lev_reverse,
           CAST(sum(lev_tr) AS BIGINT) AS sum_lev_translate,
           CAST(sum(pad_len) AS BIGINT) AS sum_pad_len,
           CAST(sum(rep_len) AS BIGINT) AS sum_repeat_len
    FROM m GROUP BY lang
    """,
)
def scalar_edit_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # String edit / construction scalar family (§2.8 widening):
    # levenshtein (the fuzzy-match primitive dedup_edit_verified builds
    # on), reverse, translate, lpad/rpad, repeat -- each exercised
    # through a per-doc computation whose per-lang integer checksums
    # pin BOTH engines' semantics (a levenshtein off-by-one or a pad
    # that truncates differently flips the sums).  The 12-char head
    # keeps levenshtein's O(len^2) bounded per row.  Map-only + ONE
    # combinable lang agg.
    docs = tbl(spark, sf_dir, "documents")
    d = docs.select("lang", F.expr("substring(text, 1, 12)").alias("head"))
    m = d.select(
        "lang",
        F.expr("levenshtein(head, reverse(head))").alias("lev_rev"),
        F.expr("levenshtein(head, translate(head, 'aeiou', 'AEIOU'))").alias("lev_tr"),
        F.expr("length(lpad(head, 20, '.')) + length(rpad(head, 24, '-'))").alias("pad_len"),
        F.expr("length(repeat(head, 2))").alias("rep_len"),
    )
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("lev_rev").cast("long").alias("sum_lev_reverse"),
        F.sum("lev_tr").cast("long").alias("sum_lev_translate"),
        F.sum("pad_len").cast("long").alias("sum_pad_len"),
        F.sum("rep_len").cast("long").alias("sum_repeat_len"),
    )


@query(
    "w_max_silence",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us,
           CAST(sum(gap_us) AS BIGINT) AS span_us,
           CAST(max(gap_us) * 1000000 // sum(gap_us) AS BIGINT)
             AS max_gap_share_ppm
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def w_max_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Longest silent gap per event type -- the pipeline-outage detector
    # a streaming SLO dashboard alarms on: a max inter-arrival gap far
    # above its typical share of the total span means the source went
    # quiet (upstream outage, resharding stall).  ONE type-keyed sort;
    # the gap fold is combinable; sum(gap) telescopes to last-first so
    # the share is scale-free.  Exact integer microseconds; int64 ppm
    # headroom: max_gap * 1e6 is safe below ~292k YEARS of span.
    ev = tbl(spark, sf_dir, "events")
    wt = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wt)
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
        F.sum("gap_us").cast("long").alias("span_us"),
        F.expr("max(gap_us) * 1000000 div sum(gap_us)")
        .cast("long")
        .alias("max_gap_share_ppm"),
    )


@query(
    "w_volume_anomaly",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY c, hr) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM h),
    med AS (
      SELECT event_type, min(CASE WHEN 2 * rn >= n + 1 THEN c END) AS med
      FROM r GROUP BY event_type),
    d AS (
      SELECT h.event_type, h.c, abs(h.c - m.med) AS dev, m.med
      FROM h JOIN med m ON m.event_type = h.event_type),
    dr AS (
      SELECT event_type, med, c, dev,
             row_number() OVER (PARTITION BY event_type ORDER BY dev, c) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM d),
    mad AS (
      SELECT event_type, min(CASE WHEN 2 * rn >= n + 1 THEN dev END) AS mad
      FROM dr GROUP BY event_type)
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(max(d.med) AS BIGINT) AS median_hourly,
           CAST(max(mad.mad) AS BIGINT) AS mad_hourly,
           CAST(sum(CAST(d.dev > 3 * mad.mad AS INT)) AS BIGINT)
             AS n_anomalous_hours,
           CAST(max(d.c) AS BIGINT) AS max_hourly
    FROM d JOIN mad ON mad.event_type = d.event_type
    GROUP BY d.event_type
    """,
)
def w_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hourly-volume anomaly screen per event type -- the robust
    # (median/MAD) version of the ops dashboard's volume alarm: hours
    # whose event count deviates from the per-type median by more than
    # 3 MADs (exact integer lower-medians via the rank pick, the same
    # machinery as agg_mad_outliers but over the TIME axis instead of
    # the value axis -- traffic spikes/drops, not price outliers).
    # ONE combinable (type, hour) count; medians/deviations ride the
    # bounded hourly relation.  MAD = 0 (flat traffic) makes ANY
    # deviation anomalous -- the strictest, still deterministic, rule.
    ev = tbl(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("c"))
    wr = Window.partitionBy("event_type").orderBy("c", "hr")
    wn = Window.partitionBy("event_type")
    r = h.select(
        "event_type",
        "c",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = r.groupBy("event_type").agg(
        F.min(F.when(2 * F.col("rn") >= F.col("n") + 1, F.col("c"))).alias("med")
    )
    d = h.join(F.broadcast(med), "event_type").select(
        "event_type", "c", "med", F.abs(F.col("c") - F.col("med")).alias("dev")
    )
    wd = Window.partitionBy("event_type").orderBy("dev", "c")
    dr = d.select(
        "event_type",
        "dev",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mad = dr.groupBy("event_type").agg(
        F.min(F.when(2 * F.col("rn") >= F.col("n") + 1, F.col("dev"))).alias("mad")
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.max("med").cast("long").alias("median_hourly"),
            F.max("mad").cast("long").alias("mad_hourly"),
            F.sum((F.col("dev") > 3 * F.col("mad")).cast("int"))
            .cast("long")
            .alias("n_anomalous_hours"),
            F.max("c").cast("long").alias("max_hourly"),
        )
    )


@query(
    "w_trending_decay",
    """
    WITH mx AS (SELECT max(ts) AS tmax FROM events),
    e AS (
      SELECT event_type,
             (epoch_us(tmax) - epoch_us(ts)) // 43200000000
               AS age_buckets
      FROM events, mx),
    s AS (
      SELECT event_type,
             count(*) AS n_events,
             sum(1000000 >> CAST(least(age_buckets, 19) AS INT))
               AS score_micro
      FROM e GROUP BY event_type)
    SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
           CAST(score_micro AS BIGINT) AS score_micro,
           CAST(row_number() OVER (ORDER BY score_micro DESC, event_type)
                AS BIGINT) AS rank
    FROM s
    """,
)
def w_trending_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Trending leaderboard with EXACT half-life decay: each event
    # contributes 1e6 >> (age/12h buckets) -- halving every 12 full
    # hours via an integer shift instead of pow(0.5, age/12), so the
    # score is exact int64 and cross-engine/partial-agg-order stable
    # (the float-pow form would be the first order-dependent double sum
    # in the registry).  The bucketed decay is within 2x of the smooth
    # exponential everywhere -- the ranking signal survives, the
    # nondeterminism does not.  Ages are exact MICROSECOND diffs
    # floor-divided into 12 h buckets (hour-granularity datediff counts
    # calendar-boundary crossings in DuckDB but elapsed hours in Spark
    # -- the first cross-engine divergence this query caught); the
    # shift caps at 19 (1e6 >> 19 = 1, the floor contribution) because
    # Java masks shift amounts mod 32 -- shiftright(x, 40) silently
    # equals >> 8 while DuckDB yields 0 (the second divergence).  ONE
    # combinable agg + a leaderboard-sized rank window; age anchors to
    # max(ts) (broadcast single row) for reproducibility on static
    # fixtures.
    ev = tbl(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("tmax"))
    e = ev.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.expr(
            "(unix_micros(tmax) - unix_micros(ts)) div 43200000000"
        ).alias("age_buckets"),
    )
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.expr("shiftright(1000000, cast(least(age_buckets, 19) as int))")
        )
        .cast("long")
        .alias("score_micro"),
    )
    w = Window.orderBy(F.col("score_micro").desc(), "event_type")
    return s.select(
        "event_type",
        "n_events",
        "score_micro",
        F.row_number().over(w).cast("long").alias("rank"),
    )


@query(
    "agg_cohens_kappa",
    """
    WITH lab AS (
      SELECT event_type,
             least(CAST(floor(value * 100 + 0.5) AS BIGINT) // 2500, 3)
               AS la,
             CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 2))
                         ::BIGINT % 10 < 2
                  THEN (least(CAST(floor(value * 100 + 0.5) AS BIGINT)
                              // 2500, 3) + 1) % 4
                  ELSE least(CAST(floor(value * 100 + 0.5) AS BIGINT)
                             // 2500, 3)
             END AS lb
      FROM events),
    cells AS (
      SELECT event_type, la, lb, count(*) AS c
      FROM lab GROUP BY 1, 2, 3),
    marg AS (
      SELECT event_type,
             sum(c) AS n,
             sum(CASE WHEN la = lb THEN c ELSE 0 END) AS agree
      FROM cells GROUP BY event_type),
    prods AS (
      SELECT a.event_type, sum(a.na * b.nb) AS chance
      FROM (SELECT event_type, la AS k, sum(c) AS na FROM cells
            GROUP BY 1, 2) a
      JOIN (SELECT event_type, lb AS k, sum(c) AS nb FROM cells
            GROUP BY 1, 2) b
        ON a.event_type = b.event_type AND a.k = b.k
      GROUP BY a.event_type)
    SELECT m.event_type,
           CAST(m.n AS BIGINT) AS n,
           CAST(m.agree AS BIGINT) AS n_agree,
           CAST(p.chance AS BIGINT) AS chance_prod_sum,
           CAST((m.agree * m.n - p.chance) * 1000000
                // nullif(m.n * m.n - p.chance, 0) AS BIGINT) AS kappa_micro
    FROM marg m JOIN prods p ON p.event_type = m.event_type
    """,
)
def agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Inter-annotator agreement (wave 53; Cohen 1960, public) -- the
    # labeling-ops readout every human- or LLM-annotation pipeline
    # gates on: kappa = (po - pe) / (1 - pe) computed EXACTLY in int64
    # as (agree*n - sum_k na_k*nb_k) * 1e6 // (n^2 - sum_k na_k*nb_k)
    # -- no rates, no doubles, partial-agg-order stable (headroom: n^2
    # overflows past ~3e9 rows per group; shard the kappa by annotator
    # batch long before that).  Signed division is SAFE cross-engine
    # (probed: DuckDB // and Spark div both truncate toward zero);
    # the degenerate single-class case (pe = 1) yields NULL via nullif
    # on both sides, the ADVICE r11 convention.  The fixture derives annotator A from
    # the value band and annotator B as A with a deterministic 20%
    # md5 perturbation, so both engines label identically.  Plan: one
    # (type, la, lb) contingency agg (4x4-bounded per type), then
    # marginal folds riding the bounded cells relation.
    ev = tbl(spark, sf_dir, "events")
    la = F.expr(
        "least(cast(floor(value * 100 + 0.5) as bigint) div 2500, 3)"
    )
    flip = F.expr(
        "cast(conv(substring(md5(cast(event_id as string)), 1, 2), 16, 10)"
        " as bigint) % 10 < 2"
    )
    lab = ev.select(
        "event_type",
        la.alias("la"),
        F.when(flip, (la + 1) % 4).otherwise(la).alias("lb"),
    )
    cells = lab.groupBy("event_type", "la", "lb").agg(
        F.count(F.lit(1)).alias("c")
    )
    marg = cells.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("la") == F.col("lb"), F.col("c")).otherwise(0))
        .alias("agree"),
    )
    na = cells.groupBy("event_type", F.col("la").alias("k")).agg(
        F.sum("c").alias("na")
    )
    nb = cells.groupBy("event_type", F.col("lb").alias("k")).agg(
        F.sum("c").alias("nb")
    )
    prods = (
        na.join(nb, ["event_type", "k"])
        .groupBy("event_type")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("chance"))
    )
    return marg.join(prods, "event_type").select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("agree").cast("long").alias("n_agree"),
        F.col("chance").cast("long").alias("chance_prod_sum"),
        F.expr(
            "cast((agree * n - chance) * 1000000"
            " div nullif(n * n - chance, 0) as bigint)"
        ).alias("kappa_micro"),
    )


@query(
    "scalar_math_funcs",
    """
    WITH m AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             value
      FROM events),
    x AS (
      SELECT event_type,
             abs(cents - 1000) AS abs_c,
             sign(cents - 1000) AS sign_c,
             (cents % 10) * (cents % 10) * (cents % 10) AS cube_c,
             CAST(round(sqrt(CAST(cents AS DOUBLE)) * 1000000, 0) AS BIGINT)
               AS sqrt_micro,
             CAST(round(ln(1 + CAST(cents AS DOUBLE)) * 1000000, 0)
                  AS BIGINT) AS ln1p_micro,
             CAST(round(exp(-value / 100) * 1000000, 0) AS BIGINT)
               AS exp_micro,
             CAST(round(atan2(value, 100) * 1000000, 0) AS BIGINT)
               AS atan2_micro
      FROM m)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(abs_c) AS BIGINT) AS sum_abs,
           CAST(sum(sign_c) AS BIGINT) AS sum_sign,
           CAST(sum(cube_c) AS BIGINT) AS sum_cubes,
           CAST(sum(sqrt_micro) AS BIGINT) AS sum_sqrt_micro,
           CAST(sum(ln1p_micro) AS BIGINT) AS sum_ln1p_micro,
           CAST(sum(exp_micro) AS BIGINT) AS sum_exp_micro,
           CAST(sum(atan2_micro) AS BIGINT) AS sum_atan2_micro
    FROM x GROUP BY event_type
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Math scalar family (§2.8 widening): abs/sign/integer powers exact,
    # sqrt (IEEE-754 correctly rounded by spec, bit-identical across
    # engines), and ln/exp/atan2 frozen to micro BEFORE the sum --
    # libm vs JVM transcendentals can differ in the last ulp, but a
    # 1-ulp wobble flips a micro-round only within ~1e-10 of a .5
    # boundary, far below fixture scale; per-lang integer checksums pin
    # both engines' semantics (the scalar_edit_funcs pattern).
    # Map-only + ONE combinable agg.
    ev = tbl(spark, sf_dir, "events")
    m = ev.select(
        "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
        "value",
    )
    x = m.select(
        "event_type",
        F.expr("abs(cents - 1000)").alias("abs_c"),
        F.expr("cast(sign(cents - 1000) as bigint)").alias("sign_c"),
        F.expr("(cents % 10) * (cents % 10) * (cents % 10)").alias("cube_c"),
        F.expr(
            "cast(round(sqrt(cast(cents as double)) * 1000000, 0) as bigint)"
        ).alias("sqrt_micro"),
        F.expr(
            "cast(round(ln(1 + cast(cents as double)) * 1000000, 0)"
            " as bigint)"
        ).alias("ln1p_micro"),
        F.expr(
            "cast(round(exp(-value / 100) * 1000000, 0) as bigint)"
        ).alias("exp_micro"),
        F.expr(
            "cast(round(atan2(value, 100) * 1000000, 0) as bigint)"
        ).alias("atan2_micro"),
    )
    return x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("abs_c").cast("long").alias("sum_abs"),
        F.sum("sign_c").cast("long").alias("sum_sign"),
        F.sum("cube_c").cast("long").alias("sum_cubes"),
        F.sum("sqrt_micro").cast("long").alias("sum_sqrt_micro"),
        F.sum("ln1p_micro").cast("long").alias("sum_ln1p_micro"),
        F.sum("exp_micro").cast("long").alias("sum_exp_micro"),
        F.sum("atan2_micro").cast("long").alias("sum_atan2_micro"),
    )


@query(
    "agg_spearman_corr",
    """
    WITH u AS (
      SELECT event_type, user_id,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY event_type, user_id),
    r AS (
      SELECT event_type,
             2 * rank() OVER (PARTITION BY event_type ORDER BY x)
               + count(*) OVER (PARTITION BY event_type, x) - 1 AS rx,
             2 * rank() OVER (PARTITION BY event_type ORDER BY y)
               + count(*) OVER (PARTITION BY event_type, y) - 1 AS ry
      FROM u),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(rx * ry) AS BIGINT) AS sxy,
             CAST(sum(rx * rx) AS BIGINT) AS sx2,
             CAST(sum(ry * ry) AS BIGINT) AS sy2
      FROM r GROUP BY event_type)
    SELECT event_type, n_users, sx, sy, sxy, sx2, sy2,
           CASE WHEN CAST(n_users AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx > 0
                 AND CAST(n_users AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy > 0
                THEN round((CAST(n_users AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy)
                           / (sqrt(CAST(n_users AS DOUBLE) * sx2
                                   - CAST(sx AS DOUBLE) * sx)
                              * sqrt(CAST(n_users AS DOUBLE) * sy2
                                     - CAST(sy AS DOUBLE) * sy)), 6)
           END AS spearman_rho
    FROM s
    """,
)
def agg_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spearman rank correlation per event type between a user's total
    # spend (cents) and their event count -- the robust (monotone, not
    # linear) calibration statistic the Pearson family misses (wave 61;
    # Spearman 1904, public).  EXACT throughout: ties take AVERAGE
    # ranks held integer as 2*avg_rank = 2*rank() + tie_count - 1, rho
    # is Pearson over those integer ranks (the tie-correct form) from
    # exact int64 moments, one IEEE expression rounded 6 dp at the end
    # -- the agg_pearson_corr discipline applied to ranks.  Shape: one
    # (type,user) agg; both rank windows ride the same event_type
    # partitioning (one exchange, two sorts); final agg combines.
    ev = tbl(spark, sf_dir, "events")
    u = (
        ev.select(
            "event_type",
            "user_id",
            F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("c"),
        )
        .groupBy("event_type", "user_id")
        .agg(
            F.sum("c").cast("long").alias("x"),
            F.count(F.lit(1)).cast("long").alias("y"),
        )
    )
    r = u.select(
        "event_type",
        F.expr(
            "2 * rank() OVER (PARTITION BY event_type ORDER BY x)"
            " + count(*) OVER (PARTITION BY event_type, x) - 1"
        ).alias("rx"),
        F.expr(
            "2 * rank() OVER (PARTITION BY event_type ORDER BY y)"
            " + count(*) OVER (PARTITION BY event_type, y) - 1"
        ).alias("ry"),
    )
    s = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("rx").cast("long").alias("sx"),
        F.sum("ry").cast("long").alias("sy"),
        F.sum(F.expr("rx * ry")).cast("long").alias("sxy"),
        F.sum(F.expr("rx * rx")).cast("long").alias("sx2"),
        F.sum(F.expr("ry * ry")).cast("long").alias("sy2"),
    )
    rho = (
        "CASE WHEN CAST(n_users AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx"
        " > 0 AND CAST(n_users AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy"
        " > 0 THEN round((CAST(n_users AS DOUBLE) * sxy"
        " - CAST(sx AS DOUBLE) * sy) / (sqrt(CAST(n_users AS DOUBLE) * sx2"
        " - CAST(sx AS DOUBLE) * sx) * sqrt(CAST(n_users AS DOUBLE) * sy2"
        " - CAST(sy AS DOUBLE) * sy)), 6) END"
    )
    return s.select(
        "event_type", "n_users", "sx", "sy", "sxy", "sx2", "sy2",
        F.expr(rho).alias("spearman_rho"),
    )


def _hourly_cell_sides(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Hourly volume cells ``h`` (event_type, hr, c), checkpointed, and
    their two pair-join sides (h1, c1) and (h2, c2)."""
    ev = tbl(spark, sf_dir, "events")
    h = (
        ev.select("event_type", F.hour("ts").cast("long").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)  # feeds both join sides + the count
    )
    a = h.select("event_type", F.col("hr").alias("h1"), F.col("c").alias("c1"))
    b = h.select("event_type", F.col("hr").alias("h2"), F.col("c").alias("c2"))
    return h, a, b


@query(
    "agg_kendall_tau",
    """
    WITH h AS (
      SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, hr),
    p AS (
      SELECT a.event_type,
             CASE WHEN b.c > a.c THEN 1 ELSE 0 END AS con,
             CASE WHEN b.c < a.c THEN 1 ELSE 0 END AS dis
      FROM h a JOIN h b
        ON a.event_type = b.event_type AND a.hr < b.hr)
    SELECT event_type,
           CAST((SELECT count(*) FROM h x
                 WHERE x.event_type = p.event_type) AS BIGINT) AS n_hours,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(con) AS BIGINT) AS concordant,
           CAST(sum(dis) AS BIGINT) AS discordant,
           CAST((sum(con) - sum(dis)) * 1000000 // count(*) AS BIGINT)
             AS tau_ppm
    FROM p GROUP BY event_type
    """,
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Kendall tau-a per event type over the 24 hourly volume cells --
    # is traffic monotonically trending across the day? (wave 61;
    # Kendall 1938, public).  The pair relation is hours x hours --
    # GROUP-BOUNDED (<= 24*23/2 pairs per type), so the O(n^2) that
    # makes Kendall expensive on raw rows is a non-issue on the
    # pre-aggregated cells: one hourly agg, one bounded self-join of a
    # <=24*types-row relation (broadcast), exact integer
    # concordant/discordant counts and a div-exact tau in ppm (y-ties
    # counted in the denominator, tau-a).
    h, a, b = _hourly_cell_sides(spark, sf_dir)
    p = a.join(F.broadcast(b), "event_type").filter("h1 < h2")
    nh = h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours")
    )
    agg = p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.expr("CASE WHEN c2 > c1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("concordant"),
        F.sum(F.expr("CASE WHEN c2 < c1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("discordant"),
    )
    return agg.join(F.broadcast(nh), "event_type").select(
        "event_type",
        "n_hours",
        "n_pairs",
        "concordant",
        "discordant",
        F.expr(
            "cast((concordant - discordant) * 1000000 div n_pairs as bigint)"
        ).alias("tau_ppm"),
    )


@query(
    "agg_theil_sen",
    """
    WITH h AS (
      SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, hr),
    p AS (
      SELECT a.event_type, a.hr AS h1, b.hr AS h2,
             (b.c - a.c) * 1000000 // (b.hr - a.hr) AS slope_micro
      FROM h a JOIN h b
        ON a.event_type = b.event_type AND a.hr < b.hr),
    pr AS (
      SELECT event_type, slope_micro,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope_micro, h1, h2) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM p)
    SELECT event_type,
           CAST((SELECT count(*) FROM h x
                 WHERE x.event_type = pr.event_type) AS BIGINT) AS n_hours,
           CAST(max(n) AS BIGINT) AS n_pairs,
           CAST(min(CASE WHEN 2 * rn >= n + 1 THEN slope_micro END)
                AS BIGINT) AS ts_slope_micro
    FROM pr GROUP BY event_type
    """,
)
def agg_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Theil-Sen robust trend estimator per event type over the 24
    # hourly volume cells (wave 62; Theil 1950 / Sen 1968, public) --
    # the median of all pairwise slopes, the breakdown-point-0.29
    # answer to "is traffic trending?" that one anomalous hour cannot
    # drag the way it drags OLS (agg_pearson_corr's beta).  EXACT:
    # slopes freeze to integer micro-units (truncating div agrees
    # cross-engine), the median is the lower-median rank pick
    # (agg_mad_outliers machinery) with (h1, h2) tiebreaks.  The
    # O(n^2) pair relation is GROUP-BOUNDED (<= 276 pairs/type) by the
    # hourly pre-aggregation, same shape as agg_kendall_tau.
    h, a, b = _hourly_cell_sides(spark, sf_dir)
    p = (
        a.join(F.broadcast(b), "event_type")
        .filter("h1 < h2")
        .select(
            "event_type",
            "h1",
            "h2",
            F.expr("(c2 - c1) * 1000000 div (h2 - h1)").alias("slope_micro"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("slope_micro", "h1", "h2")
    wn = Window.partitionBy("event_type")
    pr = p.select(
        "event_type",
        "slope_micro",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    nh = h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours")
    )
    agg = pr.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.min(F.expr("CASE WHEN 2 * rn >= n + 1 THEN slope_micro END"))
        .cast("long")
        .alias("ts_slope_micro"),
    )
    return agg.join(F.broadcast(nh), "event_type").select(
        "event_type", "n_hours", "n_pairs", "ts_slope_micro"
    )


@query(
    "agg_cramers_v",
    f"""
    WITH {_CELLS_SQL}
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(least(count(DISTINCT event_type) - 1,
                      count(DISTINCT hr) - 1) AS BIGINT) AS min_dof,
           CAST(sum(CAST(floor(
                 (CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c)
                 * (CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c)
                 * 1000000.0 / (CAST(n AS DOUBLE) * r * c)) AS BIGINT))
             AS BIGINT) AS chi2_micro,
           round(sqrt(CAST(sum(CAST(floor(
                 (CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c)
                 * (CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c)
                 * 1000000.0 / (CAST(n AS DOUBLE) * r * c)) AS BIGINT))
               AS DOUBLE) / 1000000.0
               / (max(n) * least(count(DISTINCT event_type) - 1,
                                 count(DISTINCT hr) - 1))), 6) AS cramers_v
    FROM m
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cramer's V effect size for the (event_type, hour) association
    # (wave 66; Cramer 1946, public): chi-square alone grows with n, V
    # = sqrt(chi2 / (n * min(r-1, c-1))) is the [0,1] strength a
    # monitoring rule can threshold.  Rides the exact per-cell
    # chi2_micro discipline of agg_chi_square_independence (identical
    # integer in both engines), so V is one sqrt over identical
    # integers (IEEE correctly-rounded, bit-identical) rounded 6 dp.
    # ONE combinable cell agg; margins ride the cell-sized relation.
    m = _type_hour_cells(spark, sf_dir)
    chi = (
        "sum(cast(floor((cast(o as double) * n - cast(r as double) * c)"
        " * (cast(o as double) * n - cast(r as double) * c)"
        " * 1000000.0 / (cast(n as double) * r * c)) as bigint))"
    )
    mdof = (
        "least(count(DISTINCT event_type) - 1, count(DISTINCT hr) - 1)"
    )
    return m.agg(
        F.max("n").cast("long").alias("n"),
        F.expr(f"cast({mdof} as bigint)").alias("min_dof"),
        F.expr(f"cast({chi} as bigint)").alias("chi2_micro"),
        F.expr(
            f"round(sqrt(cast({chi} as double) / 1000000.0"
            f" / (max(n) * {mdof})), 6)"
        ).alias("cramers_v"),
    )


@query(
    "agg_hodges_lehmann",
    """
    WITH h AS (
      SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, hr),
    p AS (
      SELECT a.event_type, a.hr AS h1, b.hr AS h2,
             a.c + b.c AS s2
      FROM h a JOIN h b
        ON a.event_type = b.event_type AND a.hr <= b.hr),
    pr AS (
      SELECT event_type, s2,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY s2, h1, h2) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM p)
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_pairs,
           CAST(min(CASE WHEN 2 * rn >= n + 1 THEN s2 END) AS BIGINT)
             AS hl_twice
    FROM pr GROUP BY event_type
    """,
)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hodges-Lehmann pseudo-median of the hourly volumes per event type
    # (wave 68; Hodges & Lehmann 1963, public): the median of all
    # pairwise Walsh averages (i <= j), the location estimator that
    # pairs with Theil-Sen's slope -- robust like the median, ~30% more
    # efficient at the Gaussian.  EXACT: Walsh averages stay integer as
    # 2*avg = c_i + c_j (hl_twice), the lower-median rank pick with
    # (h1, h2) tiebreaks; the pair relation is GROUP-BOUNDED
    # (<= 24*25/2 per type) by the hourly pre-aggregation.
    _, a, b = _hourly_cell_sides(spark, sf_dir)
    p = (
        a.join(F.broadcast(b), "event_type")
        .filter("h1 <= h2")
        .select("event_type", "h1", "h2", F.expr("c1 + c2").alias("s2"))
    )
    wr = Window.partitionBy("event_type").orderBy("s2", "h1", "h2")
    wn = Window.partitionBy("event_type")
    pr = p.select(
        "event_type",
        "s2",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return pr.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.min(F.expr("CASE WHEN 2 * rn >= n + 1 THEN s2 END"))
        .cast("long")
        .alias("hl_twice"),
    )


@query(
    "scalar_calendar_funcs",
    """
    SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(date_diff('day', o_orderdate,
                              CAST(o_orderdate + INTERVAL 1 MONTH AS DATE)))
                AS BIGINT) AS sum_days_plus_month,
           CAST(sum(last_day(o_orderdate) - DATE '1970-01-01') AS BIGINT)
             AS sum_lastday_epoch,
           CAST(sum(CAST(date_trunc('week', o_orderdate) AS DATE)
                    - DATE '1970-01-01') AS BIGINT) AS sum_weekstart_epoch,
           CAST(sum(CAST(date_trunc('quarter', o_orderdate) AS DATE)
                    - DATE '1970-01-01') AS BIGINT)
             AS sum_quarterstart_epoch,
           CAST(sum(isodow(o_orderdate)) AS BIGINT) AS sum_isodow,
           CAST(sum(weekofyear(o_orderdate)) AS BIGINT) AS sum_weekofyear,
           CAST(sum(date_part('doy', o_orderdate)) AS BIGINT) AS sum_doy
    FROM orders GROUP BY yr
    """,
)
def scalar_calendar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Calendar scalar family (wave 69, §2.8 widening): add_months,
    # last_day, ISO week/quarter truncation, ISO day-of-week, ISO week
    # number, day-of-year -- the date-dimension building blocks every
    # partition-pruning layout and retention rollup leans on, pinned
    # cross-engine via integer epoch-day / ordinal checksums per year
    # (the scalar_math_funcs pattern).  Probed identical this session:
    # Spark 4 add_months carries NO end-of-month preservation (matches
    # DuckDB's + INTERVAL), trunc('week') is ISO-Monday in both,
    # weekday+1 == isodow, weekofyear is ISO week in both.  Map-only +
    # one combinable agg.
    o = tbl(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.groupBy(
        F.year(d).cast("long").alias("yr")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr(
            "datediff(add_months(o_orderdate, 1), o_orderdate)"
        )).cast("long").alias("sum_days_plus_month"),
        F.sum(F.expr(
            "datediff(last_day(o_orderdate), DATE '1970-01-01')"
        )).cast("long").alias("sum_lastday_epoch"),
        F.sum(F.expr(
            "datediff(trunc(o_orderdate, 'week'), DATE '1970-01-01')"
        )).cast("long").alias("sum_weekstart_epoch"),
        F.sum(F.expr(
            "datediff(trunc(o_orderdate, 'quarter'), DATE '1970-01-01')"
        )).cast("long").alias("sum_quarterstart_epoch"),
        F.sum(F.expr("weekday(o_orderdate) + 1")).cast("long").alias(
            "sum_isodow"
        ),
        F.sum(F.expr("weekofyear(o_orderdate)")).cast("long").alias(
            "sum_weekofyear"
        ),
        F.sum(F.expr("dayofyear(o_orderdate)")).cast("long").alias(
            "sum_doy"
        ),
    )


@query(
    "agg_tukey_fences",
    """
    WITH b AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      FROM events),
    r AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM b),
    q AS (
      SELECT event_type,
             min(CASE WHEN 4 * rn >= n + 1 THEN c END) AS q1,
             min(CASE WHEN 4 * rn >= 3 * (n + 1) THEN c END) AS q3,
             max(n) AS n
      FROM r GROUP BY event_type)
    SELECT q.event_type,
           CAST(q.n AS BIGINT) AS n,
           CAST(q.q1 AS BIGINT) AS q1_cents,
           CAST(q.q3 AS BIGINT) AS q3_cents,
           CAST(q.q3 - q.q1 AS BIGINT) AS iqr_cents,
           CAST(sum(CASE WHEN 2 * b.c < 2 * q.q1 - 3 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
           CAST(sum(CASE WHEN 2 * b.c > 2 * q.q3 + 3 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
    FROM q JOIN b ON b.event_type = q.event_type
    GROUP BY q.event_type, q.n, q.q1, q.q3
    """,
)
def agg_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tukey boxplot fences per event type (wave 70; Tukey 1977,
    # public): quartiles via the deterministic rank pick, IQR, and the
    # count of points beyond the 1.5*IQR fences -- the third member of
    # the robust-outlier family (z-score = parametric, MAD = median
    # axis, Tukey = quartile axis; each flags a different tail shape).
    # EXACT: cents are integers, quartiles are rank picks, and the
    # fences multiply through by 2 (2c < 2q1 - 3*IQR) so the 1.5 factor
    # never leaves integer arithmetic.  One value agg + rank windows on
    # the per-type partitioning + one counting join (quartile relation
    # broadcast).
    ev = tbl(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("c"),
    ).localCheckpoint(eager=True)  # feeds the rank windows AND the count
    wr = Window.partitionBy("event_type").orderBy("c")
    wn = Window.partitionBy("event_type")
    r = b.select(
        "event_type",
        "c",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    q = r.groupBy("event_type").agg(
        F.min(F.expr("CASE WHEN 4 * rn >= n + 1 THEN c END")).alias("q1"),
        F.min(F.expr("CASE WHEN 4 * rn >= 3 * (n + 1) THEN c END")).alias(
            "q3"
        ),
        F.max("n").alias("n"),
    )
    return (
        b.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "n", "q1", "q3")
        .agg(
            F.sum(
                F.expr("CASE WHEN 2 * c < 2 * q1 - 3 * (q3 - q1)"
                       " THEN 1 ELSE 0 END")
            ).cast("long").alias("n_low_outliers"),
            F.sum(
                F.expr("CASE WHEN 2 * c > 2 * q3 + 3 * (q3 - q1)"
                       " THEN 1 ELSE 0 END")
            ).cast("long").alias("n_high_outliers"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("q1").cast("long").alias("q1_cents"),
            F.col("q3").cast("long").alias("q3_cents"),
            F.expr("cast(q3 - q1 as bigint)").alias("iqr_cents"),
            "n_low_outliers",
            "n_high_outliers",
        )
    )


def _cusum_oracle() -> str:
    return """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    base AS (
      SELECT event_type,
             CAST(sum(n) AS BIGINT) // CAST(count(*) AS BIGINT) AS mu
      FROM hourly GROUP BY event_type),
    p AS (
      SELECT h.event_type, h.hr, h.n, b.mu,
             b.mu // 10 AS slack,
             CAST(sum(h.n - b.mu - b.mu // 10) OVER (
               PARTITION BY h.event_type ORDER BY h.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS pre
      FROM hourly h JOIN base b USING (event_type)),
    s AS (
      SELECT event_type, hr, n, mu,
             pre - least(CAST(min(pre) OVER (
               PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT), 0) AS cusum
      FROM p)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(max(mu) AS BIGINT) AS mu,
           CAST(max(cusum) AS BIGINT) AS peak_cusum,
           CAST(sum(CASE WHEN cusum > mu THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarm_hours,
           COALESCE(strftime(min(CASE WHEN cusum > mu THEN hr END),
                    '%Y-%m-%d %H:%M:%S'), '') AS first_alarm
    FROM s GROUP BY event_type ORDER BY event_type
    """


def _hourly_volumes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, hr) hour bucket, its event count ``n``."""
    ev = tbl(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


@query("w_cusum_drift", _cusum_oracle())
def w_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One-sided CUSUM change detection (Page 1954, the SPC classic) over
    # per-type hourly event volumes -- the drift monitor a streaming
    # ingest runs beside the KL/KS distribution tests: S_i =
    # max(0, S_{i-1} + x_i - allowance) accumulates only sustained
    # positive deviation and resets on quiet hours.  The sequential
    # recurrence is NOT a window aggregate, but the classic prefix
    # identity linearizes it: S_i = P_i - min(0, min_{j<=i} P_j) where
    # P is the plain running sum of deviations -- two stacked cumulative
    # windows on the SAME keyed sort, no recursion, no UDAF.  Allowance
    # = 10% of the per-type mean (integer), alarm when S exceeds the
    # mean itself; all arithmetic int64 with identical div staging.
    #
    # Scale shape: one (type, hour) agg (map-combinable) -> per-type
    # windows riding ONE exchange of the group-bounded hourly relation
    # (types x hours, never rows) -> per-type rollup.
    from pyspark.sql import Window

    hourly = _hourly_volumes(spark, sf_dir)
    base = hourly.groupBy("event_type").agg(
        F.expr("CAST(sum(n) AS BIGINT) div CAST(count(*) AS BIGINT)")
        .cast("long")
        .alias("mu")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = hourly.join(F.broadcast(base), "event_type").select(
        "event_type",
        "hr",
        "n",
        "mu",
        F.sum(F.expr("n - mu - mu div 10")).over(w).cast("long").alias("pre"),
    )
    s = p.select(
        "event_type",
        "hr",
        "n",
        "mu",
        (
            F.col("pre")
            - F.least(F.min("pre").over(w).cast("long"), F.lit(0))
        ).alias("cusum"),
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.max("mu").cast("long").alias("mu"),
            F.max("cusum").cast("long").alias("peak_cusum"),
            F.sum(F.expr("CASE WHEN cusum > mu THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_alarm_hours"),
            F.coalesce(
                F.date_format(
                    F.min(F.expr("CASE WHEN cusum > mu THEN hr END")),
                    "yyyy-MM-dd HH:mm:ss",
                ),
                F.lit(""),
            ).alias("first_alarm"),
        )
        .orderBy("event_type")
    )


def _wilcoxon_oracle() -> str:
    return """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CASE WHEN extract(hour FROM ts) < 12
                           THEN 1 ELSE 0 END) AS BIGINT) AS am,
             CAST(sum(CASE WHEN extract(hour FROM ts) >= 12
                           THEN 1 ELSE 0 END) AS BIGINT) AS pm
      FROM events GROUP BY 1, 2),
    diffs AS (
      SELECT event_type, pm - am AS dv, abs(pm - am) AS ad
      FROM daily WHERE pm <> am),
    tie AS (
      SELECT event_type, ad, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(CASE WHEN dv > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c_pos
      FROM diffs GROUP BY event_type, ad),
    rk AS (
      SELECT event_type, ad, c, c_pos,
             CAST(COALESCE(sum(c) OVER (PARTITION BY event_type
                  ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING), 0) AS BIGINT) AS cum_less
      FROM tie)
    SELECT event_type,
           CAST(sum(c) AS BIGINT) AS n_pairs,
           CAST(sum(c_pos * (2 * cum_less + c + 1)) AS BIGINT)
             AS w_plus_x2,
           CAST(sum((c - c_pos) * (2 * cum_less + c + 1)) AS BIGINT)
             AS w_minus_x2,
           1000000 * (CAST(sum(c_pos * (2 * cum_less + c + 1)) AS BIGINT)
                      - CAST(sum((c - c_pos) * (2 * cum_less + c + 1))
                             AS BIGINT))
             // (CAST(sum(c) AS BIGINT) * (CAST(sum(c) AS BIGINT) + 1))
             AS effect_ppm
    FROM rk GROUP BY event_type ORDER BY event_type
    """


@query("agg_wilcoxon_signed_rank", _wilcoxon_oracle())
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Wilcoxon signed-rank test (Wilcoxon 1945) for PAIRED samples --
    # completes the registry's nonparametric family (Spearman/Kendall =
    # association, Mann-Whitney/AUC = two independent samples,
    # Hodges-Lehmann = the location estimate, Theil-Sen = the slope):
    # per (type, day), is evening volume systematically shifted vs
    # morning?  Zero diffs drop (the standard treatment), |diff| ranks
    # use tie-group MIDRANKS held DOUBLED (2*midrank = 2*cum_less + c +
    # 1, the exact-int64 trick the AUC query proved), W+ and W- are the
    # signed rank sums, and the effect is their normalized difference
    # (W+ - W-) / (n(n+1)/2) in exact ppm -- +1e6 = all days shifted
    # up, 0 = symmetric.  No sqrt/normal approximation anywhere: the
    # report is the exact statistic a threshold consumer reads.
    #
    # Scale shape: one (type, day) agg (map-combinable) -> diffs ->
    # one (type, |d|) tie agg -> per-type cumulative window riding the
    # SAME type exchange (group-bounded: days per type) -> rollup.
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.expr("CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("am"),
        F.sum(F.expr("CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("pm"),
    )
    diffs = daily.filter("pm <> am").select(
        "event_type",
        (F.col("pm") - F.col("am")).alias("dv"),
        F.abs(F.col("pm") - F.col("am")).alias("ad"),
    )
    tie = diffs.groupBy("event_type", "ad").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.expr("CASE WHEN dv > 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("c_pos"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ad")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rk = tie.select(
        "event_type",
        "c",
        "c_pos",
        F.coalesce(F.sum("c").over(w), F.lit(0))
        .cast("long")
        .alias("cum_less"),
    )
    return (
        rk.groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("n_pairs"),
            F.sum(F.expr("c_pos * (2 * cum_less + c + 1)"))
            .cast("long")
            .alias("w_plus_x2"),
            F.sum(F.expr("(c - c_pos) * (2 * cum_less + c + 1)"))
            .cast("long")
            .alias("w_minus_x2"),
        )
        .select(
            "event_type",
            "n_pairs",
            "w_plus_x2",
            "w_minus_x2",
            F.expr(
                "1000000 * (w_plus_x2 - w_minus_x2)"
                " div (n_pairs * (n_pairs + 1))"
            )
            .cast("long")
            .alias("effect_ppm"),
        )
        .orderBy("event_type")
    )


def _runs_test_oracle() -> str:
    return """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    base AS (
      SELECT event_type,
             CAST(sum(n) AS BIGINT) // CAST(count(*) AS BIGINT) AS mu
      FROM hourly GROUP BY event_type),
    signs AS (
      SELECT h.event_type, h.hr,
             CASE WHEN h.n > b.mu THEN 1 ELSE 0 END AS s
      FROM hourly h JOIN base b USING (event_type)
      WHERE h.n <> b.mu),
    lagged AS (
      SELECT event_type, s,
             lag(s) OVER (PARTITION BY event_type ORDER BY hr) AS ps
      FROM signs)
    SELECT event_type,
           CAST(sum(s) AS BIGINT) AS n_above,
           CAST(sum(1 - s) AS BIGINT) AS n_below,
           CAST(sum(CASE WHEN ps IS NULL OR s <> ps THEN 1 ELSE 0 END)
                AS BIGINT) AS n_runs,
           1000000 + 2000000 * CAST(sum(s) AS BIGINT)
             * CAST(sum(1 - s) AS BIGINT)
             // (CAST(sum(s) AS BIGINT) + CAST(sum(1 - s) AS BIGINT))
             AS expected_runs_micro,
           1000000 * CAST(sum(CASE WHEN ps IS NULL OR s <> ps
                                   THEN 1 ELSE 0 END) AS BIGINT)
             // greatest((1000000 + 2000000 * CAST(sum(s) AS BIGINT)
                  * CAST(sum(1 - s) AS BIGINT)
                  // (CAST(sum(s) AS BIGINT) + CAST(sum(1 - s) AS BIGINT)))
                  // 1000000, 1) AS runs_ratio_ppm
    FROM lagged GROUP BY event_type ORDER BY event_type
    """


@query("agg_runs_test", _runs_test_oracle())
def agg_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Wald-Wolfowitz runs test (1940) for serial randomness -- the
    # sequence-health check beside CUSUM (sustained shift) and the
    # KL/KS twins (distribution drift): over each type's hourly series,
    # is the above/below-mean sign sequence random, or does it CLUMP
    # (positive autocorrelation -> too few runs) or OSCILLATE (negative
    # -> too many)?  Hours exactly at the mean drop (the standard
    # treatment); a run starts at the first row or any sign change
    # (lag-based, exact); the expected run count under H0 is the exact
    # rational 1 + 2*n1*n2/(n1+n2), micro-frozen, and the report is the
    # observed/expected ratio in ppm -- no variance/normal
    # approximation, the exact statistic a threshold consumer reads.
    #
    # Scale shape: one (type, hour) agg -> per-type mean broadcast back
    # -> lag window riding ONE keyed exchange of the group-bounded
    # hourly relation -> rollup.
    from pyspark.sql import Window

    hourly = _hourly_volumes(spark, sf_dir)
    base = hourly.groupBy("event_type").agg(
        F.expr("CAST(sum(n) AS BIGINT) div CAST(count(*) AS BIGINT)")
        .cast("long")
        .alias("mu")
    )
    signs = (
        hourly.join(F.broadcast(base), "event_type")
        .filter("n <> mu")
        .select(
            "event_type",
            "hr",
            F.expr("CASE WHEN n > mu THEN 1 ELSE 0 END").alias("s"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = signs.select(
        "event_type", "s", F.lag("s").over(w).alias("ps")
    )
    agg = lagged.groupBy("event_type").agg(
        F.sum("s").cast("long").alias("n_above"),
        F.sum(F.expr("1 - s")).cast("long").alias("n_below"),
        F.sum(
            F.expr("CASE WHEN ps IS NULL OR s <> ps THEN 1 ELSE 0 END")
        )
        .cast("long")
        .alias("n_runs"),
    )
    return agg.select(
        "event_type",
        "n_above",
        "n_below",
        F.expr(
            "1000000 + 2000000 * n_above * n_below"
            " div (n_above + n_below)"
        )
        .cast("long")
        .alias("expected_runs_micro"),
        F.expr(
            "1000000 * n_runs div greatest((1000000 + 2000000 * n_above"
            " * n_below div (n_above + n_below)) div 1000000, 1)"
        )
        .cast("long")
        .alias("runs_ratio_ppm"),
        "n_runs",
    ).select(
        "event_type",
        "n_above",
        "n_below",
        "n_runs",
        "expected_runs_micro",
        "runs_ratio_ppm",
    ).orderBy("event_type")


def _record_extremes_oracle() -> str:
    return """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    rk AS (
      SELECT event_type, hr, n,
             CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY hr) AS BIGINT) AS i,
             CASE WHEN n > COALESCE(CAST(max(n) OVER (
                    PARTITION BY event_type ORDER BY hr
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT), -1)
                  THEN 1 ELSE 0 END AS rec
      FROM hourly)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(rec) AS BIGINT) AS n_records,
           CAST(sum(1000000 // i) AS BIGINT) AS harmonic_micro,
           1000000 * CAST(sum(rec) AS BIGINT)
             // greatest(CAST(sum(1000000 // i) AS BIGINT) // 1000000, 1)
             AS record_ratio_ppm
    FROM rk GROUP BY event_type ORDER BY event_type
    """


@query("w_record_extremes", _record_extremes_oracle())
def w_record_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Record-breaking statistics (Renyi 1962; the classic extreme-value
    # result): in an i.i.d. series the expected number of running-maximum
    # records after n observations is EXACTLY the harmonic number H_n =
    # sum 1/i -- distribution-free, no parameters.  A per-type hourly
    # volume series breaking records much faster than H_n is TRENDING
    # (each hour beats history more often than chance allows); the
    # growth alarm beside CUSUM (level shift) and the runs test
    # (clumping).  H_n is held exactly as sum(1e6 div i) -- integer
    # micro with no ln approximation -- and the report is the
    # observed/expected ratio in ppm.
    #
    # Scale shape: one (type, hour) agg, then row_number + prior-max
    # windows riding ONE keyed exchange of the group-bounded hourly
    # relation, then the per-type rollup.
    from pyspark.sql import Window

    hourly = _hourly_volumes(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("hr")
    rk = hourly.select(
        "event_type",
        "n",
        F.row_number().over(w).cast("long").alias("i"),
        F.expr(
            "CASE WHEN n > COALESCE(CAST(max(n) OVER ("
            "PARTITION BY event_type ORDER BY hr"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
            " AS BIGINT), -1) THEN 1 ELSE 0 END"
        ).alias("rec"),
    )
    return (
        rk.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("rec").cast("long").alias("n_records"),
            F.sum(F.expr("1000000 div i")).cast("long").alias(
                "harmonic_micro"
            ),
        )
        .select(
            "event_type",
            "n_hours",
            "n_records",
            "harmonic_micro",
            F.expr(
                "1000000 * n_records"
                " div greatest(harmonic_micro div 1000000, 1)"
            )
            .cast("long")
            .alias("record_ratio_ppm"),
        )
        .orderBy("event_type")
    )
