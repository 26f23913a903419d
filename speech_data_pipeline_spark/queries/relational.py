"""Relational-core queries: scans, filters, joins, aggregates, ranking,
set ops, scalar functions (SURVEY.md §2.3-2.5, §2.7-2.8) over the TPC-H
star schema.

These exercise the surface Spark provides natively; the engine's job is
to declare plans that push down, prune, and broadcast correctly — each
query's docstring notes the plan shape it is expected to produce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from speech_data_pipeline_spark.queries.registry import query
from speech_data_pipeline_spark.sources.catalog import load_table


def _dec(c, scale: int = 2):
    return F.col(c).cast(f"decimal(18,{scale})")


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))
                 * (1 + CAST(l_tax AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (A1/A2/F12 flagship aggregate).

    Plan shape: parquet scan with `l_shipdate` filter pushed down +
    pruned ReadSchema → partial hash agg → single shuffle on the 2
    grouping keys → final agg. DECIMAL sums keep the result independent
    of partial-agg merge order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc = 1 - _dec("l_discount")
    charge = _dec("l_extendedprice") * disc * (1 + _dec("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias(
                "sum_base_price"
            ),
            F.round(F.sum(_dec("l_extendedprice") * disc), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q5_region_revenue",
    oracle="""
    SELECT n_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderstatus = 'F'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (J6 broadcast pattern) + grouped revenue.

    Plan shape: lineitem (fact) stays un-shuffled until the final agg;
    orders joins on the fact key; customer/nation/region are broadcast
    (all under the 64 MB threshold) so the only big exchange is the
    lineitem⋈orders key shuffle, which AQE can convert/skew-split.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "j9_anti_join_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def j9_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — the engine's incremental-processing primitive (J9).

    Identical shape to `todo = inputs ANTI JOIN done` in the stage
    runner (plans/incremental.py); the status filter on the done-side
    mirrors its retry of failed keys (failed outputs don't count as
    done). Broadcast-able when the done-set is small; otherwise a
    shuffled hash anti-join.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return c.join(
        o, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "semi_join_customers_with_open_orders",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS). Status filter pushed into the build side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi").select(
        "c_custkey", "c_acctbal"
    )


@query(
    "a3_argmax_order_per_customer",
    oracle="""
    SELECT o_custkey, best_orderkey,
           CAST(round(CAST(best_totalprice AS DECIMAL(18,3)), 2) AS DOUBLE)
             AS best_totalprice
    FROM (
      SELECT o_custkey, o_orderkey AS best_orderkey,
             max(o_totalprice) OVER (PARTITION BY o_custkey) AS best_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def a3_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax via ``max_by`` (A3) with deterministic tie-break.

    One shuffle on the group key; partial max_by runs map-side.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max_by(
            "o_orderkey", F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
        ).alias("best_orderkey"),
        F.round(F.max(F.col("o_totalprice").cast("decimal(18,3)")), 2)
        .cast("double")
        .alias("best_totalprice"),
    )


@query(
    "a4_global_argmax_order",
    oracle="""
    SELECT best_orderkey,
           CAST(round(CAST(best_totalprice AS DECIMAL(18,3)), 2) AS DOUBLE)
             AS best_totalprice
    FROM (
      SELECT o_orderkey AS best_orderkey,
             max(o_totalprice) OVER () AS best_totalprice,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def a4_global_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global argmax (A4): partial per partition, one-row final merge."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.max_by(
            "o_orderkey", F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
        ).alias("best_orderkey"),
        F.round(F.max(F.col("o_totalprice").cast("decimal(18,3)")), 2)
        .cast("double")
        .alias("best_totalprice"),
    )


@query(
    "a9_distinct_event_types_per_user",
    oracle="""
    SELECT user_id,
           count(DISTINCT event_type) AS n_types,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def a9_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count per group (A9). Two-phase distinct agg under AQE."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "w11_top3_customers_per_nation",
    oracle="""
    SELECT n_name, c_custkey, c_acctbal, rnk
    FROM (
      SELECT n_name, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY c_acctbal DESC, c_custkey) AS rnk
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    ) WHERE rnk <= 3
    """,
)
def w11_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (W10/W11): broadcast dim join + per-key window."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = W.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("n_name", "c_custkey", "c_acctbal", "rnk")
    )


@query(
    "u1_union_typed_streams",
    oracle="""
    SELECT user_id, event_id, 'click' AS kind, value FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT user_id, event_id, 'purchase' AS kind, value FROM events WHERE event_type = 'purchase'
    """,
)
def u1_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of typed subsets (U1). Catalyst merges the two scans of the
    same file into one pass with an OR-filter when beneficial."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", F.lit("click").alias("kind"), "value"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.lit("purchase").alias("kind"), "value"
    )
    return clicks.unionByName(purchases)


@query(
    "x_scalar_battery",
    oracle="""
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 9, '0') AS padded_key,
           regexp_replace(lower(p_name), '[aeiou]', '_', 'g') AS devoweled,
           upper(p_brand) AS brand_uc,
           concat('part_', CAST(p_partkey AS VARCHAR), '/', p_type) AS tagged,
           greatest(p_size, 25) AS size_floor25,
           least(p_size, 25) AS size_cap25,
           CAST(round(CAST(p_retailprice AS DECIMAL(18,2)) * 11 / 10, 2) AS DOUBLE) AS price_up10,
           substring(p_type, 1, 6) AS type_prefix
    FROM part
    """,
)
def x_scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function battery (X1-X5, X17): string/math projections.

    All whole-stage-codegen'd expressions over one scan, no shuffle.
    """
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 9, "0").alias("padded_key"),
        F.regexp_replace(F.lower("p_name"), "[aeiou]", "_").alias("devoweled"),
        F.upper("p_brand").alias("brand_uc"),
        F.concat(
            F.lit("part_"), F.col("p_partkey").cast("string"), F.lit("/"), F.col("p_type")
        ).alias("tagged"),
        F.greatest("p_size", F.lit(25)).alias("size_floor25"),
        F.least("p_size", F.lit(25)).alias("size_cap25"),
        F.round(_dec("p_retailprice") * 11 / 10, 2).cast("double").alias(
            "price_up10"
        ),
        F.substring("p_type", 1, 6).alias("type_prefix"),
    )


def _ntz_us(col: str) -> F.Column:
    """Epoch micros from a TIMESTAMP_NTZ column, timezone-proof (same
    local-datetime arithmetic as sources/catalog.py EPOCH_NANOS_SQL)."""
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
             AS revenue,
           epoch_us(o_orderdate) AS o_date_us,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority: top-10 highest-revenue orders
    placed before the cutoff but still shipping after it, for one
    market segment.

    Plan shape: both date filters and the segment filter push to the
    parquet scans; customer (filtered, small) broadcasts onto orders;
    the only large exchange is lineitem⋈orders on the fact key; the
    top-10 is ``orderBy().limit()`` = TakeOrderedAndProject (per-
    partition heaps — no global sort at any scale). DECIMAL revenue
    sum is shuffle-order-proof; epoch-micros output is timezone-proof.

    Reference parity: multi-way join + grouped ranking mirrors the
    reference's report queries (SURVEY §2.4-2.5); standard TPC-H Q3
    adapted to this schema (o_orderpriority for o_shippriority).
    """
    cutoff = "TIMESTAMP_NTZ '1998-06-01 00:00:00'"
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.expr(cutoff)
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.expr(cutoff)
    )
    rev = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            _ntz_us("o_orderdate").alias("o_date_us"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q4_priority_late_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style order-priority check: count one year's orders
    having at least one lineitem shipped after the order date.

    Plan shape: EXISTS = left-semi join on the order key, so lineitem
    never inflates the output and duplicate matches never double-count;
    the date range pushes into the orders scan; one key exchange (AQE
    may broadcast the filtered orders side), then a 5-group aggregate.
    The correlated non-equi condition (l_shipdate > o_orderdate) rides
    the semi join as a residual — no cross product, no distinct.
    """
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
