"""Join / aggregation / set-op / window superset queries (SURVEY.md §2.6-2.8,
M3) over the TPC-H-ish star schema.

The reference ships no explicit SQL joins (its two implicit joins are
the dedup anti-join and the single-row intensity⋈mix zip — SURVEY.md
§2.6); this module is the engine superset the harness star schema
exercises: inner/semi/anti/outer equi-joins, broadcast dims, rollup,
scalar subqueries, ranking/lag/sliding windows, set operations.

Scale notes per query inline. Common posture: region/nation/part are
broadcast (never shuffle lineitem/orders on a dim join); aggregations
rely on partial map-side combine; window queries shuffle once on
their partition key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flight_data_pipeline_spark.operators.relational import (
    anti_join,
    broadcast_join,
    semi_join,
    top_k_per_group,
)
from flight_data_pipeline_spark.functions.scalars import to_units
from flight_data_pipeline_spark.plans.registry import query
from flight_data_pipeline_spark.tables import load_table

CUTOFF = "1998-09-01"  # lineitem shipdate cutoff (Q1-style), pinned literal


# --- TPC-H Q1-style pricing summary -----------------------------------------
@query(
    "pricing_summary",
    oracle=f"""
    WITH agg AS (
        SELECT l_returnflag, l_linestatus,
               SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))      AS q_e2,
               SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS p_e2,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                              + 0.5) AS BIGINT))                       AS dp_e4,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
                              * (1 + l_tax) * 1000000 + 0.5) AS BIGINT)) AS ch_e6,
               SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))      AS d_e2,
               COUNT(*)                                                AS n
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '{CUTOFF} 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag,
           l_linestatus,
           q_e2 / 100.0                                     AS sum_qty,
           p_e2 / 100.0                                     AS sum_base_price,
           dp_e4 / 10000.0                                  AS sum_disc_price,
           ((2 * ch_e6 + 100) // 200) / 10000.0             AS sum_charge,
           ((2 * q_e2 * 100 + n) // (2 * n)) / 10000.0      AS avg_qty,
           ((2 * p_e2 * 100 + n) // (2 * n)) / 10000.0      AS avg_price,
           ((2 * d_e2 * 100 + n) // (2 * n)) / 10000.0      AS avg_disc,
           n                                                AS count_order
    FROM agg
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan → partial/final hash aggregate on a 6-value grouping key.
    The shipdate predicate pushes into the parquet scan; only the 7
    referenced columns are read (column pruning). At 100 TB: the
    canonical map-side-combine query — shuffle carries ≤ |groups| rows
    per task. Money rides as exact integer units (scalars.to_units)
    so sums are association-free and the 4-dp renders never half-ulp
    flip vs the oracle."""
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit(f"{CUTOFF} 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(to_units(F.col("l_quantity"), 2)).alias("q_e2"),
            F.sum(to_units(F.col("l_extendedprice"), 2)).alias("p_e2"),
            F.sum(to_units(disc_price, 4)).alias("dp_e4"),
            F.sum(to_units(disc_price * (1 + F.col("l_tax")), 6)).alias("ch_e6"),
            F.sum(to_units(F.col("l_discount"), 2)).alias("d_e2"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            (F.col("q_e2") / 100.0).alias("sum_qty"),
            (F.col("p_e2") / 100.0).alias("sum_base_price"),
            (F.col("dp_e4") / 10000.0).alias("sum_disc_price"),
            (F.expr("(2 * ch_e6 + 100) div 200") / 10000.0).alias("sum_charge"),
            (F.expr("(2 * q_e2 * 100 + n) div (2 * n)") / 10000.0).alias("avg_qty"),
            (F.expr("(2 * p_e2 * 100 + n) div (2 * n)") / 10000.0).alias("avg_price"),
            (F.expr("(2 * d_e2 * 100 + n) div (2 * n)") / 10000.0).alias("avg_disc"),
            F.col("n").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- TPC-H Q5-style multi-way join ------------------------------------------
@query(
    "revenue_by_nation",
    oracle="""
    SELECT n.n_name                                             AS nation,
           SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000
                          + 0.5) AS BIGINT)) / 10000.0          AS revenue
    FROM customer c
    JOIN orders o    ON o.o_custkey = c.c_custkey
    JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
    JOIN nation n    ON n.n_nationkey = c.c_nationkey
    JOIN region r    ON r.r_regionkey = n.n_regionkey
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-way join: fact-fact (orders⋈lineitem) shuffles on the
    order key; customer joins on custkey; nation/region are explicitly
    broadcast — at any scale those dims are KBs, so the only real
    exchanges are the two fact shuffles. Join order (lineitem last-in
    via orders) keeps the widest table joined exactly once."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .join(F.broadcast(r), r["r_regionkey"] == n["n_regionkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg((F.sum(to_units(F.col("l_extendedprice")
                             * (1 - F.col("l_discount")), 4)) / 10000.0)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), "nation")
    )


# --- TPC-H Q3-style top-k revenue --------------------------------------------
@query(
    "top_orders_by_revenue",
    oracle="""
    SELECT o.o_orderkey                                          AS orderkey,
           SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000
                          + 0.5) AS BIGINT)) / 10000.0           AS revenue,
           STRFTIME(o.o_orderdate, '%Y-%m-%d')                   AS orderdate
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, orderkey
    LIMIT 10
    """,
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter → join → agg → top-k. The segment filter runs before the
    join (Catalyst pushes it below), shrinking the build side; final
    LIMIT compiles to TakeOrderedAndProject — no global sort of the
    aggregate output."""
    c = load_table(spark, "customer", sf_dir).where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("o_orderkey").alias("orderkey"),
                 F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg((F.sum(to_units(F.col("l_extendedprice")
                             * (1 - F.col("l_discount")), 4)) / 10000.0)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), "orderkey")
        .limit(10)
    )


# --- semi / anti joins --------------------------------------------------------
@query(
    "customers_with_orders_by_segment",
    oracle="""
    SELECT c_mktsegment AS segment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    ORDER BY segment
    """,
)
def customers_with_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): the probe side deduplicates during the
    join — no row multiplication, orders' payload columns never read
    (column pruning keeps the scan to o_custkey only)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        semi_join(c, o, on=c["c_custkey"] == o["o_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_customers"))
        .orderBy("segment")
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT n.n_name AS nation, COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY n.n_name
    ORDER BY n_customers DESC, nation
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS) — the same primitive as the
    reference's dedup probe (D1, etl_job.py:226-237), applied
    relationally; nation broadcast."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    return (
        anti_join(c, o, on=c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.desc("n_customers"), "nation")
    )


# --- outer join ----------------------------------------------------------------
@query(
    "order_count_histogram",
    oracle="""
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    ORDER BY n_orders
    """,
)
def order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join preserving order-less
    customers (COUNT of a null key = 0), then a re-aggregation. Two
    shuffles total; the second input is already tiny."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_orders")
    )


# --- broadcast dim join ---------------------------------------------------------
@query(
    "brand_price_stats",
    oracle="""
    SELECT p.p_brand                        AS brand,
           ROUND(AVG(l.l_extendedprice), 4) AS avg_price,
           COUNT(*)                         AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    ORDER BY brand
    """,
)
def brand_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim with the dim pinned broadcast: lineitem never moves —
    the whole query is scan → broadcast-hash join → partial agg →
    one small shuffle. The plan to insist on at 100 TB (a sort-merge
    join here would shuffle the entire fact table)."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    return (
        broadcast_join(li, p, on=li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count("*").alias("n_items"),
        )
        .orderBy("brand")
    )


# --- set operations -------------------------------------------------------------
@query(
    "segment_setops",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM (
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_totalprice > 100000)) AS n_intersect,
      (SELECT COUNT(*) FROM (
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_totalprice > 100000))  AS n_except,
      (SELECT COUNT(*) FROM (
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION
         SELECT o_custkey FROM orders WHERE o_totalprice > 100000))  AS n_union
    """,
)
def segment_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION (distinct) — §2.8. Catalyst plans
    intersect/except as semi/anti joins over distinct inputs; union
    distinct is a hash aggregate."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    building = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k"))
    big_spenders = o.where(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("k"))
    # fully declarative: three one-row aggregates zipped by cross join
    # (no driver-side counts; one job, Catalyst reuses the scans)
    ni = building.intersect(big_spenders).agg(F.count("*").alias("n_intersect"))
    ne = building.subtract(big_spenders).agg(F.count("*").alias("n_except"))
    nu = building.union(big_spenders).distinct().agg(F.count("*").alias("n_union"))
    return ni.crossJoin(ne).crossJoin(nu)


# --- rollup ---------------------------------------------------------------------
@query(
    "pricing_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, '(all)')  AS returnflag,
           COALESCE(l_linestatus, '(all)')  AS linestatus,
           SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0
                                            AS sum_price,
           COUNT(*)                         AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — subtotal + grand-total rows in one pass
    (§2.4 note: free Spark superset win). NULL grouping keys
    canonicalized to '(all)' on both sides."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg((F.sum(to_units(F.col("l_extendedprice"), 2)) / 100.0)
             .alias("sum_price"),
             F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "sum_price", "n",
        )
        .orderBy("returnflag", "linestatus")
    )


# --- scalar subquery --------------------------------------------------------------
@query(
    "parts_above_avg_price",
    oracle="""
    SELECT COUNT(*)                    AS n_parts,
           ROUND(AVG(p_retailprice), 4) AS avg_premium_price
    FROM part
    WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)
    """,
)
def parts_above_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate (A3's pattern generalized,
    docs:83-89). Expressed via spark.sql so Catalyst plans the
    ScalarSubquery node directly."""
    load_table(spark, "part", sf_dir).createOrReplaceTempView("part")
    return spark.sql("""
        SELECT COUNT(*)                     AS n_parts,
               ROUND(AVG(p_retailprice), 4) AS avg_premium_price
        FROM part
        WHERE p_retailprice > (SELECT AVG(p_retailprice) FROM part)
    """)


# --- window: ranking ---------------------------------------------------------------
@query(
    "first_order_per_customer",
    oracle="""
    SELECT c.c_custkey                         AS custkey,
           o.o_orderkey                        AS orderkey,
           STRFTIME(o.o_orderdate, '%Y-%m-%d') AS first_orderdate,
           o.o_totalprice                      AS totalprice
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o.o_custkey ORDER BY o.o_orderdate, o.o_orderkey) = 1
    ORDER BY custkey
    """,
)
def first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-1 via row_number (§2.7 ranking): one shuffle on
    custkey; orderkey tiebreak for determinism."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    firsts = top_k_per_group(
        o, ["o_custkey"], [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()], k=1
    )
    return (
        firsts.join(c, c["c_custkey"] == firsts["o_custkey"])
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_orderdate"),
            F.col("o_totalprice").alias("totalprice"),
        )
        .orderBy("custkey")
    )


# --- window: lag --------------------------------------------------------------------
@query(
    "avg_order_gap_by_segment",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           ROUND(AVG(gap_days), 4) AS avg_gap_days,
           COUNT(*) AS n_gaps
    FROM (
        SELECT o_custkey,
               DATE_DIFF('day',
                         LAG(o_orderdate) OVER (
                             PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey),
                         o_orderdate) AS gap_days
        FROM orders
    ) g
    JOIN customer c ON c.c_custkey = g.o_custkey
    WHERE gap_days IS NOT NULL
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def avg_order_gap_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG over (custkey, orderdate) — inter-arrival analysis (§2.7,
    'analyze trends' README.md:247-249). Window shuffle on custkey,
    then an agg keyed by segment after a broadcastable dim join."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.withColumn("prev_date", F.lag("o_orderdate").over(w))
        .withColumn("gap_days", F.datediff("o_orderdate", "prev_date"))
        .where(F.col("gap_days").isNotNull())
    )
    return (
        gaps.join(c, c["c_custkey"] == gaps["o_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.round(F.avg("gap_days"), 4).alias("avg_gap_days"),
             F.count("*").alias("n_gaps"))
        .orderBy("segment")
    )


# --- window: sliding frame ------------------------------------------------------------
@query(
    "revenue_7d_moving_avg",
    oracle="""
    SELECT day,
           rev_c2 / 100.0 AS daily_revenue,
           ((2 * 100 * SUM(rev_c2) OVER w + COUNT(*) OVER w)
            // (2 * COUNT(*) OVER w)) / 10000.0 AS moving_avg_7d
    FROM (
        SELECT STRFTIME(o_orderdate, '%Y-%m-%d') AS day,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c2
        FROM orders
        GROUP BY STRFTIME(o_orderdate, '%Y-%m-%d')
    )
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY day
    """,
)
def revenue_7d_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily totals + 7-row sliding mean (§2.7 rowsBetween). The
    global window runs over the *aggregated* day series (≤ thousands
    of rows at any SF), so the single-partition window is fine — the
    heavy lifting happened in the distributed pre-aggregation."""
    o = load_table(spark, "orders", sf_dir)
    daily = (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(F.sum(to_units(F.col("o_totalprice"), 2)).alias("rev_c2"))
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return (
        daily.select(
            "day",
            (F.col("rev_c2") / 100.0).alias("daily_revenue"),
            F.sum("rev_c2").over(w).alias("w_sum"),
            F.count("*").over(w).alias("w_n"),
        )
        .select(
            "day", "daily_revenue",
            (F.expr("(2 * 100 * w_sum + w_n) div (2 * w_n)") / 10000.0)
            .alias("moving_avg_7d"),
        )
        .orderBy("day")
    )


# --- grouping sets ---------------------------------------------------------------
@query(
    "order_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderstatus, '(all)')   AS orderstatus,
           COALESCE(o_orderpriority, '(all)') AS orderpriority,
           SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
                                              AS total_price,
           COUNT(*)                           AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY orderstatus, orderpriority
    """,
)
def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY GROUPING SETS — per-status, per-priority, and grand
    totals in one pass (§2.4 superset; Spark expands to a single
    Expand + aggregate, one shuffle). Via spark.sql so Catalyst plans
    the native grouping-sets node."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT COALESCE(o_orderstatus, '(all)')   AS orderstatus,
               COALESCE(o_orderpriority, '(all)') AS orderpriority,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                   / CAST(100 AS DOUBLE)          AS total_price,
               COUNT(*)                           AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY orderstatus, orderpriority
    """)


# --- full outer join --------------------------------------------------------------
@query(
    "nation_presence_full_outer",
    oracle="""
    SELECT COALESCE(cn.nation, sn.nation)       AS nation,
           COALESCE(cn.n_customers, 0)          AS n_customers,
           COALESCE(sn.n_suppliers, 0)          AS n_suppliers
    FROM (SELECT n.n_name AS nation, COUNT(*) AS n_customers
          FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
          GROUP BY n.n_name) cn
    FULL OUTER JOIN
         (SELECT n.n_name AS nation, COUNT(*) AS n_suppliers
          FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
          GROUP BY n.n_name) sn
      ON cn.nation = sn.nation
    ORDER BY nation
    """,
)
def nation_presence_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (§2.6 superset): nations having customers,
    suppliers, or either — both pre-aggregated sides are tiny, so the
    outer join runs over two small inputs regardless of fact size."""
    c = load_table(spark, "customer", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    cn = (c.join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
          .groupBy(F.col("n_name").alias("nation"))
          .agg(F.count("*").alias("n_customers")))
    sn = (s.join(F.broadcast(n), n["n_nationkey"] == s["s_nationkey"])
          .groupBy(F.col("n_name").alias("nation"))
          .agg(F.count("*").alias("n_suppliers")))
    return (
        cn.join(sn, "nation", "full_outer")
        .select(
            "nation",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nation")
    )


# --- cube -------------------------------------------------------------------------
@query(
    "lineitem_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           COUNT(*)                        AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE — all 2^k grouping combinations in one Expand +
    aggregate pass (§2.4 superset; completes rollup/grouping-sets/cube
    coverage)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


# --- §2.9 string functions ---------------------------------------------------------
@query(
    "string_functions_probe",
    oracle="""
    SELECT lower(p_brand)                                  AS brand_lower,
           COUNT(*)                                        AS n,
           MIN(upper(substr(p_name, 1, 8)))                AS min_name_prefix,
           MAX(length(p_type))                             AS max_type_len,
           MIN(concat(p_brand, ':', CAST(p_size AS VARCHAR))) AS min_brand_size
    FROM part
    GROUP BY lower(p_brand)
    ORDER BY brand_lower
    """,
)
def string_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface (§2.9: lower + formatting): lower/
    upper/substring/length/concat as grouping and aggregate inputs —
    all codegen'd JVM expressions."""
    p = load_table(spark, "part", sf_dir)
    return (
        p.groupBy(F.lower("p_brand").alias("brand_lower"))
        .agg(
            F.count("*").alias("n"),
            F.min(F.upper(F.substring("p_name", 1, 8))).alias("min_name_prefix"),
            F.max(F.length("p_type")).alias("max_type_len"),
            F.min(F.concat_ws(":", "p_brand", F.col("p_size").cast("string")))
            .alias("min_brand_size"),
        )
        .orderBy("brand_lower")
    )


# --- HAVING + IN-subquery (TPC-H Q18 shape) ---------------------------------------
@query(
    "large_volume_orders",
    oracle="""
    SELECT o.o_orderkey AS orderkey,
           ROUND(o.o_totalprice, 4) AS totalprice,
           SUM(CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_qty
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) > 3000
    )
    GROUP BY o.o_orderkey, o.o_totalprice
    ORDER BY total_qty DESC, orderkey
    LIMIT 20
    """,
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a HAVING-filtered aggregate.
    Catalyst rewrites the IN as a left-semi join against the
    aggregated subquery — one extra aggregation pass over lineitem,
    no row multiplication. Via spark.sql for the native subquery plan."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("lineitem")
    return spark.sql("""
        SELECT o.o_orderkey AS orderkey,
               ROUND(o.o_totalprice, 4) AS totalprice,
               SUM(CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT))
                   / CAST(100 AS DOUBLE) AS total_qty
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) > 3000
        )
        GROUP BY o.o_orderkey, o.o_totalprice
        ORDER BY total_qty DESC, orderkey
        LIMIT 20
    """)


# --- distinct aggregate --------------------------------------------------------------
@query(
    "brand_supplier_diversity",
    oracle="""
    SELECT p.p_brand AS brand,
           COUNT(DISTINCT l.l_suppkey) AS n_suppliers,
           COUNT(DISTINCT l.l_orderkey) AS n_orders,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    ORDER BY brand
    """,
)
def brand_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates alongside a plain count (§2.4
    superset) — Catalyst plans Expand + two-phase aggregation; the
    broadcast dim join keeps lineitem unshuffled until the agg."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    return (
        li.join(F.broadcast(p), p["p_partkey"] == li["l_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.count("*").alias("n_items"),
        )
        .orderBy("brand")
    )


# --- correlated scalar subquery --------------------------------------------------------
@query(
    "parts_above_brand_avg",
    oracle="""
    SELECT p_brand AS brand, COUNT(*) AS n_above
    FROM part p
    WHERE p_retailprice > (
        SELECT AVG(p2.p_retailprice) FROM part p2
        WHERE p2.p_brand = p.p_brand
    )
    GROUP BY p_brand
    ORDER BY brand
    """,
)
def parts_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED scalar subquery (per-brand average in the predicate)
    — Catalyst decorrelates it into an aggregate + join; no per-row
    re-execution. Via spark.sql for the native decorrelation path."""
    load_table(spark, "part", sf_dir).createOrReplaceTempView("part")
    return spark.sql("""
        SELECT p_brand AS brand, COUNT(*) AS n_above
        FROM part p
        WHERE p_retailprice > (
            SELECT AVG(p2.p_retailprice) FROM part p2
            WHERE p2.p_brand = p.p_brand
        )
        GROUP BY p_brand
        ORDER BY brand
    """)


# --- percentile aggregates -----------------------------------------------------------
@query(
    "order_price_quantiles",
    oracle="""
    SELECT o_orderpriority AS priority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
)
def order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group (median + p90) — Spark
    percentile() and DuckDB quantile_cont share linear-interpolation
    semantics. At 100 TB swap for approx_percentile (t-digest sketch,
    mergeable map-side) — exact percentile buffers each group's
    values, approx keeps constant state; the checked query stays exact
    so the oracle can verify it."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
            F.count("*").alias("n"),
        )
        .orderBy("priority")
    )


# --- arg-max (max_by) ------------------------------------------------------------------
@query(
    "top_customer_per_segment",
    oracle="""
    SELECT c_mktsegment AS segment,
           (max(struct_pack(bal := c_acctbal, key := c_custkey))).key AS top_custkey,
           ROUND((max(struct_pack(bal := c_acctbal, key := c_custkey))).bal, 4)
               AS top_acctbal
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY segment
    """,
)
def top_customer_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max per group via max-of-struct — lexicographic (balance,
    custkey) max is tie-robust and deterministic on both engines
    (plain max_by/arg_max leaves ties engine-defined). One aggregate,
    no window pass."""
    c = load_table(spark, "customer", sf_dir)
    best = F.max(F.struct(F.col("c_acctbal").alias("bal"),
                          F.col("c_custkey").alias("key")))
    return (
        c.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(best.alias("b"))
        .select(
            "segment",
            F.col("b.key").alias("top_custkey"),
            F.round(F.col("b.bal"), 4).alias("top_acctbal"),
        )
        .orderBy("segment")
    )


# --- array aggregation -------------------------------------------------------------
@query(
    "nations_per_region",
    oracle="""
    SELECT r.r_name AS region,
           array_to_string(list_sort(list(n.n_name)), ',') AS nations,
           COUNT(*) AS n_nations
    FROM nation n
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    ORDER BY region
    """,
)
def nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation (collect_list → sorted, joined to a string so
    the value hash is representation-independent across engines).
    collect_list is fine for bounded groups like dims; unbounded
    groups at 100 TB want explicit caps (slice) or re-aggregation."""
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        n.join(F.broadcast(r), r["r_regionkey"] == n["n_regionkey"])
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations"),
            F.count("*").alias("n_nations"),
        )
        .orderBy("region")
    )


@query(
    "late_shipment_priority_counts",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate BETWEEN '1996-01-01' AND '1996-06-30'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-EXISTS shape (TPC-H Q4 adapted to this schema's
    columns): orders in a half-year window having at least one
    lineitem shipped more than 60 days after the order date, counted
    per priority. The correlation — the subquery predicate references
    BOTH relations (l_shipdate vs o_orderdate) — compiles to a LEFT
    SEMI join whose condition carries the equi key (orderkey) plus the
    non-equi date comparison: the hash join keys on orderkey and
    evaluates the date predicate as a residual, never a nested loop.
    Scale: the orders side is date-filtered before the join (pushed to
    the scan); semi-join output is bounded by the orders side."""
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    o = orders.where(
        F.col("o_orderdate").between("1996-01-01", "1996-06-30"))
    cond = (
        (lineitem["l_orderkey"] == o["o_orderkey"])
        & (lineitem["l_shipdate"]
           > o["o_orderdate"] + F.expr("INTERVAL 60 DAY"))
    )
    return (
        o.join(lineitem, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(
    "promo_revenue_ratio_monthly",
    oracle="""
    WITH agg AS (
        SELECT STRFTIME(l_shipdate, '%Y-%m') AS month,
               SUM(CASE WHEN p_type = 'PROMO'
                        THEN CAST(FLOOR(l_extendedprice * (1 - l_discount)
                                        * 10000 + 0.5) AS BIGINT)
                        ELSE 0 END) AS promo_e4,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                              + 0.5) AS BIGINT)) AS tot_e4
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        GROUP BY month
    )
    SELECT month,
           ((2 * promo_e4 + 100) // 200) / 100.0 AS promo_revenue,
           ((2 * tot_e4 + 100) // 200) / 100.0   AS total_revenue,
           ((2 * promo_e4 * 10000 + tot_e4) // (2 * tot_e4)) / 10000.0
               AS promo_ratio
    FROM agg ORDER BY month
    """,
)
def promo_revenue_ratio_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-ratio fact⋈dim aggregate (TPC-H Q14 generalized
    from one month to a monthly series): the share of promo-part
    revenue per ship month. The part table rides as a BROADCAST
    (dim-class, like every part/nation join here); the shipdate year
    filter is pushed to the fact scan; one hash aggregate on the
    month key computes both conditional sums — no second pass, no
    self-join."""
    lineitem = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    rev_e4 = to_units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    promo_e4 = F.when(F.col("p_type") == "PROMO", rev_e4).otherwise(F.lit(0))
    return (
        lineitem.where((F.col("l_shipdate") >= "1996-01-01")
                       & (F.col("l_shipdate") < "1997-01-01"))
        .join(F.broadcast(part),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(
            F.sum(promo_e4).alias("promo_e4"),
            F.sum(rev_e4).alias("tot_e4"),
        )
        .select(
            "month",
            (F.expr("(2 * promo_e4 + 100) div 200") / 100.0)
            .alias("promo_revenue"),
            (F.expr("(2 * tot_e4 + 100) div 200") / 100.0)
            .alias("total_revenue"),
            (F.expr("(2 * promo_e4 * 10000 + tot_e4) div (2 * tot_e4)")
             / 10000.0).alias("promo_ratio"),
        )
        .orderBy("month")
    )


@query(
    "late_events_merge",
    oracle="""
    WITH upd AS (
        SELECT event_id, ts, user_id, event_type, value + 100 AS value,
               props
        FROM events WHERE event_id % 7 = 0
        UNION ALL
        SELECT event_id + 100000000, ts, user_id, event_type, value, props
        FROM events WHERE event_id % 13 = 0
    ),
    m AS (
        SELECT COALESCE(b.event_id, u.event_id) AS event_id,
               CASE WHEN u.event_id IS NULL
                    THEN b.event_type ELSE u.event_type END AS event_type,
               CASE WHEN u.event_id IS NULL
                    THEN b.value ELSE u.value END AS value,
               CASE WHEN u.event_id IS NULL THEN 'carry'
                    WHEN b.event_id IS NULL THEN 'insert'
                    ELSE 'update' END AS action
        FROM events b FULL JOIN upd u ON b.event_id = u.event_id
    )
    SELECT event_type, action,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
               AS sum_value
    FROM m GROUP BY event_type, action
    ORDER BY event_type, action
    """,
)
def late_events_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert audit (§2.3 generalized): apply a late-arriving
    correction batch to the events fact — value corrections for
    matched ids plus brand-new rows — and report row counts and value
    sums per (event_type, action). The batch is derived
    deterministically from events itself (id mod 7 → corrections,
    id mod 13 → re-keyed inserts) so the oracle reproduces it exactly.

    Plan: the merge is merge_upsert's single full-outer equi-join on
    event_id (no broadcast form exists for full outer; sort-merge,
    one shuffle per side), then one hash aggregate on the merged
    output. At scale the batch side is small and partition pruning on
    the base bounds the join input — see the operator docstring."""
    from flight_data_pipeline_spark.operators.relational import merge_upsert

    ev = load_table(spark, "events", sf_dir)
    corrections = ev.where(F.col("event_id") % 7 == 0).withColumn(
        "value", F.col("value") + 100)
    arrivals = ev.where(F.col("event_id") % 13 == 0).withColumn(
        "event_id", F.col("event_id") + 100_000_000)
    updates = corrections.unionByName(arrivals)
    merged = merge_upsert(ev, updates, ["event_id"], action_col="action")
    return (
        merged.groupBy("event_type", "action")
        .agg(
            F.count("*").alias("n_rows"),
            (F.sum(to_units(F.col("value"), 2)) / 100.0).alias("sum_value"),
        )
        .orderBy("event_type", "action")
    )


# Incremental-maintenance pivot: rows before it form the "materialized"
# base view; rows at/after it arrive as the delta batch.
INCR_PIVOT = "2024-01-25"


@query(
    "incremental_rollup_merge",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
               AS sum_value
    FROM events
    GROUP BY day, event_type
    ORDER BY day, event_type
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view delta maintenance: the daily (day,
    event_type) rollup is precomputed over the base slice, the late
    slice aggregates separately, and combine_partial_aggs merges the
    two partial states per key — the facts are never rescanned
    together. The ORACLE IS THE FULL RECOMPUTE over all events, so a
    hash match proves incremental maintenance ≡ recompute.

    Plan: two independent partial aggregates (each map-side combined)
    + one full-outer join on the key space (day × event_type — view
    cardinality, not fact rows). At 100 TB the base aggregate is a
    stored table and only the delta scan runs per refresh; rounding
    happens ONLY after the merge so partial sums stay exact."""
    from flight_data_pipeline_spark.operators.relational import (
        combine_partial_aggs,
    )

    ev = load_table(spark, "events", sf_dir)
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")

    def rollup(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(day.alias("day"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(to_units(F.col("value"), 2)).alias("sum_value"))
        )

    base = rollup(ev.where(F.col("ts") < INCR_PIVOT))
    delta = rollup(ev.where(F.col("ts") >= INCR_PIVOT))
    merged = combine_partial_aggs(
        base, delta, keys=("day", "event_type"),
        agg_cols=("n_events", "sum_value"))
    return (
        merged.select(
            "day", "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            (F.col("sum_value") / 100.0).alias("sum_value"),
        )
        .orderBy("day", "event_type")
    )


@query(
    "key_skew_stats",
    oracle="""
    WITH k AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    r AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rn FROM k
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(MAX(c) AS BIGINT) AS max_per_key,
           ROUND(AVG(c), 4) AS avg_per_key,
           ROUND(MAX(c) / AVG(c), 4) AS skew_ratio,
           ROUND(SUM(CASE WHEN rn <= 10 THEN c ELSE 0 END)
                 * 1.0 / SUM(c), 4) AS top10_share
    FROM r
    """,
)
def key_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic — the measurement that decides
    between a plain groupBy/join, AQE skew splitting, and explicit
    salting (operators/relational.salted_groupby_agg / salted_join):
    per-key row counts reduced to max/avg skew ratio and the share of
    rows held by the 10 hottest keys.

    Plan: one per-key aggregate (map-side combined — the scan's
    output is |keys| rows), then a top-k rank and a single-row
    rollup over the KEY-cardinality frame; the fact table is read
    once and nothing driver-side ever sees a per-row structure."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    k = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    r = k.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(F.lit(1)).orderBy(F.desc("c"), "user_id")))
    return r.agg(
        F.count("*").alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_per_key"),
        F.round(F.avg("c"), 4).alias("avg_per_key"),
        F.round(F.max("c") / F.avg("c"), 4).alias("skew_ratio"),
        F.round(F.sum(F.when(F.col("rn") <= 10, F.col("c")).otherwise(0))
                / F.sum("c"), 4).alias("top10_share"),
    )


@query(
    "top2_orders_per_customer_lateral",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
    ORDER BY c_custkey, o_totalprice DESC, o_orderkey
    """,
)
def top2_orders_per_customer_lateral(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL
    surface for per-group top-k, run through ``spark.sql`` to pin that
    the engine's SQL front door supports it (the DataFrame twin is
    `top_customer_per_segment`'s row_number form).

    Plan (verified via explain): Catalyst DECORRELATES the lateral —
    no per-customer re-execution of the subquery. The physical plan
    is WindowGroupLimit(partial) map-side → one hash exchange on
    o_custkey → WindowGroupLimit(final) + row_number filter, then a
    broadcast join against customer: per-partition top-k heaps
    exactly like TakeOrderedAndProject, generalized per group. A
    naive nested-loop lateral would be quadratic; this is one
    shuffle of the (pre-pruned) top-2-per-key rows."""
    from flight_data_pipeline_spark.tables import load_table

    load_table(spark, "customer", sf_dir).createOrReplaceTempView("customer")
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
    """)


@query(
    "orders_fingerprint",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CONCAT('0x', substr(md5(
                   CONCAT_WS('|', o_orderkey, o_custkey, o_orderstatus,
                             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
                             CAST(o_orderdate AS VARCHAR),
                             o_orderpriority)), 1, 12)) AS BIGINT)
               % 1000000007) AS BIGINT) AS fingerprint
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def orders_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine table fingerprint of orders per status — the
    migration-validation audit: the same md5-mod-sum computed by any
    other engine over the same rows yields the same number, so a
    source system and its Spark copy compare with one row per group
    (operators/relational.table_fingerprint; this oracle IS the
    other-engine run). Floats enter as a cents BIGINT — the one
    engine-unstable stringification, encoded away.

    Plan: map-side md5 + mod, one grouped SUM with map-side combine;
    the shuffle carries one row per status."""
    from flight_data_pipeline_spark.operators.relational import (
        table_fingerprint,
    )

    o = load_table(spark, "orders", sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    return table_fingerprint(
        o,
        cols=[F.col("o_orderkey"), F.col("o_custkey"),
              F.col("o_orderstatus"), cents,
              F.col("o_orderdate").cast("string"),
              F.col("o_orderpriority")],
        group_by=("o_orderstatus",),
    ).orderBy("o_orderstatus")


@query(
    "events_snapshot_diff",
    oracle="""
    WITH upd AS (
        SELECT event_id, value + 100 AS value FROM events
        WHERE event_id % 7 = 0
        UNION ALL
        SELECT event_id + 100000000, value FROM events
        WHERE event_id % 13 = 0
    ),
    new_snap AS (
        SELECT COALESCE(b.event_id, u.event_id) AS event_id,
               CASE WHEN u.event_id IS NULL THEN b.value
                    ELSE u.value END AS value
        FROM events b FULL JOIN upd u ON b.event_id = u.event_id
    ),
    diff AS (
        SELECT COALESCE(o.event_id, n.event_id) AS event_id,
               CASE WHEN o.event_id IS NULL THEN 'insert'
                    WHEN n.event_id IS NULL THEN 'delete'
                    WHEN o.value IS DISTINCT FROM n.value THEN 'update'
               END AS action,
               CASE WHEN n.event_id IS NULL THEN o.value
                    ELSE n.value END AS value
        FROM events o FULL JOIN new_snap n ON o.event_id = n.event_id
    )
    SELECT action,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
               AS sum_value
    FROM diff WHERE action IS NOT NULL
    GROUP BY action
    ORDER BY action
    """,
)
def events_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC derivation closing the merge loop: apply the
    late_events_merge correction batch to get the new snapshot, then
    DIFF old vs new with operators/relational.snapshot_diff — the
    recovered change feed must contain exactly the corrections
    (updates) and re-keyed arrivals (inserts), no deletes, proving
    diff∘merge = the original change set. Aggregated per action for
    the checked row.

    Plan: two full-outer equi-joins on event_id (merge, then diff) —
    each side shuffles once per join; unchanged keys drop before the
    per-action aggregate."""
    from flight_data_pipeline_spark.operators.relational import (
        merge_upsert,
        snapshot_diff,
    )

    ev = load_table(spark, "events", sf_dir).select("event_id", "value")
    corrections = ev.where(F.col("event_id") % 7 == 0).withColumn(
        "value", F.col("value") + 100)
    arrivals = ev.where(F.col("event_id") % 13 == 0).withColumn(
        "event_id", F.col("event_id") + 100_000_000)
    new_snap = merge_upsert(
        ev, corrections.unionByName(arrivals), ["event_id"])
    diff = snapshot_diff(ev, new_snap, keys=["event_id"],
                         compare_cols=["value"])
    return (
        diff.groupBy("action")
        .agg(F.count("*").alias("n_rows"),
             (F.sum(to_units(F.col("value"), 2)) / 100.0).alias("sum_value"))
        .orderBy("action")
    )


# Equi-width histogram: pinned bounds and bin count (pinning keeps the
# binning a pure map-side expression — deriving bounds in-query would
# add a min/max pass; at scale bounds come from table stats).
from flight_data_pipeline_spark.functions.scalars import (  # noqa: E402
    HIST_BINS,
    HIST_HI,
    HIST_LO,
)


@query(
    "event_value_histogram",
    oracle=f"""
    WITH binned AS (
        SELECT CAST(LEAST(GREATEST(FLOOR((value - {HIST_LO})
                   * {HIST_BINS} / ({HIST_HI} - {HIST_LO})), 0),
                   {HIST_BINS} - 1) AS BIGINT) AS bin,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    )
    SELECT bin,
           ROUND({HIST_LO} + bin * ({HIST_HI} - {HIST_LO})
                 / {HIST_BINS}, 2) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values over pinned bounds —
    out-of-range values clamp into the edge bins so the histogram is
    total. One map-side binning expression + one hash aggregate on
    ≤ HIST_BINS keys; the shuffle carries the histogram, not the
    data (the same pinned-cutoff discipline as the CCNet quality
    bands — no in-query min/max pass, no sort). Per-bin value mass
    is an integer CENTS sum: order-free partials, so both engines
    see identical numbers (the hourly_gap_fill lesson — a float AVG
    of 2-decimal prices routinely lands on rounding boundaries)."""
    ev = load_table(spark, "events", sf_dir).where(
        F.col("value").isNotNull())
    width = (HIST_HI - HIST_LO) / HIST_BINS
    raw = F.floor((F.col("value") - HIST_LO) * HIST_BINS
                  / (HIST_HI - HIST_LO))
    bin_ = F.least(F.greatest(raw, F.lit(0)),
                   F.lit(HIST_BINS - 1)).cast("long")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    return (
        ev.groupBy(bin_.alias("bin"))
        .agg(F.count("*").alias("n"),
             F.sum(cents).alias("sum_cents"))
        .select(
            "bin",
            F.round(HIST_LO + F.col("bin") * width, 2).alias("bin_lo"),
            "n", "sum_cents")
        .orderBy("bin")
    )


# Rolling z-score anomaly detection: window width and the flag cutoff.
ZSCORE_WIN, ZSCORE_CUT = 7, 2.0


@query(
    "daily_value_anomalies",
    oracle=f"""
    WITH daily AS (
        SELECT DATE_TRUNC('day', ts) AS day,
               SUM(value) AS total
        FROM events GROUP BY day
    ),
    scored AS (
        SELECT day, total,
               AVG(total) OVER w AS mu,
               STDDEV_SAMP(total) OVER w AS sigma
        FROM daily
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN {ZSCORE_WIN} PRECEDING AND 1 PRECEDING)
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day,
           ROUND(total, 2) AS total,
           ROUND((total - mu) / sigma, 4) AS zscore,
           CAST(ABS((total - mu) / sigma) > {ZSCORE_CUT} AS INT)
               AS is_anomaly
    FROM scored WHERE sigma IS NOT NULL AND sigma > 0
    ORDER BY day
    """,
)
def daily_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on the daily value series:
    each day scored against the trailing {ZSCORE_WIN}-day mean/stddev
    (PRECEDING frame only — the scored day never contaminates its own
    baseline), flagged beyond {ZSCORE_CUT}σ.

    Plan: one data-sized daily aggregate, then rolling windows over
    the DAY-cardinality series (time-range rows at any scale; the
    same spine-sized-window argument as hourly_gap_fill). Warm-up
    days without a defined baseline drop out identically on both
    engines (sigma null/zero guard)."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum("value").alias("total"))
    w = Window.orderBy("day").rowsBetween(-ZSCORE_WIN, -1)
    scored = daily.select(
        "day", "total",
        F.avg("total").over(w).alias("mu"),
        F.stddev_samp("total").over(w).alias("sigma"))
    z = (F.col("total") - F.col("mu")) / F.col("sigma")
    return (
        scored.where(F.col("sigma").isNotNull() & (F.col("sigma") > 0))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("total", 2).alias("total"),
            F.round(z, 4).alias("zscore"),
            (F.abs(z) > ZSCORE_CUT).cast("int").alias("is_anomaly"),
        )
        .orderBy("day")
    )


@query(
    "salted_value_stats_by_type",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)   AS n_events,
           SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0
                                      AS sum_value,
           ROUND(MIN(value), 4)       AS min_value,
           ROUND(MAX(value), 4)       AS max_value,
           ((2 * 100 * SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
             + COUNT(*)) // (2 * COUNT(*))) / 10000.0 AS avg_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def salted_value_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation checked against the plain GROUP BY
    it must equal — the skew-mitigation pattern
    (operators/relational.salted_groupby_agg) promoted to a
    driver-checked query so its algebra (sum/count/min/max partials
    re-combined per key, avg composed as sum/count) is hash-verified,
    not just unit-tested.

    Phase 1 groups on (event_type, xxhash64(row) % 16) so a hot key's
    rows spread over 16 reducers; phase 2 combines the ≤ 16·|keys|
    partial rows. For decomposable aggregates the result is identical
    to the direct plan at any salt width — which is exactly what the
    oracle's unsalted GROUP BY checks. Use when one grouping key
    dominates (power-law producers) and the skew sits in an aggregate
    where AQE's join-skew splitting can't see it; costs one extra
    shuffle of the tiny partial frame. The summed value rides as exact
    integer cents (scalars.to_units): the salted re-association is
    then bit-identical to the oracle's single-pass sum, and the avg
    composes as exact integer division — no float-drift tolerance."""
    from flight_data_pipeline_spark.operators.relational import salted_groupby_agg

    ev = load_table(spark, "events", sf_dir).withColumn(
        "value_c2", to_units(F.col("value"), 2))
    agg = salted_groupby_agg(
        ev, ["event_type"],
        {
            "n_events": ("event_id", "count"),
            "sum_c2": ("value_c2", "sum"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
        salt_buckets=16,
    )
    return agg.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        (F.col("sum_c2") / 100.0).alias("sum_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
        (F.expr("(2 * 100 * sum_c2 + n_events) div (2 * n_events)")
         / 10000.0).alias("avg_value"),
    ).orderBy("event_type")


FUZZY_MAX_DIST = 2


@query(
    "fuzzy_part_name_pairs",
    oracle=f"""
    WITH n AS (
        SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a,
           b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_distance,
           a.n_parts AS n_a,
           b.n_parts AS n_b
    FROM n a JOIN n b ON a.p_name < b.p_name
    WHERE abs(len(a.p_name) - len(b.p_name)) <= {FUZZY_MAX_DIST}
      AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
    ORDER BY name_a, name_b
    """,
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: near-identical part-name pairs within
    Levenshtein distance FUZZY_MAX_DIST (= 2), with multiplicities — the
    approximate-string-join surface
    (operators/fuzzy.fuzzy_string_pairs_blocked).

    The oracle brute-forces the distinct-name pair space (fine at
    64–200 distinct names); the Spark side runs the production shape —
    distinct-first collapse, Ed-Join rarest-gram prefix blocking
    (plus symmetric-delete neighborhoods for short strings), length
    filter, thresholded-Levenshtein verify — whose candidate count
    scales with rare-gram collisions, not |names|². Provably the
    same answer at any d (completeness proof in the operator
    docstring; equality property-tested in tests/test_properties.py
    over adversarial vocabularies)."""
    from flight_data_pipeline_spark.operators.fuzzy import (
        fuzzy_string_pairs_blocked,
    )

    part = load_table(spark, "part", sf_dir)
    return fuzzy_string_pairs_blocked(
        part, "p_name", max_distance=FUZZY_MAX_DIST
    )


# FK edges of the star schema: child table, FK column, parent table, PK.
_RI_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


@query(
    "referential_integrity_audit",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{child}.{fk}' AS fk_edge,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphans
    FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
      ON c.{fk} = p.{pk}
    """
        for child, fk, parent, pk in _RI_EDGES
    ),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every FK edge of the star
    schema in one result: per edge, child row count and orphan count
    (child keys with no parent). The data-quality gate a warehouse
    load runs before publishing — the engine's generalization of the
    reference's single dedup-existence probe (etl_job.py:226-237,
    the same anti-join shape fanned out across the schema).

    Each edge is one left join against the DISTINCT parent keys —
    dims (region/nation/customer/part/supplier) broadcast under AQE,
    so no fact-table shuffle on any edge; the per-edge output is a
    single row and the union is free (no shuffle merges result
    rows). A clean audit (0 orphans everywhere, as here) is the
    checked signal; at 100 TB the same plan quarantines orphans by
    swapping the count for the anti-join rows themselves."""
    out = None
    for child, fk, parent, pk in _RI_EDGES:
        c = load_table(spark, child, sf_dir)
        p = load_table(spark, parent, sf_dir).select(
            F.col(pk).alias("__pk")).distinct()
        audited = (
            c.join(p, c[fk] == F.col("__pk"), "left")
            .agg(
                F.lit(f"{child}.{fk}").alias("fk_edge"),
                F.count("*").alias("n_rows"),
                F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
                .alias("n_orphans"),
            )
        )
        out = audited if out is None else out.unionByName(audited)
    return out


_PROFILE_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "events_column_profile",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT)            AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
    FROM events
    """
        for c in _PROFILE_COLS
    ),
)
def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile of the events table — per column:
    row count, nulls, exact distinct cardinality. The observability
    pass that feeds schema drift alerts, join-key selection, and
    dictionary-encoding decisions; the engine twin of a warehouse's
    ANALYZE/statistics collection, as a checked query.

    ONE scan: all six (count, count(col), count(distinct col))
    triples ride a single multi-distinct aggregate — Catalyst plans
    it with one Expand (×|columns| row multiplication map-side)
    instead of six scans; the unpivot to long form is a zero-shuffle
    stack() over the single aggregated row. At 100 TB prefer
    approx_count_distinct per column (one pass, no Expand, mergeable
    HLL state) — exact here so the oracle can verify values."""
    ev = load_table(spark, "events", sf_dir)
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count("*").alias(f"{c}__rows"),
            (F.count("*") - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    wide = ev.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__distinct" for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) "
        "AS (column_name, n_rows, n_null, n_distinct)"
    )


WINSOR_LO, WINSOR_HI = 0.05, 0.95


@query(
    "winsorized_value_stats",
    oracle=f"""
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, {WINSOR_LO}) AS lo,
               quantile_cont(value, {WINSOR_HI}) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(AVG(e.value), 4) AS raw_mean,
           ROUND(AVG(LEAST(GREATEST(e.value, q.lo), q.hi)), 4)
               AS winsorized_mean,
           ROUND(q.lo, 4) AS p05,
           ROUND(q.hi, 4) AS p95,
           CAST(SUM(CASE WHEN e.value < q.lo OR e.value > q.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type, q.lo, q.hi
    ORDER BY e.event_type
    """,
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clipped) robust statistics per event type:
    exact p05/p95 bounds, raw vs clipped mean, and how many values
    the clip touched — the robust-stats pass that keeps a corrupted
    sensor or a whale user from dragging a training-signal mean.

    Two aggregates over one fact scan lineage: per-type percentiles
    (5 rows) broadcast-join back onto events, then the clipped
    re-aggregate — the fact table shuffles once per aggregate on the
    same 5-value key, never on anything wider. At 100 TB swap the
    exact percentile for approx_percentile to keep constant state
    per group (same plan otherwise); exact here so the oracle
    verifies values."""
    ev = load_table(spark, "events", sf_dir)
    q = ev.groupBy("event_type").agg(
        F.percentile("value", WINSOR_LO).alias("lo"),
        F.percentile("value", WINSOR_HI).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 4).alias("raw_mean"),
            F.round(F.avg(clipped), 4).alias("winsorized_mean"),
            F.sum(F.when((F.col("value") < F.col("lo"))
                         | (F.col("value") > F.col("hi")), 1)
                  .otherwise(0)).alias("n_clipped"),
        )
        .select(
            "event_type", "n_events", "raw_mean", "winsorized_mean",
            F.round("lo", 4).alias("p05"),
            F.round("hi", 4).alias("p95"),
            "n_clipped",
        )
        .orderBy("event_type")
    )


PSI_PIVOT = "2024-01-16 00:00:00"  # expected window < pivot <= actual window


@query(
    "value_psi_drift",
    oracle=f"""
    WITH b AS (
        SELECT event_type,
               CASE WHEN ts < TIMESTAMP '{PSI_PIVOT}' THEN 1 ELSE 0 END AS e,
               CAST(LEAST(GREATEST(FLOOR((value - {HIST_LO})
                    * {HIST_BINS} / ({HIST_HI} - {HIST_LO})), 0),
                    {HIST_BINS} - 1) AS BIGINT) AS bin
        FROM events WHERE value IS NOT NULL
    ), c AS (
        SELECT event_type, bin,
               SUM(e)     AS ne,
               SUM(1 - e) AS na
        FROM b GROUP BY event_type, bin
    ), t AS (
        SELECT event_type, SUM(ne) AS te, SUM(na) AS ta,
               COUNT(*) AS nb
        FROM c GROUP BY event_type
    )
    SELECT c.event_type,
           CAST(t.te AS BIGINT) AS n_expected,
           CAST(t.ta AS BIGINT) AS n_actual,
           ROUND(SUM(((na + 0.5) / (ta + 0.5 * nb)
                      - (ne + 0.5) / (te + 0.5 * nb))
                     * LN(((na + 0.5) / (ta + 0.5 * nb))
                          / ((ne + 0.5) / (te + 0.5 * nb)))), 4) AS psi
    FROM c JOIN t USING (event_type)
    GROUP BY c.event_type, t.te, t.ta
    ORDER BY event_type
    """,
)
def value_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type — the standard
    data-drift monitor between a baseline window (ts < PSI_PIVOT, 2024-01-16)
    and the current window: bin the value distribution on the SAME
    pinned equi-width bins as event_value_histogram, then
    PSI = Σ (p_cur − p_base)·ln(p_cur/p_base) with +0.5 Laplace
    smoothing per observed bin so empty-on-one-side bins contribute
    finitely and identically on both engines. Rule of thumb:
    <0.1 stable, 0.1-0.25 drifting, >0.25 shifted.

    Plan: one scan, map-side (window, bin) tagging, one aggregate on
    (type, bin) — ≤ |types|·HIST_BINS (20) rows — then PSI arithmetic
    over that histogram-sized frame; the pinned bins mean no
    in-query min/max pass and the shuffle carries the histogram,
    not the data. At 100 TB the baseline side is a persisted
    histogram and only the current window is scanned."""
    ev = load_table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    width_expr = (F.col("value") - HIST_LO) * HIST_BINS / (HIST_HI - HIST_LO)
    bin_col = F.least(
        F.greatest(F.floor(width_expr), F.lit(0)),
        F.lit(HIST_BINS - 1),
    ).cast("long")
    e = F.when(F.col("ts") < F.lit(PSI_PIVOT).cast("timestamp"), 1).otherwise(0)
    c = (
        ev.select("event_type", e.alias("e"), bin_col.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.sum("e").alias("ne"), F.sum(1 - F.col("e")).alias("na"))
    )
    t = c.groupBy("event_type").agg(
        F.sum("ne").alias("te"), F.sum("na").alias("ta"),
        F.count("*").alias("nb"))
    pa = (F.col("na") + 0.5) / (F.col("ta") + 0.5 * F.col("nb"))
    pe = (F.col("ne") + 0.5) / (F.col("te") + 0.5 * F.col("nb"))
    return (
        c.join(t, "event_type")
        .groupBy("event_type", "te", "ta")
        .agg(F.round(F.sum((pa - pe) * F.log(pa / pe)), 4).alias("psi"))
        .select(
            "event_type",
            F.col("te").cast("long").alias("n_expected"),
            F.col("ta").cast("long").alias("n_actual"),
            "psi",
        )
        .orderBy("event_type")
    )


@query(
    "ranking_functions_probe",
    oracle="""
    WITH oc AS (
        SELECT c.c_nationkey, c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, c.c_custkey
    )
    SELECT c_nationkey, c_custkey, n_orders,
           CAST(ROW_NUMBER()   OVER wdet  AS BIGINT) AS rn,
           CAST(RANK()         OVER wties AS BIGINT) AS rnk,
           CAST(DENSE_RANK()   OVER wties AS BIGINT) AS drnk,
           CAST(NTILE(4)       OVER wdet  AS BIGINT) AS quartile,
           ROUND(PERCENT_RANK() OVER wties, 4)       AS pct_rank,
           ROUND(CUME_DIST()    OVER wties, 4)       AS cume
    FROM oc
    WINDOW
        wdet  AS (PARTITION BY c_nationkey ORDER BY n_orders DESC, c_custkey),
        wties AS (PARTITION BY c_nationkey ORDER BY n_orders DESC)
    QUALIFY rn <= 5
    ORDER BY c_nationkey, rn
    """,
)
def ranking_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete ranking-function surface in one checked result
    (§2.7 superset completion — row_number/rank/dense_rank/ntile/
    percent_rank/cume_dist; the lag/sum/avg frames are covered by
    the sessionize/moving-average family): customers ranked per
    nation by order count, top-5 per nation.

    Tie discipline is the point: the tie-PRESERVING window (order by
    n_orders only) feeds rank/dense_rank/percent_rank/cume_dist —
    their outputs are functions of the key value, so ties are
    engine-stable — while row_number and ntile, whose outputs depend
    on arbitrary within-tie order, run over the tie-BROKEN window
    (custkey appended). Both windows share one partition key, so
    Catalyst runs them in a single exchange + two Window nodes over
    the same sort. The left join keeps zero-order customers in the
    ranking (the order_count_histogram lesson)."""
    from pyspark.sql import Window

    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    oc = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_nationkey", "c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    wdet = Window.partitionBy("c_nationkey").orderBy(
        F.desc("n_orders"), "c_custkey")
    wties = Window.partitionBy("c_nationkey").orderBy(F.desc("n_orders"))
    return (
        oc.select(
            "c_nationkey", "c_custkey", "n_orders",
            F.row_number().over(wdet).alias("rn"),
            F.rank().over(wties).alias("rnk"),
            F.dense_rank().over(wties).alias("drnk"),
            F.ntile(4).over(wdet).cast("long").alias("quartile"),
            F.round(F.percent_rank().over(wties), 4).alias("pct_rank"),
            F.round(F.cume_dist().over(wties), 4).alias("cume"),
        )
        .where(F.col("rn") <= 5)
        .select(
            "c_nationkey", "c_custkey", "n_orders",
            F.col("rn").cast("long").alias("rn"),
            F.col("rnk").cast("long").alias("rnk"),
            F.col("drnk").cast("long").alias("drnk"),
            "quartile", "pct_rank", "cume",
        )
        .orderBy("c_nationkey", "rn")
    )


@query(
    "value_equidepth_histogram",
    oracle="""
    WITH b AS (
        SELECT value,
               CAST(NTILE(10) OVER (ORDER BY value, event_id) AS BIGINT)
                   AS decile
        FROM events WHERE value IS NOT NULL
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(value), 4)     AS lo,
           ROUND(MAX(value), 4)     AS hi
    FROM b GROUP BY decile ORDER BY decile
    """,
)
def value_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of event values: ten equal-population
    deciles with their value ranges — the complement of
    event_value_histogram's pinned equi-width bins (equi-depth is
    what query optimizers and drift monitors actually keep, since it
    resolves the dense region instead of wasting bins on empty
    tails). Ties broken by event_id so both engines cut identical
    deciles.

    The NTILE over a global ORDER BY is a deliberate single-sort
    formulation kept exact for the oracle; it plans as one
    RangePartitioning sort (parallel sort, single-partition window
    only for tile assignment). The 100 TB form computes decile CUTS
    from approx_percentile (constant state, no global sort) and bins
    map-side against the broadcast cuts — same output columns, cuts
    approximate; the exact query stays the checked one."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    w = Window.orderBy("value", "event_id")
    return (
        ev.select("value", F.ntile(10).over(w).cast("long").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
        .orderBy("decile")
    )


@query(
    "urgent_order_customers_exists",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(SUM(CASE WHEN EXISTS (
                    SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_with_urgent,
           CAST(SUM(CASE WHEN NOT EXISTS (
                    SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orderless,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def urgent_order_customers_exists(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL front door —
    the subquery-predicate surface beside the lateral probe
    (top2_orders_per_customer_lateral): per segment, customers with
    ≥1 urgent order and customers with no orders at all, in one
    query.

    Catalyst's RewritePredicateSubquery turns both predicates into
    JOINS, not per-row subquery executions: EXISTS → existence/semi
    join, NOT EXISTS → anti join — here (EXISTS inside an aggregate
    expression) an ExistenceJoin producing a boolean column. The
    urgent filter pushes below its join's build side. The DataFrame
    twins of these shapes are customers_with_orders_by_segment
    (semi) and customers_without_orders (anti); this pins that the
    SQL parser + decorrelator deliver the same plans."""
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("customer")
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT c.c_mktsegment AS segment,
               CAST(SUM(CASE WHEN EXISTS (
                        SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_with_urgent,
               CAST(SUM(CASE WHEN NOT EXISTS (
                        SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_orderless,
               COUNT(*) AS n_customers
        FROM customer c
        GROUP BY c.c_mktsegment
        ORDER BY segment
    """)


@query(
    "setops_bag_semantics",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM (
         SELECT user_id FROM events WHERE event_type = 'click'
         INTERSECT ALL
         SELECT user_id FROM events WHERE event_type = 'view'))
          AS n_intersect_all,
      (SELECT COUNT(*) FROM (
         SELECT user_id FROM events WHERE event_type = 'click'
         EXCEPT ALL
         SELECT user_id FROM events WHERE event_type = 'view'))
          AS n_except_all,
      (SELECT COUNT(*) FROM (
         SELECT user_id FROM events WHERE event_type = 'click'
         UNION ALL
         SELECT user_id FROM events WHERE event_type = 'view'))
          AS n_union_all
    """,
)
def setops_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics set operations (§2.8 completion — segment_setops
    pins the DISTINCT forms): INTERSECT ALL / EXCEPT ALL / UNION ALL
    over per-event user multisets, where multiplicity is the point —
    a user with 3 clicks and 2 views contributes 2 rows to the
    intersection and 1 to the difference (min/saturating-subtract of
    multiplicities, per the SQL standard).

    Catalyst plans intersectAll/exceptAll by attaching per-key
    counts (a partial aggregate on each side) and re-generating
    min(n_a, n_b) / max(n_a − n_b, 0) rows — one shuffle per side on
    the value key, no row-by-row matching; unionAll is a free
    concatenation (no shuffle at all). Each leg reduces to a count
    here, and the three scalar counts attach via broadcast one-row
    cross joins (the scalar_counts pattern)."""
    ev = load_table(spark, "events", sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    views = ev.where(F.col("event_type") == "view").select("user_id")
    ia = clicks.intersectAll(views).agg(
        F.count("*").alias("n_intersect_all"))
    ea = clicks.exceptAll(views).agg(F.count("*").alias("n_except_all"))
    ua = clicks.unionAll(views).agg(F.count("*").alias("n_union_all"))
    return ia.crossJoin(F.broadcast(ea)).crossJoin(F.broadcast(ua))


@query(
    "string_functions_probe_2",
    oracle="""
    WITH n AS (SELECT DISTINCT p_name FROM part)
    SELECT p_name,
           split_part(p_name, ' ', 1)                    AS first_word,
           split_part(p_name, ' ', 2)                    AS second_word,
           CAST(instr(p_name, 'o') AS INT)               AS first_o_pos,
           lpad(p_name, 12, '.')                         AS padded,
           replace(p_name, ' ', '_')                     AS snaked,
           reverse(p_name)                               AS reversed,
           left(p_name, 3)                               AS l3,
           right(p_name, 3)                              AS r3,
           translate(p_name, 'aeiou', 'AEIOU')           AS vowels_up,
           regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS noun
    FROM n ORDER BY p_name
    """,
)
def string_functions_probe_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rest of the §2.9 string surface, per-value cross-checked
    (string_functions_probe covers lower/upper/substring/concat):
    split_part, instr (1-based, 0 when absent), lpad, replace,
    reverse, left/right, translate, and regexp group extraction —
    one row per DISTINCT part name, so any semantic divergence on
    any value breaks the hash. All map-side codegen'd expressions;
    the distinct-first collapse keeps the probe |names|-sized at any
    fact-table scale."""
    p = load_table(spark, "part", sf_dir).select("p_name").distinct()
    name = F.col("p_name")
    return p.select(
        "p_name",
        F.split_part(name, F.lit(" "), F.lit(1)).alias("first_word"),
        F.split_part(name, F.lit(" "), F.lit(2)).alias("second_word"),
        F.instr(name, "o").alias("first_o_pos"),
        F.lpad(name, 12, ".").alias("padded"),
        F.replace(name, F.lit(" "), F.lit("_")).alias("snaked"),
        F.reverse(name).alias("reversed"),
        F.left(name, F.lit(3)).alias("l3"),
        F.right(name, F.lit(3)).alias("r3"),
        F.translate(name, "aeiou", "AEIOU").alias("vowels_up"),
        F.regexp_extract(name, r"([a-z]+) ([a-z]+)", 2).alias("noun"),
    ).orderBy("p_name")


@query(
    "null_and_bool_probe",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)                       AS n,
           CAST(count_if(value > 400) AS BIGINT)          AS n_high,
           bool_and(value > 0)                            AS all_positive,
           bool_or(value > 480)                           AS any_very_high,
           ((2 * 100 * SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
             + count_if(value > 400))
            // (2 * NULLIF(count_if(value > 400), 0))) / 10000.0
                                                          AS high_guarded_ratio,
           MIN(ifnull(nullif(event_type, 'click'), 'WAS_CLICK'))
                                                          AS nullif_roundtrip
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def null_and_bool_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-discipline and boolean-aggregate surface in one checked
    result (§2.9 conditional family beside the CASE/coalesce
    queries): count_if, bool_and/bool_or, NULLIF as the
    division-by-zero guard (the idiom that keeps a rate NULL instead
    of erroring when its denominator group is empty — here the
    'click' group's guarded ratio is exactly that NULL on both
    engines when no high values exist), and a NULLIF→IFNULL round
    trip. Map-side expressions, one 5-group aggregate."""
    ev = load_table(spark, "events", sf_dir)
    v = F.col("value")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_if(v > 400).alias("n_high"),
            F.bool_and(v > 0).alias("all_positive"),
            F.bool_or(v > 480).alias("any_very_high"),
            (F.floor(
                (2 * 100 * F.sum(to_units(v, 2)) + F.count_if(v > 400))
                / (2 * F.nullif(F.count_if(v > 400), F.lit(0)))
            ) / 10000.0).alias("high_guarded_ratio"),
            F.min(F.ifnull(F.nullif(F.col("event_type"), F.lit("click")),
                           F.lit("WAS_CLICK"))).alias("nullif_roundtrip"),
        )
        .orderBy("event_type")
    )


@query(
    "recursive_cte_probe",
    oracle="""
    WITH RECURSIVE walk(custkey, node, depth) AS (
        SELECT c_custkey, c_custkey, 0 FROM customer
        UNION ALL
        SELECT custkey, node // 2, depth + 1 FROM walk WHERE node > 1
    )
    SELECT depth                        AS root_distance,
           CAST(COUNT(*) AS BIGINT)     AS n_customers,
           CAST(MIN(custkey) AS BIGINT) AS min_custkey,
           CAST(MAX(custkey) AS BIGINT) AS max_custkey
    FROM walk WHERE node = 1
    GROUP BY depth ORDER BY depth
    """,
)
def recursive_cte_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (iterative queries as declarative SQL — new in
    Spark 4): every customer walks the implicit binary forest
    ``k -> k div 2 -> ... -> 1`` and the per-depth population of the
    terminal rows is checked. Depth varies per row (ceil(log2(k))
    levels), so the probe genuinely exercises multi-level recursive
    union execution — seed + N dependent iterations, each a join-free
    map over the previous frontier — not a fixed unrolling; the
    closed-form structure is what lets the oracle agree exactly.
    The engine's SCALE path for unbounded graph iteration remains
    operators/dedup.connected_components (set-group collapse with
    lineage truncation); the recursive CTE is the right tool when
    depth is small and known-bounded (paths, hierarchies, BOM walks).
    """
    load_table(spark, "customer", sf_dir).createOrReplaceTempView(
        "customer")
    return spark.sql("""
        WITH RECURSIVE walk(custkey, node, depth) AS (
            SELECT c_custkey, c_custkey, 0 FROM customer
            UNION ALL
            SELECT custkey, node DIV 2, depth + 1 FROM walk WHERE node > 1
        )
        SELECT depth                        AS root_distance,
               CAST(COUNT(*) AS BIGINT)     AS n_customers,
               CAST(MIN(custkey) AS BIGINT) AS min_custkey,
               CAST(MAX(custkey) AS BIGINT) AS max_custkey
        FROM walk WHERE node = 1
        GROUP BY depth ORDER BY depth
    """)


@query(
    "json_functions_probe",
    oracle="""
    WITH j AS (
        SELECT event_type,
               event_id,
               CAST(json_extract(props, '$.k') AS INT) AS k,
               concat('{"id":', CAST(event_id AS VARCHAR),
                      ',"tag":"', event_type,
                      '","nested":{"k":',
                      CAST(CAST(json_extract(props, '$.k') AS INT)
                           AS VARCHAR),
                      ',"flags":[true,false]}}') AS x_doc
        FROM events WHERE props IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)            AS n,
           CAST(SUM(k) AS BIGINT)              AS sum_k,
           bool_and(TRUE)                      AS roundtrip_id_ok,
           bool_and(TRUE)                      AS nested_path_ok,
           bool_and(TRUE)                      AS array_elem_ok,
           bool_and(TRUE)                      AS tuple_ok,
           bool_and(TRUE)                      AS keys_ok
    FROM j GROUP BY event_type ORDER BY event_type
    """,
)
def json_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-function surface (§2.9): construct a nested document
    in-query (to_json over struct/array), then take it apart with
    get_json_object, json_tuple, from_json with an explicit schema,
    and json_object_keys — hash-checked against the ALGEBRAIC ground
    truth of the construction (the url-probe pattern: every bool is
    literally TRUE on the oracle side, so any parsing or
    serialization deviation on any row breaks the hash). Pins the
    to_json field order, nested-path extraction, array indexing, and
    key enumeration the props-handling operators rely on. All
    map-side codegen'd expressions; one aggregate per event type."""
    ev = load_table(spark, "events", sf_dir).where(
        F.col("props").isNotNull())
    k = F.get_json_object("props", "$.k").cast("int")
    doc = F.to_json(F.struct(
        F.col("event_id").alias("id"),
        F.col("event_type").alias("tag"),
        F.struct(k.alias("k"),
                 F.array(F.lit(True), F.lit(False)).alias("flags"))
        .alias("nested"),
    ))
    parsed = F.from_json(
        F.col("doc"),
        "id BIGINT, tag STRING, nested STRUCT<k: INT, flags: ARRAY<BOOLEAN>>",
    )
    return (
        ev.select("event_type", "event_id", k.alias("k"), doc.alias("doc"))
        .select(
            "event_type", "k",
            parsed.alias("p"),
            F.get_json_object("doc", "$.nested.k").cast("int").alias("gk"),
            F.get_json_object("doc", "$.nested.flags[1]").alias("flag1"),
            F.json_tuple("doc", "id", "tag").alias("t_id", "t_tag"),
            F.json_object_keys("doc").alias("keys"),
            "event_id",
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.bool_and(F.col("p.id") == F.col("event_id"))
            .alias("roundtrip_id_ok"),
            F.bool_and(F.col("gk") == F.col("k")).alias("nested_path_ok"),
            F.bool_and(F.col("flag1") == "false").alias("array_elem_ok"),
            F.bool_and((F.col("t_id") == F.col("event_id").cast("string"))
                       & (F.col("t_tag") == F.col("event_type")))
            .alias("tuple_ok"),
            F.bool_and(F.col("keys")
                       == F.array(F.lit("id"), F.lit("tag"),
                                  F.lit("nested"))).alias("keys_ok"),
        )
        .orderBy("event_type")
    )


@query(
    "calendar_functions_probe",
    oracle="""
    WITH d AS (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS dt FROM orders
    )
    SELECT CAST(EXTRACT(year FROM dt) AS INT)      AS y,
           CAST(COUNT(*) AS BIGINT)                AS n_dates,
           CAST(SUM(EXTRACT(quarter FROM dt)) AS BIGINT)    AS sum_quarter,
           CAST(SUM(EXTRACT(month FROM dt)) AS BIGINT)      AS sum_month,
           CAST(SUM(EXTRACT(doy FROM dt)) AS BIGINT)        AS sum_doy,
           CAST(SUM(CASE WHEN EXTRACT(isodow FROM dt) >= 6
                         THEN 1 ELSE 0 END) AS BIGINT)      AS n_weekend,
           CAST(SUM(EXTRACT(day FROM last_day(dt))) AS BIGINT)
                                                            AS sum_month_len,
           CAST(SUM(EXTRACT(day FROM dt + INTERVAL 45 DAY)) AS BIGINT)
                                                            AS sum_shift45,
           CAST(SUM(EXTRACT(month FROM dt + INTERVAL 3 MONTH)) AS BIGINT)
                                                            AS sum_addmon,
           MIN(STRFTIME(date_trunc('week', dt), '%Y-%m-%d'))
                                                            AS first_week_start
    FROM d GROUP BY y ORDER BY y
    """,
)
def calendar_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar/date-arithmetic surface (§2.9): quarter / month /
    day-of-year / ISO weekday (weekend detection) / last_day month
    lengths (leap-February sensitive) / +45-day and +3-month shifts
    (month-end clamping) / Monday-start week truncation — aggregated
    per order year over the DISTINCT date domain, so every calendar
    value in the fixture's 7-year span must agree. Pins the
    cross-engine traps: Spark dayofweek is 1=Sunday (shifted here to
    ISO 1=Monday to match EXTRACT(isodow)), and date_trunc('week')
    is Monday-start on both engines."""
    o = load_table(spark, "orders", sf_dir)
    d = o.select(F.col("o_orderdate").cast("date").alias("dt")).distinct()
    isodow = ((F.dayofweek("dt") + 5) % 7) + 1  # 1=Mon..7=Sun
    return (
        d.groupBy(F.year("dt").cast("int").alias("y"))
        .agg(
            F.count("*").alias("n_dates"),
            F.sum(F.quarter("dt")).alias("sum_quarter"),
            F.sum(F.month("dt")).alias("sum_month"),
            F.sum(F.dayofyear("dt")).alias("sum_doy"),
            F.sum(F.when(isodow >= 6, 1).otherwise(0)).alias("n_weekend"),
            F.sum(F.dayofmonth(F.last_day("dt"))).alias("sum_month_len"),
            F.sum(F.dayofmonth(F.date_add("dt", 45))).alias("sum_shift45"),
            F.sum(F.month(F.add_months("dt", 3))).alias("sum_addmon"),
            F.min(F.date_format(F.date_trunc("week", F.col("dt")),
                                "yyyy-MM-dd")).alias("first_week_start"),
        )
        .orderBy("y")
    )


@query(
    "url_functions_probe",
    oracle="""
    WITH u AS (
        SELECT event_type,
               event_id,
               'shop.example.com'                                AS x_host,
               concat('/cat/', CAST(user_id % 20 AS VARCHAR), '/item')
                                                                 AS x_path,
               concat('id=', CAST(event_id AS VARCHAR), '&ch=', event_type)
                                                                 AS x_query,
               concat('sec-', CAST(event_id % 7 AS VARCHAR))     AS x_ref,
               concat(event_type, ' ', CAST(event_id % 100 AS VARCHAR))
                                                                 AS x_plain
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)            AS n,
           CAST(COUNT(DISTINCT x_path) AS BIGINT) AS n_paths,
           bool_and(TRUE)                      AS proto_ok,
           min(x_host)                         AS host,
           bool_and(TRUE)                      AS path_ok,
           bool_and(TRUE)                      AS query_ok,
           bool_and(TRUE)                      AS ref_ok,
           bool_and(TRUE)                      AS id_param_ok,
           bool_and(TRUE)                      AS ch_param_ok,
           bool_and(TRUE)                      AS encode_ok,
           bool_and(TRUE)                      AS roundtrip_ok
    FROM u
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def url_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-function surface (§2.9 superset): parse_url component and
    query-parameter extraction plus the url_encode/url_decode round
    trip, hash-checked WITHOUT parse_url existing in the oracle
    engine — the URLs are synthesized in-query from event columns, so
    the oracle verifies Spark's parser against the ALGEBRAIC ground
    truth of the construction (every bool column is literally TRUE on
    the oracle side; any Spark parsing deviation on any of the ~60k
    rows flips a bool_and and breaks the hash). The encode check
    pins application/x-www-form-urlencoded semantics (space → '+')
    on a known alphanumeric+space payload; decode(encode(x)) == x
    closes the loop. All map-side codegen'd expressions; one
    aggregate on event_type."""
    ev = load_table(spark, "events", sf_dir)
    s = lambda c: c.cast("string")  # noqa: E731
    url = F.concat(
        F.lit("https://shop.example.com/cat/"), s(F.col("user_id") % 20),
        F.lit("/item?id="), s(F.col("event_id")),
        F.lit("&ch="), F.col("event_type"),
        F.lit("#sec-"), s(F.col("event_id") % 7),
    )
    x_path = F.concat(F.lit("/cat/"), s(F.col("user_id") % 20),
                      F.lit("/item"))
    x_query = F.concat(F.lit("id="), s(F.col("event_id")),
                       F.lit("&ch="), F.col("event_type"))
    x_ref = F.concat(F.lit("sec-"), s(F.col("event_id") % 7))
    plain = F.concat(F.col("event_type"), F.lit(" "),
                     s(F.col("event_id") % 100))
    enc = F.url_encode(plain)
    return (
        ev.select(
            "event_type",
            F.parse_url(url, F.lit("PROTOCOL")).alias("proto"),
            F.parse_url(url, F.lit("HOST")).alias("host"),
            F.parse_url(url, F.lit("PATH")).alias("path"),
            F.parse_url(url, F.lit("QUERY")).alias("query"),
            F.parse_url(url, F.lit("REF")).alias("ref"),
            F.parse_url(url, F.lit("QUERY"), F.lit("id")).alias("id_param"),
            F.parse_url(url, F.lit("QUERY"), F.lit("ch")).alias("ch_param"),
            enc.alias("enc"),
            F.url_decode(enc).alias("dec"),
            x_path.alias("x_path"),
            x_query.alias("x_query"),
            x_ref.alias("x_ref"),
            plain.alias("x_plain"),
            s(F.col("event_id")).alias("x_id"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("x_path").alias("n_paths"),
            F.bool_and(F.col("proto") == "https").alias("proto_ok"),
            F.min("host").alias("host"),
            F.bool_and(F.col("path") == F.col("x_path")).alias("path_ok"),
            F.bool_and(F.col("query") == F.col("x_query")).alias("query_ok"),
            F.bool_and(F.col("ref") == F.col("x_ref")).alias("ref_ok"),
            F.bool_and(F.col("id_param") == F.col("x_id"))
            .alias("id_param_ok"),
            F.bool_and(F.col("ch_param") == F.col("event_type"))
            .alias("ch_param_ok"),
            F.bool_and(F.col("enc")
                       == F.replace(F.col("x_plain"), F.lit(" "),
                                    F.lit("+"))).alias("encode_ok"),
            F.bool_and(F.col("dec") == F.col("x_plain"))
            .alias("roundtrip_ok"),
        )
        .orderBy("event_type")
    )


@query(
    "stats_aggregates_probe",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT)                          AS n,
           ROUND(corr(l_extendedprice, l_quantity), 4)       AS price_qty_corr,
           ROUND(covar_pop(l_extendedprice, l_quantity), 4)  AS covar_pop,
           ROUND(covar_samp(l_extendedprice, l_quantity), 4) AS covar_samp,
           ROUND(stddev_pop(l_quantity), 4)                  AS qty_stddev_pop,
           ROUND(stddev_samp(l_quantity), 4)                 AS qty_stddev_samp,
           ROUND(var_pop(l_quantity), 4)                     AS qty_var_pop,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS regr_slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4)
                                                             AS regr_intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 4)    AS regr_r2
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def stats_aggregates_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.9 STATISTICAL aggregate surface exercised per group and
    hash-compared: correlation, population/sample covariance and
    stddev/variance, and the linear-regression family
    (slope/intercept/R²) — the one-pass moment aggregates an
    analytics engine must get numerically right. All are decomposable
    (partial moment sums merge map-side); skewness/kurtosis are
    deliberately EXCLUDED: Spark computes population g1/g2 while
    DuckDB computes bias-corrected sample G1/G2, a real engine delta
    this probe documents rather than papers over. Rounded to 4 on
    both sides (moment sums re-associate)."""
    li = load_table(spark, "lineitem", sf_dir)
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.corr(y, x), 4).alias("price_qty_corr"),
            F.round(F.covar_pop(y, x), 4).alias("covar_pop"),
            F.round(F.covar_samp(y, x), 4).alias("covar_samp"),
            F.round(F.stddev_pop(x), 4).alias("qty_stddev_pop"),
            F.round(F.stddev_samp(x), 4).alias("qty_stddev_samp"),
            F.round(F.var_pop(x), 4).alias("qty_var_pop"),
            F.round(F.regr_slope(y, x), 4).alias("regr_slope"),
            F.round(F.regr_intercept(y, x), 4).alias("regr_intercept"),
            F.round(F.regr_r2(y, x), 4).alias("regr_r2"),
        )
        .orderBy("l_returnflag")
    )


# --- TPC-H-flavor analytics breadth (round 5) ---------------------------------

MKT_PART_TYPE_PREFIX = "STANDARD"   # pinned Q8-style market definition
MKT_NATION = "NATION_9"  # fixture nations are NATION_0..NATION_24 (cf.
                         # TRADE_NATION_A / INV_NATION below); NATION_9
                         # has the largest supplier population at sf0.01


@query(
    "market_share_by_year",
    oracle=f"""
    WITH sales AS (
        SELECT year(CAST(o.o_orderdate AS DATE)) AS o_year,
               CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000
                          + 0.5) AS BIGINT) AS vol_e4,
               n.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE p.p_type LIKE '{MKT_PART_TYPE_PREFIX}%'
    ),
    agg AS (
        SELECT o_year,
               SUM(CASE WHEN supp_nation = '{MKT_NATION}'
                        THEN vol_e4 ELSE 0 END) AS num_e4,
               SUM(vol_e4) AS den_e4
        FROM sales GROUP BY o_year
    )
    SELECT CAST(o_year AS INT) AS o_year,
           ((2 * num_e4 * 10000 + den_e4) // (2 * den_e4)) / 10000.0
               AS mkt_share,
           ((2 * den_e4 + 100) // 200) / 100.0 AS total_volume
    FROM agg ORDER BY o_year
    """,
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-flavor market share: within a pinned part-type market, the
    fraction of yearly revenue supplied by a pinned nation's
    suppliers. Five-way join — the two fact tables shuffle on the
    order key; part (filtered by type BEFORE the join, so the filter
    prunes the build side), supplier, and nation broadcast. The
    share is a conditional-sum ratio inside one aggregate, not a
    join of two aggregates.

    Money rides as exact integer 1e-4 units (price 2dp x discount
    2dp => the true volume has <=4 decimals, so the per-row
    floor(v*1e4+0.5) is engine-identical): integer partial sums are
    association-free, and the final half-up rounds are pure integer
    div — ROUND(SUM(double)) here half-ulp-flipped vs the oracle at
    sf0.01 (77026940.66 vs .67 for 1998) before this discipline."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    p = load_table(spark, "part", sf_dir).where(
        F.col("p_type").startswith(MKT_PART_TYPE_PREFIX))
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    vol_e4 = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    sales = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            F.year(F.col("o_orderdate").cast("date")).alias("o_year"),
            vol_e4.alias("vol_e4"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    pinned = F.when(F.col("supp_nation") == MKT_NATION,
                    F.col("vol_e4")).otherwise(F.lit(0))
    return (
        sales.groupBy("o_year")
        .agg(
            F.sum(pinned).alias("num_e4"),
            F.sum("vol_e4").alias("den_e4"),
        )
        .select(
            F.col("o_year").cast("int").alias("o_year"),
            (F.expr("(2 * num_e4 * 10000 + den_e4) div (2 * den_e4)")
             / F.lit(10000.0)).alias("mkt_share"),
            (F.expr("(2 * den_e4 + 100) div 200")
             / F.lit(100.0)).alias("total_volume"),
        )
        .orderBy("o_year")
    )


@query(
    "returned_item_revenue_topk",
    oracle="""
    SELECT c.c_custkey,
           c.c_name,
           ((2 * SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                                * 10000 + 0.5) AS BIGINT)) + 100) // 200)
               / 100.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_returned_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_item_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-flavor returned-item report: the 20 customers with the
    highest revenue on returned lineitems. The returnflag filter is
    pushed into the lineitem scan (the fact table shrinks before any
    join); top-20 plans as TakeOrderedAndProject, never a global
    sort. Revenue rounded to 2 (re-associated money sums) and
    tie-broken on custkey so the cut is deterministic."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).where(
        F.col("l_returnflag") == "R")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(to_units(F.col("l_extendedprice")
                           * (1 - F.col("l_discount")), 4)).alias("rev_e4"),
            F.count("*").alias("n_returned_items"),
        )
        .select(
            "c_custkey", "c_name",
            (F.expr("(2 * rev_e4 + 100) div 200") / 100.0).alias("revenue"),
            "n_returned_items",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "bracketed_discount_revenue",
    oracle="""
    SELECT ((2 * SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                                 * 10000 + 0.5) AS BIGINT)) + 100) // 200)
               / 100.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 30
           AND l.l_quantity BETWEEN 10 AND 40)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def bracketed_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-flavor bracketed revenue: a disjunction of three
    brand/size/quantity brackets across the join — the classic
    complex-OR predicate the optimizer must split into a pushable
    part-side conjunct (brand ∈ {...}, size ≥ 1) and a residual join
    filter, instead of evaluating the whole OR post-join. One scalar
    result row (the driver's scalar-aggregate shape)."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    bracket = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 30)
           & F.col("l_quantity").between(10, 40))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 50)
           & F.col("l_quantity").between(20, 50))
    )
    return (
        j.where(bracket)
        .agg(
            F.sum(to_units(F.col("l_extendedprice")
                           * (1 - F.col("l_discount")), 4)).alias("rev_e4"),
            F.count("*").alias("n_items"),
        )
        .select((F.expr("(2 * rev_e4 + 100) div 200") / 100.0)
                .alias("revenue"),
                "n_items")
    )


IDLE_SINCE = "1999-01-01"  # pinned recency cutoff (orders span 1995-2001)


@query(
    "idle_rich_customers",
    oracle=f"""
    WITH cutoff AS (
        SELECT AVG(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           SUM(CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT)) / 100.0
               AS total_acctbal
    FROM customer c, cutoff
    WHERE c.c_acctbal > cutoff.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= '{IDLE_SINCE}')
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-flavor: above-average-balance customers with NO order
    since a pinned recency cutoff, profiled per market segment — the
    lapsed-high-value-prospect query. Shape: a scalar subquery
    (positive-balance average) broadcast as a one-row cross join,
    then a LEFT ANTI join against the distinct custkeys of RECENT
    orders (the date filter pushes into the orders scan and shrinks
    the anti build side before the distinct), one small aggregate —
    the existence probe as a set operation, never a per-row
    subquery."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    cutoff = c.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal"))
    recent = (
        o.where(F.col("o_orderdate") >= IDLE_SINCE)
        .select(F.col("o_custkey").alias("c_custkey")).distinct()
    )
    return (
        c.crossJoin(F.broadcast(cutoff))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"),
             (F.sum(to_units(F.col("c_acctbal"), 2)) / 100.0)
             .alias("total_acctbal"))
        .orderBy("c_mktsegment")
    )


@query(
    "zorder_key_probe",
    oracle="""
    WITH q AS (
        SELECT event_type,
               user_id % 256 AS qx,
               CAST(floor(value) AS BIGINT) % 256 AS qy
        FROM events
    ),
    z AS (
        SELECT event_type,
               list_sum(list_transform(range(0, 8),
                   i -> (((qx >> i) & 1)::BIGINT << (i * 2))
                        + (((qy >> i) & 1)::BIGINT << (i * 2 + 1))))
                   AS zkey
        FROM q
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)        AS n,
           CAST(MIN(zkey) AS BIGINT)       AS min_z,
           CAST(MAX(zkey) AS BIGINT)       AS max_z,
           CAST(SUM(zkey) % 1000000007 AS BIGINT) AS z_checksum
    FROM z GROUP BY event_type ORDER BY event_type
    """,
)
def zorder_key_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine pin of the Z-order (Morton) bit math behind the
    clustered-layout writer (operators/layout.zorder_key +
    cluster_by_range — the Delta OPTIMIZE ZORDER shape): two event
    dimensions quantized to 8-bit integer buckets, bits interleaved
    (dimension d's bit i at position i·ndims+d), checksummed per
    event type so every row's 16-bit key must agree with DuckDB's
    replication of the same interleave.

    Integer-valued quantized inputs (id mod / floor mod) keep the
    normalize-round path exactly representable, so the probe pins BIT
    PLACEMENT, not float rounding luck. The layout win itself —
    files with disjoint z-ranges pruning 2-D box predicates — is
    pinned by tests/test_layout.py over real written files."""
    from flight_data_pipeline_spark.operators.layout import zorder_key

    ev = load_table(spark, "events", sf_dir)
    q = ev.select(
        "event_type",
        (F.col("user_id") % 256).alias("qx"),
        (F.floor("value").cast("long") % 256).alias("qy"),
    )
    z = q.select(
        "event_type",
        zorder_key([F.col("qx"), F.col("qy")], [0.0, 0.0],
                   [255.0, 255.0], bits_per_dim=8).alias("zkey"),
    )
    return (
        z.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("zkey").alias("min_z"),
            F.max("zkey").alias("max_z"),
            (F.sum("zkey") % 1000000007).cast("long").alias("z_checksum"),
        )
        .orderBy("event_type")
    )


@query(
    "math_functions_probe",
    oracle="""
    WITH q AS (
        SELECT CAST(l_quantity AS BIGINT) AS q, COUNT(*) AS n
        FROM lineitem GROUP BY 1
    )
    SELECT q,
           CAST(n AS BIGINT)                  AS n,
           ROUND(ln(q), 6)                    AS ln_q,
           ROUND(log10(q), 6)                 AS log10_q,
           ROUND(exp(q / 25.0), 6)            AS exp_q,
           ROUND(sqrt(q), 6)                  AS sqrt_q,
           ROUND(cbrt(q), 6)                  AS cbrt_q,
           ROUND(pow(q, 1.5), 6)              AS pow_q,
           CAST(abs(q - 25) AS BIGINT)        AS abs_dev,
           CAST(sign(q - 25) AS INT)          AS sign_dev,
           CAST(q % 7 AS BIGINT)              AS mod7,
           CAST(ceiling(q / 7.0) AS BIGINT)   AS ceil7,
           CAST(floor(q / 7.0) AS BIGINT)     AS floor7,
           CAST(greatest(q, 25) AS BIGINT)    AS hi25,
           CAST(least(q, 25) AS BIGINT)       AS lo25
    FROM q ORDER BY q
    """,
)
def math_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.9 MATH scalar surface exercised per distinct value and
    hash-compared: ln/log10/exp/sqrt/cbrt/pow plus
    abs/sign/mod/ceil/floor/greatest/least. One row per distinct
    quantity (no re-associated float sums — counts are the only
    aggregates), transcendentals rounded to 6 (Java Math vs libm can
    differ in the last ulp; at these magnitudes that is ~1e-15,
    invisible at 6 decimals). Positive operands throughout so
    mod/sign sign-convention deltas can't bite."""
    li = load_table(spark, "lineitem", sf_dir)
    q = li.groupBy(F.col("l_quantity").cast("long").alias("q")).agg(
        F.count("*").alias("n"))
    qc = F.col("q")
    return (
        q.select(
            "q", "n",
            F.round(F.log(qc), 6).alias("ln_q"),
            F.round(F.log10(qc), 6).alias("log10_q"),
            F.round(F.exp(qc / 25.0), 6).alias("exp_q"),
            F.round(F.sqrt(qc), 6).alias("sqrt_q"),
            F.round(F.cbrt(qc), 6).alias("cbrt_q"),
            F.round(F.pow(qc, 1.5), 6).alias("pow_q"),
            F.abs(qc - 25).alias("abs_dev"),
            F.signum(qc - 25).cast("int").alias("sign_dev"),
            (qc % 7).alias("mod7"),
            F.ceil(qc / 7.0).alias("ceil7"),
            F.floor(qc / 7.0).alias("floor7"),
            F.greatest(qc, F.lit(25)).alias("hi25"),
            F.least(qc, F.lit(25)).alias("lo25"),
        )
        .orderBy("q")
    )


@query(
    "null_ordering_probe",
    oracle="""
    WITH v AS (
        SELECT event_id,
               NULLIF(event_type, 'view') AS et,
               user_id
        FROM events
    ),
    r AS (
        SELECT event_id, et, user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY et ASC NULLS FIRST, event_id)
                   AS rk_nf,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY et DESC NULLS LAST, event_id)
                   AS rk_nl
        FROM v
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN et IS NULL THEN rk_nf ELSE 0 END)
                % 1000000007 AS BIGINT) AS null_first_checksum,
           CAST(SUM(CASE WHEN et IS NULL THEN rk_nl ELSE 0 END)
                % 1000000007 AS BIGINT) AS null_last_checksum,
           CAST(SUM(rk_nf * event_id) % 1000000007 AS BIGINT)
               AS order_checksum
    FROM r
    """,
)
def null_ordering_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-placement ordering semantics pinned cross-engine — the
    classic silent-divergence trap: Spark's default ascending order
    is NULLS FIRST, DuckDB's is NULLS LAST, so any unannotated ORDER
    BY over a nullable key silently ranks differently. This probe
    forces EXPLICIT placement on both sides (asc_nulls_first /
    desc_nulls_last) over a derived nullable column and checksums the
    null rows' ranks plus the full per-row rank assignment, so both
    engines must agree on every position. The repo-wide discipline
    this pins: checked queries must always annotate null placement on
    nullable sort keys."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    v = ev.select(
        "event_id", "user_id",
        F.when(F.col("event_type") != "view",
               F.col("event_type")).alias("et"),
    )
    w_nf = Window.partitionBy("user_id").orderBy(
        F.col("et").asc_nulls_first(), "event_id")
    w_nl = Window.partitionBy("user_id").orderBy(
        F.col("et").desc_nulls_last(), "event_id")
    r = v.select(
        "event_id", "et",
        F.row_number().over(w_nf).alias("rk_nf"),
        F.row_number().over(w_nl).alias("rk_nl"),
    )
    is_null = F.col("et").isNull()
    return r.agg(
        F.count("*").alias("n"),
        (F.sum(F.when(is_null, F.col("rk_nf")).otherwise(0))
         % 1000000007).cast("long").alias("null_first_checksum"),
        (F.sum(F.when(is_null, F.col("rk_nl")).otherwise(0))
         % 1000000007).cast("long").alias("null_last_checksum"),
        (F.sum(F.col("rk_nf") * F.col("event_id"))
         % 1000000007).cast("long").alias("order_checksum"),
    )


# --- TPC-H completion (round 5): the 9 remaining query shapes ----------------
# The harness star schema lacks partsupp, l_commitdate/l_receiptdate,
# l_shipmode, and p_container, so Q2/Q9/Q11/Q16/Q17/Q20 are documented
# adaptations (the supply side derived from lineitem as the
# part-supplier bridge) and Q12/Q21 are represented by their shape
# twins elsewhere (late_shipment_priority_counts: CASE-conditional agg
# by priority; urgent_order_customers_exists / idle_rich_customers:
# EXISTS / NOT-EXISTS chains). Q1/3/4/5/8/10/13/14/18/19/22 live above
# — with this section every one of the 22 TPC-H query shapes has a
# checked twin.

FORECAST_YEAR = "1996"          # Q6 window (shipdate spans 1995-2001)
TRADE_NATION_A = "NATION_1"     # Q7 bilateral pair
TRADE_NATION_B = "NATION_2"
PROFIT_PART_WORD = "red"        # Q9 product family (p_name = "adj noun")
TOPSUPP_QUARTER = ("1996-01-01", "1996-04-01")   # Q15 revenue window
SMALLQTY_BRAND = "Brand#3"      # Q17 brand pin
MINCOST_REGION = "EUROPE"       # Q2 region pin
MINCOST_SIZE = 15               # Q2 size pin
INV_NATION = "NATION_3"         # Q11 nation pin
INV_FRACTION = 0.002            # Q11 importance threshold
Q16_SIZES = (1, 9, 15, 23, 31, 45)


@query(
    "forecast_revenue_change",
    oracle=f"""
    SELECT SUM(CAST(FLOOR(l_extendedprice * l_discount * 10000 + 0.5)
                     AS BIGINT)) / 10000.0 AS revenue_increase,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= '{FORECAST_YEAR}-01-01'
      AND l_shipdate < '{int(FORECAST_YEAR) + 1}-01-01'
      AND l_discount >= 0.045 AND l_discount <= 0.075
      AND l_quantity < 24
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (literal): revenue a blanket discount removal would
    have added — one scan, every predicate pushed into the parquet
    reader (shipdate range, discount band, quantity cap all appear in
    PushedFilters), one partial+final scalar aggregate, zero joins and
    zero shuffles beyond the 1-row final combine. The discount band
    uses midpoint literals (0.045/0.075) rather than the generated
    grid values (0.05/0.07) so the comparison never lands exactly on
    a float boundary in either engine."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.where(
            (F.col("l_shipdate") >= f"{FORECAST_YEAR}-01-01")
            & (F.col("l_shipdate") < f"{int(FORECAST_YEAR) + 1}-01-01")
            & (F.col("l_discount") >= 0.045)
            & (F.col("l_discount") <= 0.075)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(to_units(F.col("l_extendedprice") * F.col("l_discount"),
                            4)) / 10000.0).alias("revenue_increase"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "bilateral_trade_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(CAST(l.l_shipdate AS DATE)) AS INT) AS l_year,
           SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000
                          + 0.5) AS BIGINT)) / 10000.0 AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = '{TRADE_NATION_A}' AND n2.n_name = '{TRADE_NATION_B}')
       OR (n1.n_name = '{TRADE_NATION_B}' AND n2.n_name = '{TRADE_NATION_A}')
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def bilateral_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (literal): shipped revenue between two pinned nations
    in both directions, by year. The pair disjunction is decomposed
    the way the optimizer wants it: each dimension side (supplier and
    customer, each pre-joined to nation) is FILTERED to the two-nation
    set before it broadcasts — the fact tables only carry rows that
    can possibly satisfy the OR — and the exact direction predicate
    (supp != cust nation) runs as a residual after the joins."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    pair = (TRADE_NATION_A, TRADE_NATION_B)
    supp = (
        load_table(spark, "supplier", sf_dir)
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_name").isin(*pair))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, "customer", sf_dir)
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_name").isin(*pair))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust), o["o_custkey"] == cust["c_custkey"])
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).cast("int")
            .alias("l_year"),
        )
        .agg((F.sum(to_units(F.col("l_extendedprice")
                             * (1 - F.col("l_discount")), 4)) / 10000.0)
             .alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "profit_by_nation_year",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(CAST(l.l_shipdate AS DATE)) AS INT) AS o_year,
           SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)
                           - 0.5 * p.p_retailprice * l.l_quantity) * 1000000
                          + 0.5) AS BIGINT)) / 1000000.0 AS sum_profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%{PROFIT_PART_WORD}%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted): profit on a product family (p_name word
    match) by supplier nation and year. No partsupp table in the
    harness schema, so supply cost is the documented proxy
    0.5 * p_retailprice per unit — the query SHAPE is Q9's: a
    name-LIKE filter that prunes part before the fact join, fact
    shuffle on partkey avoided entirely (part broadcasts), profit as
    a single arithmetic expression inside one aggregate."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).where(
        F.col("p_name").contains(PROFIT_PART_WORD))
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.5 * F.col("p_retailprice") * F.col("l_quantity"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("l_shipdate").cast("date")).cast("int")
            .alias("o_year"),
        )
        .agg((F.sum(to_units(profit, 6)) / 1000000.0).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "top_revenue_suppliers",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey,
               SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000
                              + 0.5) AS BIGINT)) AS rev_e4
        FROM lineitem
        WHERE l_shipdate >= '{TOPSUPP_QUARTER[0]}'
          AND l_shipdate < '{TOPSUPP_QUARTER[1]}'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.rev_e4 / 10000.0 AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.l_suppkey
    WHERE r.rev_e4 = (SELECT MAX(rev_e4) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (literal): the supplier(s) with the maximum revenue
    in a pinned quarter — ties all kept, like the spec's view form.
    The scalar max attaches as a broadcast one-row cross join over
    the per-supplier aggregate (computed once: the cheap aggregate
    re-runs on both plan branches rather than paying a checkpoint for
    a 100-row frame). Revenue is rounded BEFORE the max/equality so
    the comparison happens on the same canonicalized value in both
    engines."""
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    rev = (
        li.where((F.col("l_shipdate") >= TOPSUPP_QUARTER[0])
                 & (F.col("l_shipdate") < TOPSUPP_QUARTER[1]))
        .groupBy("l_suppkey")
        .agg(F.sum(to_units(F.col("l_extendedprice")
                            * (1 - F.col("l_discount")), 4))
             .alias("rev_e4"))
    )
    mx = rev.agg(F.max("rev_e4").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("rev_e4") == F.col("__mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name",
                (F.col("rev_e4") / 10000.0).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@query(
    "small_quantity_yearly_revenue",
    oracle=f"""
    SELECT SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
               / 700.0 AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = '{SMALLQTY_BRAND}'
      AND l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def small_quantity_yearly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (adapted: brand pin only, no p_container in schema):
    revenue lost to small-quantity orders of one brand, annualized
    over the 7-year horizon. The correlated scalar subquery (half the
    part's average order quantity) is decorrelated the canonical way:
    one grouped aggregate per partkey over the brand-pruned fact
    slice, broadcast back as a per-part threshold — the fact table is
    scanned once per branch but only the ~4%-of-parts brand slice
    survives the broadcast part join. Quantities are integer-valued
    doubles, so the per-part average is EXACT (no re-association
    error) and the < threshold comparison cannot flip between
    engines."""
    li = load_table(spark, "lineitem", sf_dir)
    bparts = load_table(spark, "part", sf_dir).where(
        F.col("p_brand") == SMALLQTY_BRAND).select("p_partkey")
    li_b = li.join(F.broadcast(bparts),
                   li["l_partkey"] == F.col("p_partkey")).drop("p_partkey")
    thr = (
        li_b.groupBy(F.col("l_partkey").alias("__pk"))
        .agg((0.5 * F.avg("l_quantity")).alias("__thr"))
    )
    return (
        li_b.join(F.broadcast(thr), li_b["l_partkey"] == F.col("__pk"))
        .where(F.col("l_quantity") < F.col("__thr"))
        .agg(
            (F.sum(to_units(F.col("l_extendedprice"), 2)) / 700.0)
            .alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "min_cost_regional_supplier",
    oracle=f"""
    WITH esupp AS (
        SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = '{MINCOST_REGION}'
    ), offers AS (
        SELECT l.l_partkey, l.l_suppkey,
               MIN(l.l_extendedprice / l.l_quantity) AS unit_cost
        FROM lineitem l JOIN esupp e ON l.l_suppkey = e.s_suppkey
        GROUP BY l.l_partkey, l.l_suppkey
    ), best AS (
        SELECT l_partkey, MIN(unit_cost) AS best_cost
        FROM offers GROUP BY l_partkey
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey,
           FLOOR(o.unit_cost * 10000) / 10000 AS unit_cost
    FROM part p
    JOIN best b   ON p.p_partkey = b.l_partkey
    JOIN offers o ON o.l_partkey = b.l_partkey
                 AND o.unit_cost = b.best_cost
    JOIN esupp e  ON o.l_suppkey = e.s_suppkey
    WHERE p.p_size = {MINCOST_SIZE}
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
    LIMIT 100
    """,
)
def min_cost_regional_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted): for every part of a pinned size, the
    region's cheapest supplier — ties kept, ordered by supplier
    wealth. No partsupp in the harness schema, so the offer book is
    derived from lineitem: a (part, supplier) MIN over observed unit
    price (l_extendedprice / l_quantity — the same IEEE division in
    both engines, so the min-equality join key matches exactly; MIN
    selects an actual element, never a synthesized value; the output
    truncates via FLOOR rather than ROUND — a raw quotient can land
    exactly on a half-tie where Spark's HALF_UP and DuckDB's rounding
    of the nearest double disagree). Shape is
    Q2's: region prunes the supplier dim BEFORE the fact join
    (broadcast), a per-part argmin via min + equality join-back, and
    a deterministic ORDER BY ... LIMIT on a total key
    (acctbal, nation, supplier, part)."""
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).where(
        F.col("r_name") == MINCOST_REGION)
    p = load_table(spark, "part", sf_dir).where(
        F.col("p_size") == MINCOST_SIZE).select("p_partkey")
    esupp = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, "lineitem", sf_dir)
    offers = (
        li.join(F.broadcast(esupp), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
             .alias("unit_cost"))
    )
    best = offers.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.min("unit_cost").alias("__best"))
    return (
        offers.join(F.broadcast(p), offers["l_partkey"] == p["p_partkey"])
        .join(best, (offers["l_partkey"] == F.col("__pk"))
              & (offers["unit_cost"] == F.col("__best")))
        .select("s_acctbal", "s_name", "n_name", "p_partkey",
                (F.floor(F.col("unit_cost") * 10000) / 10000)
                .alias("unit_cost"))
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "concentrated_part_value",
    oracle=f"""
    WITH nsupp AS (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = '{INV_NATION}'
    ), val AS (
        SELECT l.l_partkey, SUM(l.l_extendedprice) AS part_value
        FROM lineitem l JOIN nsupp ON l.l_suppkey = nsupp.s_suppkey
        GROUP BY l.l_partkey
    )
    SELECT l_partkey AS p_partkey, ROUND(part_value, 2) AS part_value
    FROM val
    WHERE part_value > {INV_FRACTION} * (SELECT SUM(part_value) FROM val)
    ORDER BY part_value DESC, p_partkey
    """,
)
def concentrated_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted): parts holding a disproportionate share of
    one nation's supplied value — the HAVING-against-a-scalar-fraction
    shape. No partsupp, so "stock value" is the shipped
    l_extendedprice per part over the nation's suppliers. The grand
    total attaches to the grouped aggregate as a broadcast one-row
    cross join (never a driver collect); the fraction threshold is
    compared on the raw double and only the OUTPUT is rounded — at
    the pinned 0.2% threshold no part sits within re-association
    noise of the cut."""
    li = load_table(spark, "lineitem", sf_dir)
    nsupp = (
        load_table(spark, "supplier", sf_dir)
        .join(load_table(spark, "nation", sf_dir),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .where(F.col("n_name") == INV_NATION)
        .select("s_suppkey")
    )
    val = (
        li.join(F.broadcast(nsupp), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("part_value"))
    )
    total = val.agg(F.sum("part_value").alias("__total"))
    return (
        val.crossJoin(F.broadcast(total))
        .where(F.col("part_value") > INV_FRACTION * F.col("__total"))
        .select(F.col("l_partkey").alias("p_partkey"),
                F.round("part_value", 2).alias("part_value"))
        .orderBy(F.desc("part_value"), "p_partkey")
    )


@query(
    "supplier_count_by_part_attrs",
    oracle=f"""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN {Q16_SIZES}
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_name LIKE '%0')
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def supplier_count_by_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted): how many qualified suppliers can deliver
    each (brand, type, size) bucket. No partsupp, so lineitem is the
    part-supplier bridge; the NOT-IN complaint-supplier exclusion
    (name suffix pin) plans as a broadcast LEFT ANTI join, the part
    attribute filters prune the broadcast dim before the fact join,
    and COUNT(DISTINCT supplier) runs as Spark's two-phase distinct
    aggregate — partial per-partition distinct before the group
    shuffle, never a row-level distinct over the fact table."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(*Q16_SIZES))
    excluded = load_table(spark, "supplier", sf_dir).where(
        F.col("s_name").endswith("0")).select(
        F.col("s_suppkey").alias("l_suppkey"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(excluded), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "excess_volume_suppliers",
    oracle=f"""
    WITH promo AS (
        SELECT p_partkey FROM part WHERE p_type = 'PROMO'
    ), shipped AS (
        SELECT l.l_partkey, l.l_suppkey, SUM(l.l_quantity) AS qty
        FROM lineitem l JOIN promo ON l.l_partkey = promo.p_partkey
        WHERE l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1997-01-01'
        GROUP BY l.l_partkey, l.l_suppkey
    ), norm AS (
        SELECT l_partkey, AVG(qty) AS avg_qty FROM shipped GROUP BY l_partkey
    )
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM shipped sh
    JOIN norm n ON sh.l_partkey = n.l_partkey
    JOIN supplier s ON sh.l_suppkey = s.s_suppkey
    WHERE sh.qty > 1.5 * n.avg_qty
    ORDER BY s.s_suppkey
    """,
)
def excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted): suppliers who moved an outsized share of
    a promo part's volume in the pinned year — the nested
    aggregate-against-aggregate semi-join shape (spec: availqty >
    half the shipped volume; here: supplier volume > 1.5x the part's
    per-supplier average, partsupp being absent). Quantities are
    integer-valued doubles, so both the per-(part,supplier) sums and
    the per-part average are exact and the threshold comparison is
    engine-stable. The final DISTINCT collapses a supplier qualifying
    on many parts; it runs over the already part-collapsed frame, not
    the fact table."""
    li = load_table(spark, "lineitem", sf_dir)
    promo = load_table(spark, "part", sf_dir).where(
        F.col("p_type") == "PROMO").select("p_partkey")
    s = load_table(spark, "supplier", sf_dir)
    shipped = (
        li.where((F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1997-01-01"))
        .join(F.broadcast(promo), li["l_partkey"] == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    norm = shipped.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.avg("qty").alias("avg_qty"))
    return (
        shipped.join(norm, shipped["l_partkey"] == F.col("__pk"))
        .where(F.col("qty") > 1.5 * F.col("avg_qty"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


# --- engine-surface probes (round 5 late additions) --------------------------
@query(
    "bitwise_functions_probe",
    oracle="""
    SELECT event_type,
           CAST(bit_and(user_id) AS BIGINT) AS band,
           CAST(bit_or(user_id)  AS BIGINT) AS bor,
           CAST(bit_xor(user_id) AS BIGINT) AS bxor,
           CAST(SUM(user_id & 255) % 1000000007 AS BIGINT)
               AS and_checksum,
           CAST(SUM(bit_count(user_id)) AS BIGINT) AS popcnt_sum,
           CAST(SUM((user_id % 16) << 2) % 1000000007 AS BIGINT)
               AS shift_checksum,
           CAST(SUM(xor(user_id, event_id) % 9973) % 1000000007
                AS BIGINT) AS xor_checksum
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def bitwise_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.9 BITWISE scalar/aggregate surface hash-compared
    cross-engine: the bit_and/bit_or/bit_xor aggregate family plus
    scalar AND/XOR, shiftleft, and bit_count (popcount — the primitive
    under the SimHash/Hamming ANN tiers, here pinned directly on the
    JVM int path rather than through the sketch operators). All inputs
    are non-negative BIGINTs so two's-complement edge conventions
    can't differ; checksums are exact integer arithmetic — no float
    anywhere."""
    ev = load_table(spark, "events", sf_dir)
    uid, eid = F.col("user_id"), F.col("event_id")
    return (
        ev.groupBy("event_type")
        .agg(
            F.bit_and(uid).alias("band"),
            F.bit_or(uid).alias("bor"),
            F.bit_xor(uid).alias("bxor"),
            (F.sum(uid.bitwiseAND(F.lit(255))) % 1000000007)
            .cast("long").alias("and_checksum"),
            F.sum(F.bit_count(uid)).cast("long").alias("popcnt_sum"),
            (F.sum(F.shiftleft((uid % 16).cast("int"), 2)) % 1000000007)
            .cast("long").alias("shift_checksum"),
            (F.sum(uid.bitwiseXOR(eid) % 9973) % 1000000007)
            .cast("long").alias("xor_checksum"),
        )
        .orderBy("event_type")
    )


@query(
    "map_functions_probe",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS INT) AS n_keys,
           string_agg(event_type, ',' ORDER BY event_type) AS keys_cat,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                  THEN cnt END), 0) AS BIGINT)
               AS purchases,
           CAST(SUM(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS INT)
               AS hot_keys,
           CAST(SUM(cnt) AS BIGINT) AS total_events,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click'
                                  THEN cnt * 2 END), 0) AS BIGINT)
               AS click_doubled,
           CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS INT) AS has_view
    FROM c GROUP BY user_id ORDER BY user_id
    """,
)
def map_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.9 MAP-type surface hash-compared cross-engine:
    map_from_entries / map_keys / map_values / element_at /
    map_filter / transform_values / map_contains_key, all JVM-side
    higher-order expressions. The map is CONSTRUCTED distributively
    (per-user event-type counts → entries array → map: one shuffle,
    then a narrow per-row expression chain), and every observable is
    read back OUT of the map so the oracle can recompute it
    relationally — DuckDB has no Spark-style map columns, so parity
    is proven on the extracted values, not the container."""
    ev = load_table(spark, "events", sf_dir)
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    m = (
        c.groupBy("user_id")
        .agg(F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))).alias("m"))
    )
    mp = F.col("m")
    return (
        m.select(
            "user_id",
            F.size(mp).alias("n_keys"),
            F.array_join(F.array_sort(F.map_keys(mp)), ",")
            .alias("keys_cat"),
            F.coalesce(F.element_at(mp, F.lit("purchase")), F.lit(0))
            .cast("long").alias("purchases"),
            F.size(F.map_filter(mp, lambda k, v: v >= 3))
            .alias("hot_keys"),
            F.aggregate(F.map_values(mp), F.lit(0).cast("long"),
                        lambda acc, x: acc + x).alias("total_events"),
            F.coalesce(
                F.element_at(
                    F.transform_values(mp, lambda k, v: v * 2),
                    F.lit("click")),
                F.lit(0)).cast("long").alias("click_doubled"),
            F.map_contains_key(mp, F.lit("view")).cast("int")
            .alias("has_view"),
        )
        .orderBy("user_id")
    )


@query(
    "pivot_unpivot_roundtrip",
    oracle="""
    SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY day, event_type
    ORDER BY day, event_type
    """,
)
def pivot_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational-algebra round trip: long → PIVOT (wide, one column
    per pinned event type — never inferred, no driver collect) →
    UNPIVOT (melt back to long) must reproduce the original GROUP BY
    exactly — the oracle IS that group-by, so the hash-compare proves
    pivot and unpivot are mutual inverses on the populated cells
    (absent day×type combos surface as NULL cells in the wide frame
    and are dropped on the way back, matching the group-by, which
    never manufactures empty groups). Pivot stays one shuffle
    (groupBy day with 5 pinned pivot values); unpivot is a narrow
    per-row expand — no extra exchange."""
    from flight_data_pipeline_spark.plans.reference_queries import EVENT_TYPES

    ev = load_table(spark, "events", sf_dir)
    wide = (
        ev.select(F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd")
                  .alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", list(EVENT_TYPES))
        # explicit .agg form: the repo statically bans the shorthand
        # count method token in plans as a driver-action guard
        .agg(F.count(F.lit(1)))
    )
    long = wide.unpivot("day", list(EVENT_TYPES), "event_type", "n")
    return (
        long.where(F.col("n").isNotNull())
        .select("day", "event_type", F.col("n").cast("long").alias("n"))
        .orderBy("day", "event_type")
    )


@query(
    "skew_safe_order_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000
                          + 0.5) AS BIGINT)) / 10000.0
               AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def skew_safe_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority through the two-path skew join
    (operators/relational.skew_split_join): join keys whose left-side
    frequency exceeds the threshold go down a broadcast path, the
    rest down the ordinary shuffle join, and the union is provably
    the plain join — which is exactly what the oracle computes, so
    the hash-compare certifies the rewrite end-to-end. At the fixture
    threshold both paths are genuinely populated (orders with >6
    line items take the hot path — ~10% of keys), so the driver run
    exercises split, both joins, and the union, not a degenerate
    single path. Complements `salted_join` (small right side) and
    `salted_value_stats_by_type` (aggregation skew): this is the
    LARGE ⋈ LARGE hot-minority case AQE's skew split handles only
    for sort-merge plans."""
    from flight_data_pipeline_spark.operators.relational import (
        skew_split_join,
    )

    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("orderkey"),
        "l_extendedprice", "l_discount")
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority")
    joined = skew_split_join(li, o, on="orderkey", hot_threshold=6)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(to_units(F.col("l_extendedprice")
                            * (1 - F.col("l_discount")), 4)) / 10000.0)
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "weighted_median_price",
    oracle="""
    WITH w AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS p_c2,
               CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)      AS q_c2
        FROM lineitem
    ), cum AS (
        SELECT l_returnflag, p_c2, q_c2,
               SUM(q_c2) OVER (PARTITION BY l_returnflag
                               ORDER BY p_c2
                               ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(q_c2) OVER (PARTITION BY l_returnflag) AS tw
        FROM w
    )
    SELECT l_returnflag,
           MIN(p_c2) / 100.0 AS weighted_median_price,
           CAST(MIN(tw) AS BIGINT) AS total_weight_c2
    FROM cum
    WHERE 2 * cw >= tw
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    quantile no built-in aggregate provides (percentile() weighs rows
    equally): the smallest price whose cumulative quantity reaches
    half the group's total. Exact and engine-stable by the integer
    discipline: prices and weights ride as cents, the crossing test
    ``2*cum >= total`` is pure integer comparison, and ties on the
    crossing price collapse via MIN.

    Plan: one window pass (running weight + group total share a
    single partition-sort) + a crossing filter + a tiny aggregate —
    no self-join, no percentile UDF. At 100 TB pre-aggregate equal
    prices per group first (the value grid is ~10^7 cents — the
    window then runs on grid-sized, not row-sized, frames)."""
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    w = li.select(
        "l_returnflag",
        to_units(F.col("l_extendedprice"), 2).alias("p_c2"),
        to_units(F.col("l_quantity"), 2).alias("q_c2"),
    )
    win = Window.partitionBy("l_returnflag").orderBy("p_c2") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy("l_returnflag")
    cum = w.select(
        "l_returnflag", "p_c2",
        F.sum("q_c2").over(win).alias("cw"),
        F.sum("q_c2").over(tot).alias("tw"),
    )
    return (
        cum.where(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg((F.min("p_c2") / 100.0).alias("weighted_median_price"),
             F.min("tw").alias("total_weight_c2"))
        .orderBy("l_returnflag")
    )


RFM_ASOF = "2001-06-01"  # pinned "today" for recency (orders span 1995-2001)


@query(
    "rfm_segments",
    oracle=f"""
    WITH rfm AS (
        SELECT o_custkey,
               date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                         DATE '{RFM_ASOF}')                  AS recency_days,
               CAST(COUNT(*) AS BIGINT)                      AS frequency,
               SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                                                             AS monetary_c2
        FROM orders GROUP BY o_custkey
    ), scored AS (
        SELECT o_custkey,
               NTILE(4) OVER (ORDER BY recency_days ASC,  o_custkey) AS r,
               NTILE(4) OVER (ORDER BY frequency   DESC, o_custkey) AS f,
               NTILE(4) OVER (ORDER BY monetary_c2 DESC, o_custkey) AS m,
               monetary_c2
        FROM rfm
    )
    SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           SUM(monetary_c2) / 100.0 AS segment_revenue
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value composite:
    per-customer Recency (days since last order at a pinned as-of),
    Frequency (order count), Monetary (lifetime cents, exact), each
    quartiled with NTILE, rolled up to the 4x4x4 segment grid with
    customer counts and exact segment revenue. Quartile ties break
    on custkey so NTILE's arbitrary-within-tie placement is
    deterministic on both engines.

    Plan: one customer-grain aggregate, three NTILE windows sharing
    one global sort each (customer-cardinality frames, not fact
    rows), one small segment aggregate. At 100 TB the quartile
    boundaries would come from approx quantiles broadcast as
    literals instead of global NTILE sorts."""
    from pyspark.sql import Window

    o = load_table(spark, "orders", sf_dir)
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.datediff(F.lit(RFM_ASOF).cast("date"),
                       F.max(F.col("o_orderdate").cast("date")))
            .alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(to_units(F.col("o_totalprice"), 2)).alias("monetary_c2"),
        )
    )
    scored = rfm.select(
        "monetary_c2",
        F.ntile(4).over(Window.orderBy(F.asc("recency_days"),
                                       F.asc("o_custkey"))).alias("r"),
        F.ntile(4).over(Window.orderBy(F.desc("frequency"),
                                       F.asc("o_custkey"))).alias("f"),
        F.ntile(4).over(Window.orderBy(F.desc("monetary_c2"),
                                       F.asc("o_custkey"))).alias("m"),
    )
    return (
        scored.groupBy(F.col("r").cast("int").alias("r"),
                       F.col("f").cast("int").alias("f"),
                       F.col("m").cast("int").alias("m"))
        .agg(F.count("*").alias("n_customers"),
             (F.sum("monetary_c2") / 100.0).alias("segment_revenue"))
        .orderBy("r", "f", "m")
    )


BASKET_MIN_SUPPORT = 20  # min co-occurrence count for a reported pair


@query(
    "part_basket_lift",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ), n1 AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n FROM items
        GROUP BY p_brand
    ), tot AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM items
    ), pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY brand_a, brand_b
        HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
    )
    SELECT p.brand_a, p.brand_b, p.n_ab,
           na.n AS n_a, nb.n AS n_b,
           ((2 * p.n_ab * 10000 + t.n_orders) // (2 * t.n_orders))
               / 10000.0 AS support,
           ((2 * p.n_ab * 10000 + na.n) // (2 * na.n)) / 10000.0
               AS confidence_a_to_b,
           ((2 * p.n_ab * t.n_orders * 10000 + na.n * nb.n)
            // (2 * na.n * nb.n)) / 10000.0 AS lift
    FROM pairs p
    JOIN n1 na ON na.p_brand = p.brand_a
    JOIN n1 nb ON nb.p_brand = p.brand_b
    CROSS JOIN tot t
    ORDER BY lift DESC, brand_a, brand_b
    LIMIT 20
    """,
)
def part_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: brand
    pairs co-purchased in the same order, scored with
    support/confidence/lift — the frequent-itemset family
    (co-occurrence analytics) the engine lacked. All three ratios
    render through exact integer half-up division, so the hash pins
    them including ties at the LIMIT boundary (lift desc, brand
    tie-break).

    Plan: the self-join runs on the DISTINCT (order, brand) item
    relation keyed by order — pairs per order are bounded by the
    basket width squared (~7² here), never corpus²; the min-support
    HAVING prunes before the dimension joins; brand totals broadcast.
    At 100 TB this is the standard a-priori first pass (pair
    counting), with higher-order itemsets built by iterating the
    same join on surviving pairs."""
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    items = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select("l_orderkey", "p_brand").distinct()
    )
    n1 = items.groupBy("p_brand").agg(F.count("*").alias("n"))
    tot = items.agg(
        F.count_distinct("l_orderkey").alias("n_orders"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.p_brand") < F.col("b.p_brand")))
        .groupBy(F.col("a.p_brand").alias("brand_a"),
                 F.col("b.p_brand").alias("brand_b"))
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    return (
        pairs
        .join(F.broadcast(n1.select(F.col("p_brand").alias("brand_a"),
                                    F.col("n").alias("n_a"))), "brand_a")
        .join(F.broadcast(n1.select(F.col("p_brand").alias("brand_b"),
                                    F.col("n").alias("n_b"))), "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a", "brand_b", "n_ab", "n_a", "n_b",
            (F.expr("(2 * n_ab * 10000 + n_orders) div (2 * n_orders)")
             / 10000.0).alias("support"),
            (F.expr("(2 * n_ab * 10000 + n_a) div (2 * n_a)")
             / 10000.0).alias("confidence_a_to_b"),
            (F.expr("(2 * n_ab * n_orders * 10000 + n_a * n_b)"
                    " div (2 * n_a * n_b)") / 10000.0).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(20)
    )


# Benford expected first-digit shares in 1e-4 units (log10(1+1/d),
# precomputed once in Python so BOTH engines compare against the
# identical integer literals — no in-query transcendentals)
BENFORD_E4 = {1: 3010, 2: 1761, 3: 1249, 4: 969, 5: 792,
              6: 669, 7: 580, 8: 512, 9: 458}


@query(
    "benford_price_audit",
    oracle=f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                     AS BIGINT) AS VARCHAR), 1, 1)
                    AS INT) AS digit
        FROM orders WHERE o_totalprice > 0
    ), c AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs,
               SUM(COUNT(*)) OVER () AS n_total
        FROM d GROUP BY digit
    )
    SELECT digit,
           n_obs,
           CAST((2 * n_obs * 10000 + n_total) // (2 * n_total)
                AS BIGINT) AS share_e4,
           CAST(CASE digit
                {' '.join(f'WHEN {d} THEN {v}' for d, v in BENFORD_E4.items())}
                END AS BIGINT) AS benford_e4,
           CAST((2 * n_obs * 10000 + n_total) // (2 * n_total)
                - CASE digit
                  {' '.join(f'WHEN {d} THEN {v}' for d, v in BENFORD_E4.items())}
                  END AS BIGINT) AS deviation_e4
    FROM c ORDER BY digit
    """,
)
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the standard
    fabricated-data / generator-artifact screen: observed first-
    significant-digit shares against log10(1+1/d), one row per digit
    with the deviation in exact 1e-4 units (expected shares are
    Python-precomputed integer literals embedded in BOTH engines —
    no in-query transcendentals, no float aggregation anywhere).
    Synthetic fixtures typically FAIL Benford (uniform-ish totals) —
    the deviation column is the point, not a pass verdict: it
    quantifies how un-organic the distribution is.

    Plan: first digit via string-of-cents (exact: floor-to-cents
    then leading character — never float log10), one 9-group
    aggregate with a window total over the 9-row result."""
    from pyspark.sql import Window

    o = load_table(spark, "orders", sf_dir).where(F.col("o_totalprice") > 0)
    digit = F.substring(
        to_units(F.col("o_totalprice"), 2).cast("string"), 1, 1).cast("int")
    c = (
        o.select(digit.alias("digit"))
        .groupBy("digit").agg(F.count("*").alias("n_obs"))
        .withColumn("n_total",
                    F.sum("n_obs").over(
                        Window.partitionBy()
                        .rowsBetween(Window.unboundedPreceding,
                                     Window.unboundedFollowing)))
    )
    benford = F.element_at(
        F.create_map(*[F.lit(x) for d, v in BENFORD_E4.items()
                       for x in (d, v)]),
        F.col("digit"))
    share = F.expr("(2 * n_obs * 10000 + n_total) div (2 * n_total)")
    return (
        c.select(
            "digit", "n_obs",
            share.alias("share_e4"),
            benford.cast("long").alias("benford_e4"),
            (share - benford).cast("long").alias("deviation_e4"),
        )
        .orderBy("digit")
    )


@query(
    "ansi_safety_probe",
    oracle="""
    WITH src AS (
        SELECT p_partkey,
               p_size,
               split_part(p_name, ' ', 1) AS word,
               CAST(p_partkey % 5 AS BIGINT) AS den
        FROM part
    )
    SELECT CAST(COUNT(*) AS BIGINT)                       AS n,
           CAST(COUNT(TRY_CAST(word AS INT)) AS BIGINT)   AS n_numeric_words,
           CAST(COUNT(CASE WHEN den <> 0
                           THEN p_size / den END) AS BIGINT)
                                                          AS n_safe_divides,
           CAST(SUM(CASE WHEN den <> 0
                         THEN p_size // den ELSE 0 END) AS BIGINT)
                                                          AS sum_int_div,
           CAST(COUNT(CASE WHEN p_size <= 7 THEN 1 END) AS BIGINT)
                                                          AS n_no_overflow
    FROM src
    """,
)
def ansi_safety_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safety surface (§2.9): the try_* family —
    try_cast on non-numeric strings, try_divide by a data-driven
    zero, try_add at the BIGINT overflow edge — each yielding NULL
    instead of a runtime error, counted so every row's verdict is in
    the hash. The oracle expresses the same semantics with guards
    (DuckDB has TRY_CAST but errors on division by zero and
    overflow), which is itself the point: the probe pins that
    Spark's try_* results equal the explicitly-guarded computation.
    Production rule this encodes: ingest paths use try_* so one
    malformed row degrades to NULL (flag-don't-drop) instead of
    failing a 100 TB job."""
    p = load_table(spark, "part", sf_dir)
    src = p.select(
        "p_partkey", "p_size",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("word"),
        (F.col("p_partkey") % 5).cast("long").alias("den"),
    )
    big = F.lit(9223372036854775800).cast("long")
    return src.agg(
        F.count("*").alias("n"),
        F.count(F.col("word").try_cast("int")).alias("n_numeric_words"),
        F.count(F.try_divide("p_size", "den")).alias("n_safe_divides"),
        F.sum(F.coalesce(F.try_divide("p_size", "den").cast("long"),
                         F.lit(0))).alias("sum_int_div"),
        # try_add NULLs exactly the rows where p_size would overflow
        # BIGINT max (p_size > 7 against max-7); the oracle counts the
        # guard condition directly — equality IS the probe
        F.count(F.when(F.try_add(F.col("p_size"), big).isNotNull(), 1))
        .alias("n_no_overflow"),
    )


@query(
    "collation_probe",
    oracle="""
    WITH v AS (
        SELECT p_partkey,
               CASE p_partkey % 3 WHEN 0 THEN upper(p_brand)
                                  WHEN 1 THEN lower(p_brand)
                                  ELSE p_brand END AS brand_mixed,
               p_brand
        FROM part
    )
    SELECT lower(brand_mixed) AS brand_ci,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT brand_mixed) AS BIGINT) AS n_case_variants,
           CAST(COUNT(DISTINCT lower(brand_mixed)) AS BIGINT) AS n_ci_distinct,
           MIN(brand_mixed) AS min_binary
    FROM v
    GROUP BY lower(brand_mixed)
    ORDER BY brand_ci
    """,
)
def collation_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATION surface: grouping and distinct-counting on a
    UNICODE_CI-collated column — a deliberately case-perturbed brand
    value groups case-insensitively under the collation while the
    binary-collated original still counts its case variants. The
    oracle expresses the same semantics with explicit lower() (exact
    for this ASCII domain), which is the point: the probe pins that
    the COLLATED group/distinct equals the canonicalized computation
    — the first-class engine form of the lower()-everywhere idiom
    the string operators otherwise use.

    Plan: collation is metadata on the comparator — same hash
    aggregate, no extra pass; the group key output is re-expressed
    via lower() so both engines emit the identical canonical
    spelling."""
    p = load_table(spark, "part", sf_dir)
    mixed = (
        F.when(F.col("p_partkey") % 3 == 0, F.upper("p_brand"))
        .when(F.col("p_partkey") % 3 == 1, F.lower("p_brand"))
        .otherwise(F.col("p_brand"))
    )
    v = p.select(
        mixed.alias("brand_mixed"),
        F.expr("CASE WHEN p_partkey % 3 = 0 THEN upper(p_brand) "
               "WHEN p_partkey % 3 = 1 THEN lower(p_brand) "
               "ELSE p_brand END COLLATE UNICODE_CI").alias("brand_coll"),
    )
    return (
        v.groupBy(F.col("brand_coll"))
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("brand_mixed").alias("n_case_variants"),
            F.count_distinct("brand_coll").alias("n_ci_distinct"),
            F.min("brand_mixed").alias("min_binary"),
        )
        .select(
            F.lower(F.col("brand_coll").cast("string")).alias("brand_ci"),
            "n", "n_case_variants", "n_ci_distinct", "min_binary",
        )
        .orderBy("brand_ci")
    )


@query(
    "robust_value_outliers",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c2
        FROM events WHERE value IS NOT NULL
    ), med AS (
        SELECT event_type,
               CAST(quantile_cont(c2, 0.5) * 2 AS BIGINT) AS med_hc
        FROM c GROUP BY event_type
    ), dev AS (
        SELECT c.event_type, c.c2, m.med_hc,
               abs(2 * c.c2 - m.med_hc) AS dev_hc
        FROM c JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, med_hc,
               CAST(quantile_cont(dev_hc, 0.5) * 2 AS BIGINT) AS mad_q
        FROM dev GROUP BY event_type, med_hc
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT)        AS n,
           MIN(d.med_hc) / 200.0           AS median_value,
           MIN(m.mad_q) / 400.0            AS mad_value,
           CAST(SUM(CASE WHEN 2 * d.dev_hc > 3 * m.mad_q
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
)
def robust_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier detection per event type — the
    heavy-tail-safe twin of the z-score anomaly family (mean and
    stddev follow the outliers they're supposed to find; the median
    absolute deviation doesn't). Exact and engine-stable end to end
    by unit-doubling at each interpolation: values ride as cents,
    the median as HALF-cents (x2 before any cast — the
    rolling-median lesson), per-row deviations as exact integers,
    the MAD as QUARTER-cents, and the 3-MAD outlier test as a pure
    integer comparison — no float round anywhere.

    Plan: two percentile aggregates (cents, then deviations) and one
    broadcast-size join of 5-row summaries back to the facts; the
    fact table is scanned twice (median must precede deviations —
    inherent to MAD), each pass map-side + one small aggregate."""
    ev = load_table(spark, "events", sf_dir).where(
        F.col("value").isNotNull())
    c = ev.select("event_type", to_units(F.col("value"), 2).alias("c2"))
    med = c.groupBy("event_type").agg(
        (F.expr("percentile(c2, 0.5)") * 2).cast("long").alias("med_hc"))
    dev = (
        c.join(F.broadcast(med), "event_type")
        .select("event_type", "med_hc",
                F.abs(2 * F.col("c2") - F.col("med_hc")).alias("dev_hc"))
    )
    mad = dev.groupBy("event_type", "med_hc").agg(
        (F.expr("percentile(dev_hc, 0.5)") * 2).cast("long").alias("mad_q"))
    return (
        dev.join(F.broadcast(mad.select("event_type", "mad_q")),
                 "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.min("med_hc") / 200.0).alias("median_value"),
            (F.min("mad_q") / 400.0).alias("mad_value"),
            F.sum(F.when(2 * F.col("dev_hc") > 3 * F.col("mad_q"), 1)
                  .otherwise(0)).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# Quantile-histogram estimator: fixed integer-cents grid. 100 bins of
# 500 cents over the pinned [0, 500) value domain; permille targets.
QH_BIN_CENTS = 500
QH_MAX_BIN = 99
QH_PERMILLES = (500, 950, 990)


@query(
    "quantile_histogram_estimates",
    oracle=f"""
    WITH h AS (
        SELECT event_type,
               LEAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                     // {QH_BIN_CENTS}, {QH_MAX_BIN}) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, bin
    ),
    cum AS (
        SELECT event_type, bin, n,
               SUM(n) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS c,
               SUM(n) OVER (PARTITION BY event_type) AS total
        FROM h
    ),
    grid AS (SELECT unnest([{", ".join(map(str, QH_PERMILLES))}]) AS p)
    SELECT event_type,
           p AS permille,
           CAST(MIN(total) AS BIGINT) AS n_values,
           (MIN(bin) * {QH_BIN_CENTS}
            + ({QH_BIN_CENTS} * ((p * MIN(total) + 999) // 1000
                                 - (MIN(c) - MIN(n))))
              // MIN(n)) / 100.0 AS est_value
    FROM cum CROSS JOIN grid
    WHERE c >= (p * total + 999) // 1000
      AND c - n < (p * total + 999) // 1000
    GROUP BY event_type, p
    ORDER BY event_type, p
    """,
)
def quantile_histogram_estimates(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Quantile estimation from a fixed-grid histogram — the
    MERGEABLE quantile tier that completes the sketch family
    (HLL/KMV: distinct; CM/Space-Saving: frequency; this: rank). The
    histogram is a SUM-mergeable summary (bin → count), so partials
    combine map-side across partitions, days, or streams, and any
    permille is answered from ≤100 rows per group; exact percentile()
    by contrast must shuffle every value. p50/p95/p99 per event type,
    estimated by integer linear interpolation inside the crossing bin.

    Exactness discipline: values ride as cents, bins are integer
    division on the cents (clamped into the top bin), rank targets
    are ceil on the permille grid, and the interpolation is pure
    integer division — every engine computes the identical estimate
    bit-for-bit. Error bound: ±ε·range/bins with equi-width bins
    (here ≤ $5); tighten by raising the bin count, still
    summary-sized. Plan: one map-side-combined aggregate on
    (type, bin), two window passes over ≤ 100-row groups, a 3-row
    broadcast permille grid — the shuffle carries the histogram, not
    the data."""
    from flight_data_pipeline_spark.operators.sketches import (
        quantiles_from_histogram,
    )

    ev = load_table(spark, "events", sf_dir).where(
        F.col("value").isNotNull())
    h = (
        ev.groupBy(
            "event_type",
            F.expr(f"least(cast(floor(value * 100 + 0.5) as bigint) "
                   f"div {QH_BIN_CENTS}, {QH_MAX_BIN}L)").alias("bin"))
        .agg(F.count("*").alias("n"))
    )
    q = quantiles_from_histogram(
        h, ["event_type"], QH_BIN_CENTS, list(QH_PERMILLES))
    return (
        q.select(
            "event_type", "permille", "n_values",
            (F.col("est_units") / 100.0).alias("est_value"),
        )
        .orderBy("event_type", "permille")
    )


# Snapshot-diff pinned parameters: v1 = orders known at D1, v2 = the
# same table one simulated publish later (new rows through D2, a
# deterministic slice of open orders repriced, a deterministic slice
# deleted). The POINT is the diff operator; the snapshot construction
# just has to be engine-identical.
DIFF_D1 = "1999-01-01"
DIFF_D2 = "2000-01-01"
DIFF_REPRICE_MOD = 7    # open orders with key % 7 == 0 gain 1 cent
DIFF_DELETE_MOD = 13    # orders with key % 13 == 0 vanish from v2


@query(
    "snapshot_diff_summary",
    oracle=f"""
    WITH v1 AS (
        SELECT o_orderkey AS k, o_orderstatus AS st,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        FROM orders WHERE o_orderdate < TIMESTAMP '{DIFF_D1}'
    ),
    v2 AS (
        SELECT o_orderkey AS k, o_orderstatus AS st,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
               + CASE WHEN o_orderstatus = 'O'
                           AND o_orderkey % {DIFF_REPRICE_MOD} = 0
                      THEN 1 ELSE 0 END AS c
        FROM orders
        WHERE o_orderdate < TIMESTAMP '{DIFF_D2}'
          AND o_orderkey % {DIFF_DELETE_MOD} <> 0
    ),
    joined AS (
        SELECT COALESCE(v1.k, v2.k) AS k,
               CASE WHEN v1.k IS NULL THEN 'added'
                    WHEN v2.k IS NULL THEN 'removed'
                    WHEN v1.st <> v2.st OR v1.c <> v2.c THEN 'changed'
                    ELSE 'unchanged' END AS change_class,
               COALESCE(v1.c, 0) AS c1, COALESCE(v2.c, 0) AS c2
        FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    )
    SELECT change_class,
           CAST(COUNT(*) AS BIGINT)    AS n_rows,
           CAST(SUM(c1) AS BIGINT)     AS v1_cents,
           CAST(SUM(c2) AS BIGINT)     AS v2_cents,
           CAST(SUM(c2 - c1) AS BIGINT) AS delta_cents
    FROM joined GROUP BY change_class ORDER BY change_class
    """,
)
def snapshot_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff RECONCILIATION — the accounting complement of
    `operators/relational.snapshot_diff` (which derives the
    row-level insert/update/delete CDC feed, proven by
    `events_snapshot_diff`'s diff∘merge round trip): this one keeps
    the unchanged class and BOTH sides' values, classifying every
    key as added / removed / changed / unchanged and accounting for
    the exact money drift, in ONE full-outer join. 'Changed' compares the full row payload (status + exact
    cents), so silent repricings surface even when the key set is
    identical; the signed delta column reconciles the books between
    versions.

    The two versions here are deterministic constructions over the
    fixture (later cutoff ⇒ adds; a modular slice repriced ⇒
    changes; a modular slice dropped ⇒ removes) so the diff exercises
    all four classes on both engines. At 100 TB: the join shuffles on
    the key both snapshots are already partitioned by in practice —
    with bucketed/partitioned publishes it degrades to a zipped
    per-partition merge, and the output is class-summary-sized. For
    petabyte tables, run per-partition with partition pruning on the
    publish date."""
    o = load_table(spark, "orders", sf_dir)
    cents = to_units(F.col("o_totalprice"), 2)
    v1 = o.where(F.col("o_orderdate") < F.lit(DIFF_D1).cast("timestamp")
                 ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st1"),
        cents.alias("c1"))
    v2 = o.where(
        (F.col("o_orderdate") < F.lit(DIFF_D2).cast("timestamp"))
        & (F.col("o_orderkey") % DIFF_DELETE_MOD != 0)
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st2"),
        (cents + F.when((F.col("o_orderstatus") == "O")
                        & (F.col("o_orderkey") % DIFF_REPRICE_MOD == 0),
                        1).otherwise(0)).alias("c2"))
    joined = v1.join(v2, "k", "full_outer").select(
        F.when(F.col("st1").isNull(), "added")
        .when(F.col("st2").isNull(), "removed")
        .when((F.col("st1") != F.col("st2"))
              | (F.col("c1") != F.col("c2")), "changed")
        .otherwise("unchanged").alias("change_class"),
        F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
        F.coalesce(F.col("c2"), F.lit(0)).alias("c2"),
    )
    return (
        joined.groupBy("change_class")
        .agg(F.count("*").alias("n_rows"),
             F.sum("c1").alias("v1_cents"),
             F.sum("c2").alias("v2_cents"),
             F.sum(F.col("c2") - F.col("c1")).alias("delta_cents"))
        .orderBy("change_class")
    )


# Join-size estimation: bucketized key histograms (the optimizer-
# statistics shape), md5-bucketed so both engines build the identical
# histogram.
JCE_BUCKETS = 256


@query(
    "join_cardinality_estimate",
    oracle=f"""
    WITH ha AS (
        SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
                   ::BIGINT % {JCE_BUCKETS} AS b,
               CAST(COUNT(*) AS BIGINT) AS fa,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS da
        FROM lineitem GROUP BY b
    ),
    hb AS (
        SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                   ::BIGINT % {JCE_BUCKETS} AS b,
               CAST(COUNT(*) AS BIGINT) AS fb,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS db
        FROM orders GROUP BY b
    ),
    est AS (
        SELECT CAST(SUM((fa * fb) // GREATEST(da, db)) AS BIGINT)
                   AS est_rows
        FROM ha JOIN hb USING (b)
    ),
    exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_rows
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT {JCE_BUCKETS} AS n_buckets,
           est_rows, exact_rows,
           (ABS(est_rows - exact_rows) * 1000) // exact_rows
               AS abs_err_permille
    FROM est CROSS JOIN exact
    """,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Join-size estimation from bucketized key histograms — the
    statistics a cost-based optimizer keeps, computed AS a query so
    the estimator itself is hash-checkable: each side's keys hash
    (md5, engine-identical) into 256 buckets carrying (row count,
    distinct keys), and the classic per-bucket estimate
    ``Σ fa·fb / max(da, db)`` lands beside the true join count with
    its error in permille. On the fixture's FK join the estimate is
    near-exact (uniform keys, max(da,db)=db dominates); skewed or
    correlated keys widen it — which is exactly the signal a planner
    reads from this summary before choosing broadcast vs shuffle.

    Scale story: the histograms are 256-row summaries built in one
    map-side-combined pass per side — the full join (computed here
    only as the audit column) is precisely what the estimator lets a
    100 TB planner AVOID running; integer floor division keeps every
    digit engine-identical."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)

    def hist(df: DataFrame, key: str, f: str, d: str) -> DataFrame:
        b = (F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 8),
                    16, 10).cast("long") % JCE_BUCKETS)
        return (df.groupBy(b.alias("b"))
                .agg(F.count("*").alias(f),
                     F.count_distinct(F.col(key)).alias(d)))

    ha = hist(li, "l_orderkey", "fa", "da")
    hb = hist(o, "o_orderkey", "fb", "db")
    est = (
        ha.join(hb, "b")
        .agg(F.sum(F.expr("(fa * fb) div greatest(da, db)"))
             .alias("est_rows"))
    )
    exact = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .agg(F.count("*").alias("exact_rows"))
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            F.lit(JCE_BUCKETS).alias("n_buckets"),
            "est_rows", "exact_rows",
            F.expr("(abs(est_rows - exact_rows) * 1000) div exact_rows")
            .alias("abs_err_permille"),
        )
    )


@query(
    "expectations_audit",
    oracle="""
    WITH agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT)
                   AS key_nulls,
               CAST(COUNT(o_orderkey)
                    - COUNT(DISTINCT o_orderkey) AS BIGINT)
                   AS key_dups,
               CAST(SUM(CASE WHEN o_totalprice <= 0
                             OR o_totalprice >= 1000000
                        THEN 1 ELSE 0 END) AS BIGINT) AS price_oob,
               CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                        THEN 1 ELSE 0 END) AS BIGINT) AS status_bad,
               CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT)
                   AS date_nulls
        FROM orders
    ),
    fk AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS fk_orphans
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)
    )
    SELECT chk AS check_name, n_rows AS n_checked, v AS n_violations,
           v = 0 AS passed
    FROM (
        SELECT 'key_not_null' AS chk, n_rows, key_nulls AS v
        FROM agg
        UNION ALL SELECT 'key_unique', n_rows, key_dups FROM agg
        UNION ALL SELECT 'price_in_range', n_rows, price_oob FROM agg
        UNION ALL SELECT 'status_in_domain', n_rows, status_bad FROM agg
        UNION ALL SELECT 'date_not_null', n_rows, date_nulls FROM agg
        UNION ALL SELECT 'custkey_fk', (SELECT n_rows FROM agg),
                         fk_orphans FROM fk
    )
    ORDER BY check_name
    """,
)
def expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-expectations audit over the orders table —
    the dbt-test / Great-Expectations gate as ONE query: not-null,
    uniqueness, range, domain, and referential integrity evaluated
    together and reported as (check, checked, violations, passed)
    rows, flag-don't-drop like the reference's own P7-P10 validators
    (etl_job.py:55-83) but generalized to the contract shape a
    warehouse enforces on EVERY table. Sibling of
    `referential_integrity_audit`, which fans the FK check alone
    across every edge of the star schema; here one edge rides as one
    check among the table's full contract.

    Plan discipline: the five column checks fold into ONE map-side
    aggregate over a single scan (counters, not row copies —
    uniqueness via count−count_distinct); only the FK check pays a
    join, and it is a broadcast-dim anti-join semantically identical
    to `customers_without_orders`' shape. The counter struct then
    explodes into the report rows driver-free. At 100 TB the audit
    costs one scan + one semi-join — cheap enough to gate every
    load, which is the point."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    agg = o.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("o_orderkey")).alias("key_nulls"),
        (F.count("o_orderkey") - F.count_distinct("o_orderkey"))
        .alias("key_dups"),
        F.sum(F.when((F.col("o_totalprice") <= 0)
                     | (F.col("o_totalprice") >= 1_000_000), 1)
              .otherwise(0)).alias("price_oob"),
        F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
              .otherwise(0)).alias("status_bad"),
        (F.count("*") - F.count("o_orderdate")).alias("date_nulls"),
    )
    orphans = (
        o.join(F.broadcast(c.select("c_custkey")),
               o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count("*").alias("fk_orphans"))
    )
    stacked = (
        agg.crossJoin(F.broadcast(orphans))
        .select(F.expr(
            "explode(array("
            "named_struct('check_name', 'key_not_null',"
            "  'n_checked', n_rows, 'n_violations', key_nulls),"
            "named_struct('check_name', 'key_unique',"
            "  'n_checked', n_rows, 'n_violations', key_dups),"
            "named_struct('check_name', 'price_in_range',"
            "  'n_checked', n_rows, 'n_violations', price_oob),"
            "named_struct('check_name', 'status_in_domain',"
            "  'n_checked', n_rows, 'n_violations', status_bad),"
            "named_struct('check_name', 'date_not_null',"
            "  'n_checked', n_rows, 'n_violations', date_nulls),"
            "named_struct('check_name', 'custkey_fk',"
            "  'n_checked', n_rows, 'n_violations', fk_orphans)"
            ")) AS r"))
    )
    return (
        stacked.select(
            F.col("r.check_name").alias("check_name"),
            F.col("r.n_checked").alias("n_checked"),
            F.col("r.n_violations").alias("n_violations"),
            (F.col("r.n_violations") == 0).alias("passed"),
        )
        .orderBy("check_name")
    )


BFS_SOURCE_PART = 1  # pinned BFS origin (exists at every fixture sf)


@query(
    "copurchase_graph_levels",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    l1 AS (
        SELECT DISTINCT b.p
        FROM items a JOIN items b ON a.o = b.o
        WHERE a.p = {BFS_SOURCE_PART} AND b.p <> {BFS_SOURCE_PART}
    ),
    l2 AS (
        SELECT DISTINCT b.p
        FROM l1 JOIN items a ON a.p = l1.p
                JOIN items b ON a.o = b.o
        WHERE b.p <> {BFS_SOURCE_PART}
          AND b.p NOT IN (SELECT p FROM l1)
    ),
    lvl AS (
        SELECT 1 AS level, p FROM l1
        UNION ALL SELECT 2, p FROM l2
    )
    SELECT level,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(MIN(p) AS BIGINT)   AS min_partkey,
           CAST(SUM(p) AS BIGINT)   AS partkey_checksum
    FROM lvl GROUP BY level ORDER BY level
    """,
)
def copurchase_graph_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop BFS over the co-purchase graph (parts adjacent when
    they appear in the same order), expanded frontier-by-frontier as
    joins with anti-join exclusion of visited nodes — the
    bounded-depth graph traversal pattern that sits between the
    engine's two other graph tools: connected_components (unbounded,
    global, iterative collapse) and the recursive CTE probe
    (closed-form walk). Level 1 = parts co-purchased with the pinned
    part; level 2 = parts co-purchased with THOSE, minus everything
    already reached. The checksum column pins exact frontier
    MEMBERSHIP, not just counts.

    Plan: the order–part incidence list is built once (distinct over
    the lineitem scan) and reused by every hop; each hop joins
    frontier → orders → parts on equi-keys plus a left-anti visited
    filter, so per-hop work is bounded by frontier size × basket
    width (the part_basket_lift bound), never a cartesian expansion
    — how d-hop neighborhoods are computed at 100 TB, with deeper
    fixed-depth walks repeating the same join."""
    li = load_table(spark, "lineitem", sf_dir)
    items = li.select(F.col("l_orderkey").alias("o"),
                      F.col("l_partkey").alias("p")).distinct()
    src = items.where(F.col("p") == BFS_SOURCE_PART)
    l1 = (
        items.join(src.select("o"), "o")
        .where(F.col("p") != BFS_SOURCE_PART)
        .select("p").distinct()
    )
    l1_orders = items.join(l1, "p").select("o").distinct()
    l2 = (
        items.join(l1_orders, "o")
        .where(F.col("p") != BFS_SOURCE_PART)
        .join(l1, "p", "left_anti")
        .select("p").distinct()
    )
    lvl = (
        l1.select(F.lit(1).alias("level"), "p")
        .unionByName(l2.select(F.lit(2).alias("level"), "p"))
    )
    return (
        lvl.groupBy("level")
        .agg(F.count("*").alias("n_parts"),
             F.min("p").alias("min_partkey"),
             F.sum("p").alias("partkey_checksum"))
        .orderBy("level")
    )


@query(
    "ab_test_conversion_ztest",
    oracle="""
    WITH users AS (
        SELECT user_id,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 2 AS variant,
               CAST(MAX(CASE WHEN event_type = 'purchase'
                             AND value > 480
                        THEN 1 ELSE 0 END) AS BIGINT) AS converted
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN variant = 0 THEN converted
                        ELSE 0 END) AS BIGINT) AS conv_a,
               CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN variant = 1 THEN converted
                        ELSE 0 END) AS BIGINT) AS conv_b
        FROM users
    ),
    stat AS (
        SELECT n_a, conv_a, n_b, conv_b,
               ROUND((conv_a * 1.0 / n_a - conv_b * 1.0 / n_b)
                     / NULLIF(SQRT(
                         ((conv_a + conv_b) * 1.0 / (n_a + n_b))
                         * (1 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                         * (1.0 / n_a + 1.0 / n_b)), 0), 4) AS z_score
        FROM arms
    )
    SELECT n_a, conv_a, n_b, conv_b, z_score,
           COALESCE(ABS(z_score) > 1.96, FALSE) AS significant
    FROM stat
    """,
)
def ab_test_conversion_ztest(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Two-proportion z-test on conversion between hash-assigned
    experiment arms — the experiment-analysis readout every product
    pipeline runs: users split A/B by md5 parity (the deterministic,
    engine-identical assignment a real experiment service uses so a
    user re-bucketizes stably), converted = any HIGH-VALUE purchase
    (>480 — plain "any purchase" saturates to rate 1.0 on this
    fixture, making the pooled variance 0), and the pooled-variance
    z statistic lands beside the raw counts. On the unperturbed
    fixture the arms are exchangeable, so |z| stays small and
    `significant` is FALSE — the null behaving as a null, which is
    itself the property worth pinning (a biased assignment hash
    would show up right here). NULLIF guards the degenerate
    all-or-nothing variance (ANSI double division by zero is an
    ERROR, not Inf — z goes NULL, significant FALSE, the job never
    dies on a saturated metric).

    Float discipline: the only non-integers are ratios of exact
    counts pushed through one identical expression tree (divisions,
    multiply, sqrt — each IEEE correctly-rounded, no SUM
    re-association anywhere), rounded to 4 before the significance
    comparison on BOTH engines. Plan: one user-grain aggregate (the
    per-user conversion flag), one 4-counter fold, zero joins."""
    ev = load_table(spark, "events", sf_dir)
    users = (
        ev.groupBy("user_id")
        .agg(F.max(F.when((F.col("event_type") == "purchase")
                          & (F.col("value") > 480), 1)
                   .otherwise(0)).alias("converted"))
        .select(
            (F.conv(F.substring(
                F.md5(F.col("user_id").cast("string")), 1, 8),
                16, 10).cast("long") % 2).alias("variant"),
            "converted")
    )
    arms = users.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted"))
              .otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted"))
              .otherwise(0)).alias("conv_b"),
    )
    pooled = ((F.col("conv_a") + F.col("conv_b")) * 1.0
              / (F.col("n_a") + F.col("n_b")))
    z = F.round(
        (F.col("conv_a") * 1.0 / F.col("n_a")
         - F.col("conv_b") * 1.0 / F.col("n_b"))
        / F.nullif(
            F.sqrt(pooled * (1 - pooled)
                   * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
            F.lit(0.0)), 4)
    return (
        arms.select("n_a", "conv_a", "n_b", "conv_b",
                    z.alias("z_score"))
        .select(
            "n_a", "conv_a", "n_b", "conv_b", "z_score",
            F.coalesce(F.abs(F.col("z_score")) > 1.96, F.lit(False))
            .alias("significant"),
        )
    )


# --- largest-remainder proration ---------------------------------------------
@query(
    "order_value_proration",
    oracle="""
    WITH base AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS total_c,
               l.l_linenumber,
               CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS ext_c
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    sized AS (
        SELECT *, SUM(ext_c) OVER (PARTITION BY o_orderkey) AS sum_ext
        FROM base
    ),
    flo AS (
        SELECT o_orderkey, o_orderpriority, total_c, l_linenumber,
               (total_c * ext_c) // sum_ext AS alloc_floor,
               (total_c * ext_c) %  sum_ext AS rem,
               ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                  ORDER BY (total_c * ext_c) % sum_ext DESC,
                                           l_linenumber) AS rk
        FROM sized
    ),
    resid AS (
        SELECT *, total_c - SUM(alloc_floor) OVER (PARTITION BY o_orderkey)
                      AS residual
        FROM flo
    ),
    alloc AS (
        SELECT o_orderkey, o_orderpriority, total_c,
               alloc_floor + CASE WHEN rk <= residual THEN 1 ELSE 0 END
                   AS alloc_c,
               CASE WHEN rk <= residual THEN 1 ELSE 0 END AS bumped
        FROM resid
    ),
    per_order AS (
        SELECT o_orderkey, o_orderpriority,
               MAX(total_c)  AS total_c,
               SUM(alloc_c)  AS alloc_sum,
               COUNT(*)      AS n_items,
               SUM(bumped)   AS bumped_items
        FROM alloc
        GROUP BY o_orderkey, o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT)          AS n_orders,
           CAST(SUM(n_items) AS BIGINT)      AS n_items,
           CAST(SUM(alloc_sum) AS BIGINT)    AS allocated_c,
           CAST(SUM(bumped_items) AS BIGINT) AS bumped_items,
           CAST(SUM(alloc_sum - total_c) AS BIGINT) AS conservation_error
    FROM per_order
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def order_value_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) proration of each order's header
    total across its line items, weighted by extended price — the
    classic "split an invoice across its lines with no lost cents"
    problem. All arithmetic is exact BIGINT cents: floor allocation is
    ``(total_c * ext_c) div sum_ext``, and the leftover
    ``total_c - Σfloor`` cents (always 0 ≤ r < n_items) go one cent
    each to the items with the largest remainders (deterministic
    l_linenumber tie-break). ``conservation_error`` proves exactness:
    Σalloc_c == total_c per order, so the aggregate is identically 0 —
    an invariant a float-proration cannot give.

    Plan shape: one o_orderkey-partitioned shuffle shared by every
    window (size/rank/residual all use the same partition key, so
    Spark sorts once and reuses the exchange), then a two-level
    aggregate rollup. No broadcast needed — the join and all windows
    co-partition on o_orderkey, which is uniformly distributed at any
    scale. Proration is the workhorse of cost attribution /
    training-budget chargeback at 100 TB; the integer discipline is
    what makes it reconciliation-grade."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority",
        to_units(F.col("o_totalprice"), 2).alias("total_c"),
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber",
        to_units(F.col("l_extendedprice"), 2).alias("ext_c"),
    )
    from flight_data_pipeline_spark.operators.relational import (
        prorate_largest_remainder,
    )

    base = li.join(o, "o_orderkey")
    alloc = prorate_largest_remainder(
        base, key="o_orderkey", total_col="total_c",
        weight_col="ext_c", tiebreak_col="l_linenumber",
    ).select("o_orderkey", "o_orderpriority", "total_c",
             "alloc_c", "bumped")
    per_order = alloc.groupBy("o_orderkey", "o_orderpriority").agg(
        F.max("total_c").alias("total_c"),
        F.sum("alloc_c").alias("alloc_sum"),
        F.count("*").alias("n_items"),
        F.sum("bumped").alias("bumped_items"),
    )
    return (
        per_order.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("n_items").cast("long").alias("n_items"),
            F.sum("alloc_sum").cast("long").alias("allocated_c"),
            F.sum("bumped_items").cast("long").alias("bumped_items"),
            F.sum(F.col("alloc_sum") - F.col("total_c"))
            .cast("long")
            .alias("conservation_error"),
        )
        .orderBy("o_orderpriority")
    )


# --- integer-exact PageRank (checked iterative graph) ------------------------
@query(
    "copurchase_pagerank",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.p AS s, b.p AS d
        FROM items a JOIN items b ON a.o = b.o AND a.p <> b.p
    ),
    deg AS (SELECT s, COUNT(*) AS dg FROM edges GROUP BY s),
    nodes AS (SELECT DISTINCT s AS v FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
        SELECT v, CAST(1000000000000 AS BIGINT) // (SELECT n FROM nn) AS r
        FROM nodes
    ),
    c1 AS (
        SELECT e.d AS v, SUM(r0.r // deg.dg) AS c
        FROM edges e JOIN deg ON e.s = deg.s JOIN r0 ON r0.v = e.s
        GROUP BY e.d
    ),
    r1 AS (
        SELECT nodes.v,
               CAST(15000000000000 AS BIGINT) // (100 * (SELECT n FROM nn))
               + (85 * COALESCE(c1.c, 0)) // 100 AS r
        FROM nodes LEFT JOIN c1 ON nodes.v = c1.v
    ),
    c2 AS (
        SELECT e.d AS v, SUM(r1.r // deg.dg) AS c
        FROM edges e JOIN deg ON e.s = deg.s JOIN r1 ON r1.v = e.s
        GROUP BY e.d
    ),
    r2 AS (
        SELECT nodes.v,
               CAST(15000000000000 AS BIGINT) // (100 * (SELECT n FROM nn))
               + (85 * COALESCE(c2.c, 0)) // 100 AS r
        FROM nodes LEFT JOIN c2 ON nodes.v = c2.v
    ),
    c3 AS (
        SELECT e.d AS v, SUM(r2.r // deg.dg) AS c
        FROM edges e JOIN deg ON e.s = deg.s JOIN r2 ON r2.v = e.s
        GROUP BY e.d
    ),
    r3 AS (
        SELECT nodes.v,
               CAST(15000000000000 AS BIGINT) // (100 * (SELECT n FROM nn))
               + (85 * COALESCE(c3.c, 0)) // 100 AS r
        FROM nodes LEFT JOIN c3 ON nodes.v = c3.v
    )
    SELECT CAST(rk AS BIGINT) AS rk,
           CAST(v AS BIGINT)  AS partkey,
           CAST(r AS BIGINT)  AS rank_scaled
    FROM (SELECT v, r, ROW_NUMBER() OVER (ORDER BY r DESC, v) AS rk
          FROM r3)
    WHERE rk <= 15
    ORDER BY rk
    """,
)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank over the part co-purchase graph —
    the engine's ONE hash-checked iterative graph algorithm. The float
    ``pagerank`` (textrank_keyword_scores) is necessarily rows-only:
    partial float sums re-associate across engines. Here every step is
    64-bit integer arithmetic (operators/graph.pagerank_integer), so 3
    damped propagation rounds replay bit-identically in DuckDB as 3
    unrolled join+aggregate CTEs — upgrading "iterative ⇒ weaker
    rows-only check" to a full value-hash proof for this family.

    Graph: parts are adjacent when some order contains both (the
    copurchase_graph_levels incidence list, symmetrized, so there are
    no dangling nodes). Output: top-15 parts by scaled rank with
    deterministic (rank DESC, partkey) tie-break.

    Plan: per round one edge⋈rank shuffle + one dst-keyed aggregate —
    the same partitioning every round — with eager localCheckpoints
    truncating lineage; the final top-15 is TakeOrderedAndProject and
    the rk stamp is a window over 15 rows. At 100 TB the edge list is
    built once and the per-round state is one BIGINT per node."""
    from flight_data_pipeline_spark.operators.graph import pagerank_integer

    li = load_table(spark, "lineitem", sf_dir)
    # build the DISTINCT symmetric edge set at half cost: dedup only
    # the u<v half (the oracle's a.p <> b.p DISTINCT), then mirror —
    # (u,v) distinct implies (v,u) distinct, so the union is distinct
    # by construction and the mirror leg is map-side.
    # r13: pairs come from ONE o-keyed aggregate (collect_set dedups
    # (o, p) map-side) + an in-row sorted-array pair explode, instead
    # of items.distinct + an o-keyed self-join — one exchange and a
    # join fewer for the same u<v pair stream (guide §2.4); per-order
    # state is bounded by order width exactly like the join's k² was.
    from flight_data_pipeline_spark.session import cpu_dense_partitions

    und = (
        li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p"))
        # repartition BEFORE the aggregate (r14): placed after it, the
        # repartition was silently ELIDED as redundant with the
        # aggregate's own o-keyed exchange — whose ENSURE_REQUIREMENTS
        # partitioning AQE then byte-coalesced, serializing the k²
        # pair explode the r13 pin was meant to widen. Ahead of the
        # groupBy, the REPARTITION_BY_NUM exchange survives, the
        # aggregate reuses its partitioning (one exchange total), and
        # the explode runs at the cpu-dense width (warm A/B at sf0.1:
        # 0.97/1.37 s vs 1.44/1.99 s for the edge build alone). Trade:
        # raw (o, p) rows cross instead of map-side-combined sets —
        # (o, p) is near-distinct in lineitem, so the combine saved
        # nothing here.
        .repartition(cpu_dense_partitions(spark), "o")
        .groupBy("o").agg(F.array_sort(F.collect_set("p")).alias("ps"))
        .select(F.explode(F.expr(
            "flatten(transform(ps, (x, i) ->"
            " transform(slice(ps, i + 2, size(ps) - i - 1),"
            "           y -> named_struct('u', x, 'v', y))))")).alias("z"))
        .select("z.u", "z.v")
        .distinct()
    )
    edges = (
        und.select(F.col("u").alias("s"), F.col("v").alias("d"))
        .unionByName(und.select(F.col("v").alias("s"),
                                F.col("u").alias("d")))
    )
    ranks = pagerank_integer(edges, src="s", dst="d", iters=3)
    top = ranks.orderBy(F.desc("rank"), "v").limit(15)
    w = Window.orderBy(F.desc("rank"), "v")
    return (
        top.select(F.row_number().over(w).cast("long").alias("rk"),
                   F.col("v").cast("long").alias("partkey"),
                   F.col("rank").cast("long").alias("rank_scaled"))
        .orderBy("rk")
    )


# --- zone-map data-skipping audit --------------------------------------------
@query(
    "zone_map_skipping_stats",
    oracle="""
    WITH z AS (
        SELECT 'insertion' AS layout, l_orderkey // 32768 AS zone,
               l_shipdate AS sd
        FROM lineitem
        UNION ALL
        SELECT 'shipdate',
               CAST(YEAR(l_shipdate) * 12 + MONTH(l_shipdate) AS BIGINT),
               l_shipdate
        FROM lineitem
    ),
    stats AS (
        SELECT layout, zone, COUNT(*) AS n_rows,
               MIN(sd) AS lo, MAX(sd) AS hi,
               SUM(CASE WHEN sd BETWEEN DATE '1994-01-01'
                                    AND DATE '1994-03-31'
                        THEN 1 ELSE 0 END) AS mrows
        FROM z GROUP BY layout, zone
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_zones,
           CAST(SUM(CASE WHEN hi >= DATE '1994-01-01'
                          AND lo <= DATE '1994-03-31'
                     THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned,
           CAST(SUM(CASE WHEN hi >= DATE '1994-01-01'
                          AND lo <= DATE '1994-03-31'
                     THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(n_rows) AS BIGINT)  AS total_rows,
           CAST(SUM(mrows) AS BIGINT)   AS matching_rows,
           CAST((SUM(CASE WHEN hi >= DATE '1994-01-01'
                           AND lo <= DATE '1994-03-31'
                      THEN 0 ELSE 1 END) * 1000) // COUNT(*) AS BIGINT)
               AS skip_permille
    FROM stats GROUP BY layout ORDER BY layout
    """,
)
def zone_map_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) data-skipping audit — quantifies
    WHY physical layout decides scan cost at 100 TB. Two simulated
    layouts of the same lineitem rows: 'insertion' zones are
    l_orderkey ranges (32k keys/zone — how data lands when written in
    arrival order, shipdates smeared across every zone) and
    'shipdate' zones are calendar months (how it lands when
    write-clustered by date). For a Q1-1994 quarter predicate the
    audit reports, per layout, how many zones a min/max-pruning
    reader must scan, the rows behind them, and the skip ratio in
    exact permille — the measured gap between ~0% skipping
    (insertion) and ~96% (date-clustered) is the argument for
    cluster_by_range/zorder_key in operators/layout.py.

    Everything is integer/date arithmetic (counts, min/max over
    DATE, integer permille division) so the hash check is exact.
    Plan: one scan unioned under two zone keys, one partial-agg
    shuffle per layout-zone, then a 2-row rollup — the audit itself
    costs one pass, independent of layout."""
    li = load_table(spark, "lineitem", sf_dir)
    d1, d2 = F.lit("1994-01-01").cast("date"), F.lit("1994-03-31").cast("date")
    z = (
        li.select(F.lit("insertion").alias("layout"),
                  F.expr("l_orderkey div 32768").alias("zone"),
                  F.col("l_shipdate").alias("sd"))
        .unionByName(
            li.select(
                F.lit("shipdate").alias("layout"),
                (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
                .cast("long").alias("zone"),
                F.col("l_shipdate").alias("sd")))
    )
    stats = z.groupBy("layout", "zone").agg(
        F.count("*").alias("n_rows"),
        F.min("sd").alias("lo"), F.max("sd").alias("hi"),
        F.sum(F.when(F.col("sd").between(d1, d2), 1).otherwise(0))
        .alias("mrows"),
    )
    scanned = (F.col("hi") >= d1) & (F.col("lo") <= d2)
    return (
        stats.groupBy("layout")
        .agg(
            F.count("*").cast("long").alias("n_zones"),
            F.sum(scanned.cast("long")).cast("long").alias("zones_scanned"),
            F.sum(F.when(scanned, F.col("n_rows")).otherwise(0))
            .cast("long").alias("rows_scanned"),
            F.sum("n_rows").cast("long").alias("total_rows"),
            F.sum("mrows").cast("long").alias("matching_rows"),
            F.expr(
                "CAST(sum(CASE WHEN hi >= DATE'1994-01-01'"
                " AND lo <= DATE'1994-03-31' THEN 0 ELSE 1 END) * 1000"
                " div count(*) AS BIGINT)").alias("skip_permille"),
        )
        .orderBy("layout")
    )


# --- exact triangle counting (degree-ordered orientation) --------------------
TRI_PART_CAP = 500  # subgraph cap: keeps the wedge join bench-sized at any sf


@query(
    "copurchase_triangles",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        FROM lineitem WHERE l_partkey < {TRI_PART_CAP}
    ),
    und AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    deg AS (
        SELECT node, COUNT(*) AS dg
        FROM (SELECT u AS node FROM und
              UNION ALL SELECT v AS node FROM und)
        GROUP BY node
    ),
    oriented AS (
        SELECT CASE WHEN (du.dg < dv.dg) OR (du.dg = dv.dg AND u < v)
                    THEN u ELSE v END AS s,
               CASE WHEN (du.dg < dv.dg) OR (du.dg = dv.dg AND u < v)
                    THEN v ELSE u END AS d
        FROM und JOIN deg du ON und.u = du.node
                 JOIN deg dv ON und.v = dv.node
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM oriented e1
        JOIN oriented e2 ON e1.d = e2.s
        JOIN oriented e3 ON e3.s = e1.s AND e3.d = e2.d
    ),
    wed AS (
        SELECT SUM(dg * (dg - 1) // 2) AS n_wedges FROM deg
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT)  AS n_nodes,
           CAST((SELECT COUNT(*) FROM und) AS BIGINT)  AS n_edges,
           CAST(tri.n_triangles AS BIGINT)             AS n_triangles,
           CAST(wed.n_wedges AS BIGINT)                AS n_wedges,
           CAST((3 * tri.n_triangles * 1000) // wed.n_wedges AS BIGINT)
               AS clustering_permille
    FROM tri, wed
    """,
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    part co-purchase graph (capped to a partkey subgraph so the wedge
    join stays bench-sized at every fixture sf) — the standard
    degree-ordered edge-iterator algorithm as three equi-joins, fully
    hash-checked because every quantity is an integer.

    Each undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher one; the orientation is acyclic, so each
    triangle {{x,y,z}} is counted EXACTLY once as the wedge
    x->y, y->z closed by x->z. The orientation is also what makes the
    plan scale: out-degree under it is bounded by O(sqrt(E)) — a
    celebrity node with degree 10^6 contributes NO wedges from its
    hub side (all its edges point inward), so the e1(d)=e2(s) join
    fans out as Sum(outdeg^2) ~ E^1.5 worst case instead of the
    unoriented Sum(deg^2), which a single hot node makes quadratic.
    That is the difference between "works on any graph" and "dies on
    the first power-law vertex" at 100 TB.

    Plan: incidence-list distinct, one self-join to edges, two
    degree joins (deg is node-sized, broadcastable), then the wedge
    equi-join closed by an equi-join on the edge set itself — all
    shuffle-partitioned on graph keys, no cartesian anywhere.
    clustering_permille = 3*triangles*1000 div wedges, exact integer
    division on both engines."""
    li = load_table(spark, "lineitem", sf_dir)
    items = (
        li.where(F.col("l_partkey") < TRI_PART_CAP)
        .select(F.col("l_orderkey").alias("o"),
                F.col("l_partkey").alias("p"))
        .distinct()
    )
    # und/oriented feed four output branches (edges, degrees, wedges,
    # triangle join x3 aliases) — lazy localCheckpoint computes each
    # ONCE in the first job touching it and serves every other branch
    # from the cached partitions (the curation_stages diamond pattern)
    # instead of re-running the incidence self-join per branch.
    und = (
        items.alias("a")
        .join(items.alias("b"),
              (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("dg"))
    )
    low_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = (
        und.join(F.broadcast(deg.select(F.col("node").alias("u"),
                                        F.col("dg").alias("du"))), "u")
        .join(F.broadcast(deg.select(F.col("node").alias("v"),
                                     F.col("dg").alias("dv"))), "v")
        .select(
            F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("d"),
        )
        .localCheckpoint(eager=False)
    )
    tri = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.d") == F.col("e2.s"))
        .join(oriented.alias("e3"),
              (F.col("e3.s") == F.col("e1.s"))
              & (F.col("e3.d") == F.col("e2.d")))
        .agg(F.count("*").alias("n_triangles"))
    )
    wed = deg.agg(
        F.sum(F.expr("dg * (dg - 1) div 2")).alias("n_wedges"))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = und.agg(F.count("*").alias("n_edges"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wed))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.col("n_wedges").cast("long").alias("n_wedges"),
            F.expr("CAST(3 * n_triangles * 1000 div n_wedges AS BIGINT)")
            .alias("clustering_permille"),
        )
    )


# --- chi-square independence test (integer-moment discipline) ----------------
@query(
    "chi_square_independence",
    oracle="""
    WITH cells AS (
        SELECT event_type,
               CASE WHEN value < 100 THEN 'b0'
                    WHEN value < 250 THEN 'b1'
                    WHEN value < 400 THEN 'b2'
                    ELSE 'b3' END AS band,
               COUNT(*) AS o
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    rows_t AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY 1),
    cols_t AS (SELECT band, SUM(o) AS ct FROM cells GROUP BY 1),
    n_t AS (SELECT SUM(o) AS n FROM cells),
    contrib AS (
        SELECT cells.event_type, cells.band,
               CAST(FLOOR(
                   (cells.o - CAST(rows_t.rt * cols_t.ct AS DOUBLE) / n_t.n)
                   * (cells.o - CAST(rows_t.rt * cols_t.ct AS DOUBLE) / n_t.n)
                   / (CAST(rows_t.rt * cols_t.ct AS DOUBLE) / n_t.n)
                   * 1000000 + 0.5) AS BIGINT) AS cell_u
        FROM cells
        JOIN rows_t ON cells.event_type = rows_t.event_type
        JOIN cols_t ON cells.band = cols_t.band, n_t
    )
    SELECT CAST((SELECT COUNT(*) FROM rows_t) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM cols_t) AS BIGINT) AS n_cols,
           CAST(((SELECT COUNT(*) FROM rows_t) - 1)
                * ((SELECT COUNT(*) FROM cols_t) - 1) AS BIGINT) AS dof,
           CAST((SELECT n FROM n_t) AS BIGINT) AS n_obs,
           CAST(SUM(cell_u) AS BIGINT) AS chi2_micro,
           SUM(cell_u) > 21026000000 AS reject_independence
    FROM contrib
    """,
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    value band — contingency-table statistics as pure aggregation,
    the categorical sibling of ab_test_conversion_ztest. Expected
    counts E = row_total * col_total / N divide exact BIGINTs (every
    engine rounds that one division identically), each cell's
    (O-E)^2/E is an identical expression tree on identical doubles,
    and the only re-association-prone step — summing the ~20 cell
    contributions — happens AFTER flooring each cell to integer
    micro-units, so the total is exact BIGINT addition. The rejection
    threshold is the pinned 0.05 critical value for dof=12 (21.026),
    compared in micro-units.

    Plan shape: one partial-agg shuffle collapses the scan to the
    |types| x |bands| cell grid (~20 rows); row/col/grand totals and
    the chi-square fold are all broadcast-sized aggregates of that
    grid. At 100 TB the statistic costs exactly one scan — the
    textbook reduce-then-test shape."""
    ev = load_table(spark, "events", sf_dir).where(F.col("value").isNotNull())
    cells = (
        ev.select(
            "event_type",
            F.when(F.col("value") < 100, "b0")
            .when(F.col("value") < 250, "b1")
            .when(F.col("value") < 400, "b2")
            .otherwise("b3").alias("band"),
        )
        .groupBy("event_type", "band")
        .agg(F.count("*").alias("o"))
    )
    rows_t = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    cols_t = cells.groupBy("band").agg(F.sum("o").alias("ct"))
    n_t = cells.agg(F.sum("o").alias("n"))
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    contrib = (
        cells.join(F.broadcast(rows_t), "event_type")
        .join(F.broadcast(cols_t), "band")
        .crossJoin(F.broadcast(n_t))
        .select(
            to_units((F.col("o") - e) * (F.col("o") - e) / e, 6)
            .alias("cell_u"),
        )
    )
    nr = rows_t.agg(F.count("*").alias("n_rows"))
    nc = cols_t.agg(F.count("*").alias("n_cols"))
    return (
        contrib.agg(F.sum("cell_u").alias("chi2_micro"))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(n_t))
        .select(
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_cols").cast("long").alias("n_cols"),
            ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
            .cast("long").alias("dof"),
            F.col("n").cast("long").alias("n_obs"),
            F.col("chi2_micro").cast("long").alias("chi2_micro"),
            (F.col("chi2_micro") > F.lit(21026000000))
            .alias("reject_independence"),
        )
    )


# --- FILTER-clause aggregate surface -----------------------------------------
@query(
    "filtered_aggregates_probe",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000)
                AS BIGINT) AS n_big,
           CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                  AS BIGINT))
                FILTER (WHERE o_orderstatus = 'F'), 0)
                AS BIGINT) AS finished_cents,
           CAST(COUNT(DISTINCT o_custkey)
                FILTER (WHERE o_orderstatus = 'O')
                AS BIGINT) AS open_customers
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def filtered_aggregates_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ``agg(...) FILTER (WHERE ...)`` surface probe — the
    standard form of conditional aggregation (one scan, per-aggregate
    predicates), pinned against the CASE-WHEN rewrites used elsewhere
    in this file. Catalyst compiles the FILTER clause to the same
    partial+final hash aggregate with a per-buffer predicate, so a
    mixed set of filtered COUNT / SUM / COUNT(DISTINCT) still costs
    ONE pass over orders (the distinct adds its expand, exactly as an
    unfiltered distinct would). Money rides as integer cents
    (to_units twin of the oracle's FLOOR), the filtered SUM coalesces
    to 0 where a group has no matching rows on both engines.
    Expressed via spark.sql so the PARSER surface — not just the
    plan — is what's being proven."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000)
                    AS BIGINT) AS n_big,
               CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                      AS BIGINT))
                    FILTER (WHERE o_orderstatus = 'F'), 0)
                    AS BIGINT) AS finished_cents,
               CAST(COUNT(DISTINCT o_custkey)
                    FILTER (WHERE o_orderstatus = 'O')
                    AS BIGINT) AS open_customers
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """)


# --- item-item co-occurrence cosine (recommender primitive) ------------------
@query(
    "copurchase_item_similarity",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    occ AS (SELECT p, COUNT(*) AS c FROM items GROUP BY p),
    co AS (
        SELECT a.p AS pa, b.p AS pb, COUNT(*) AS cab
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    ),
    scored AS (
        SELECT co.pa, co.pb, co.cab, oa.c AS ca, ob.c AS cb,
               ROUND(co.cab / SQRT(CAST(oa.c * ob.c AS DOUBLE)), 6)
                   AS cosine6
        FROM co JOIN occ oa ON co.pa = oa.p
                JOIN occ ob ON co.pb = ob.p
        WHERE co.cab >= 3
    )
    SELECT CAST(rk AS BIGINT) AS rk, pa, pb,
           CAST(cab AS BIGINT) AS n_co,
           CAST(ca AS BIGINT) AS n_a, CAST(cb AS BIGINT) AS n_b,
           cosine6
    FROM (SELECT *, ROW_NUMBER() OVER (
              ORDER BY cosine6 DESC, pa, pb) AS rk
          FROM scored)
    WHERE rk <= 20 ORDER BY rk
    """,
)
def copurchase_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine similarity over co-purchase counts — the
    classic neighborhood-model recommender primitive (sim(a,b) =
    c_ab / sqrt(c_a * c_b), cosine over binary basket vectors,
    computed from counts alone — no vectors materialized). The
    numerator/denominator are exact integers, so the one division and
    sqrt are IEEE correctly-rounded and engine-identical; round-6
    then rank with a (pa, pb) tie-break makes the top-20 cut stable.
    A minimum co-occurrence support (>= 3) kills the
    single-co-purchase noise pairs that dominate raw cosine — the
    standard support floor.

    Plan shape: the same distinct incidence self-join as the graph
    family, aggregated to the co-occurrence matrix (one shuffle on
    the pair key, map-side combine), two broadcast joins of the
    node-sized occurrence counts, TakeOrderedAndProject for the cut.
    At 100 TB the co-matrix is the heavy object; the support floor
    and per-item top-k (a window over pa) are the standard ways to
    bound it, both expressible on this exact plan."""
    li = load_table(spark, "lineitem", sf_dir)
    items = li.select(F.col("l_orderkey").alias("o"),
                      F.col("l_partkey").alias("p")).distinct()
    occ = items.groupBy("p").agg(F.count("*").alias("c"))
    co = (
        items.alias("a")
        .join(items.alias("b"),
              (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count("*").alias("cab"))
        .where(F.col("cab") >= 3)
    )
    scored = (
        co.join(F.broadcast(occ.select(F.col("p").alias("pa"),
                                       F.col("c").alias("ca"))), "pa")
        .join(F.broadcast(occ.select(F.col("p").alias("pb"),
                                     F.col("c").alias("cb"))), "pb")
        .select(
            "pa", "pb", "cab", "ca", "cb",
            F.round(F.col("cab")
                    / F.sqrt((F.col("ca") * F.col("cb")).cast("double")), 6)
            .alias("cosine6"),
        )
    )
    w = Window.orderBy(F.desc("cosine6"), "pa", "pb")
    top = scored.orderBy(F.desc("cosine6"), "pa", "pb").limit(20)
    return (
        top.select(
            F.row_number().over(w).cast("long").alias("rk"),
            "pa", "pb",
            F.col("cab").cast("long").alias("n_co"),
            F.col("ca").cast("long").alias("n_a"),
            F.col("cb").cast("long").alias("n_b"),
            "cosine6",
        )
        .orderBy("rk")
    )


# --- label-propagation communities (checked iterative graph #2) --------------
@query(
    "copurchase_label_communities",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.p AS s, b.p AS d
        FROM items a JOIN items b ON a.o = b.o AND a.p <> b.p
    ),
    l0 AS (SELECT v, v AS lab FROM (
        SELECT s AS v FROM edges UNION SELECT d AS v FROM edges)),
    v1 AS (
        SELECT e.d AS v, l.lab, COUNT(*) AS c
        FROM edges e JOIN l0 l ON l.v = e.s GROUP BY e.d, l.lab
    ),
    w1 AS (
        SELECT v, lab FROM (
            SELECT v, lab, ROW_NUMBER() OVER (
                PARTITION BY v ORDER BY c DESC, lab) AS rn FROM v1)
        WHERE rn = 1
    ),
    l1 AS (
        SELECT l0.v, COALESCE(w1.lab, l0.lab) AS lab
        FROM l0 LEFT JOIN w1 ON w1.v = l0.v
    ),
    v2 AS (
        SELECT e.d AS v, l.lab, COUNT(*) AS c
        FROM edges e JOIN l1 l ON l.v = e.s GROUP BY e.d, l.lab
    ),
    w2 AS (
        SELECT v, lab FROM (
            SELECT v, lab, ROW_NUMBER() OVER (
                PARTITION BY v ORDER BY c DESC, lab) AS rn FROM v2)
        WHERE rn = 1
    ),
    l2 AS (
        SELECT l1.v, COALESCE(w2.lab, l1.lab) AS lab
        FROM l1 LEFT JOIN w2 ON w2.v = l1.v
    ),
    v3 AS (
        SELECT e.d AS v, l.lab, COUNT(*) AS c
        FROM edges e JOIN l2 l ON l.v = e.s GROUP BY e.d, l.lab
    ),
    w3 AS (
        SELECT v, lab FROM (
            SELECT v, lab, ROW_NUMBER() OVER (
                PARTITION BY v ORDER BY c DESC, lab) AS rn FROM v3)
        WHERE rn = 1
    ),
    l3 AS (
        SELECT l2.v, COALESCE(w3.lab, l2.lab) AS lab
        FROM l2 LEFT JOIN w3 ON w3.v = l2.v
    ),
    comm AS (
        SELECT lab AS community, COUNT(*) AS n_members,
               MIN(v) AS min_member, SUM(v) AS member_checksum
        FROM l3 GROUP BY lab
    )
    SELECT CAST(rk AS BIGINT)              AS rk,
           CAST(community AS BIGINT)       AS community,
           CAST(n_members AS BIGINT)       AS n_members,
           CAST(min_member AS BIGINT)      AS min_member,
           CAST(member_checksum AS BIGINT) AS member_checksum
    FROM (SELECT *, ROW_NUMBER() OVER (
              ORDER BY n_members DESC, community) AS rk FROM comm)
    WHERE rk <= 15 ORDER BY rk
    """,
)
def copurchase_label_communities(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """COMMUNITY DETECTION by synchronous label propagation over the
    part co-purchase graph, hash-proven — the second checked
    iterative graph algorithm beside integer PageRank, and a
    different fixed point than connected components: CC's min-label
    flood gives one label per component, while LPA's MAJORITY vote
    (ties → smallest label) lets dense regions hold their own label
    against sparse bridges. 3 unrolled rounds keep the result a pure
    function of the edge list; the oracle replays them as 3
    count+argmax CTE pairs. Output: top-15 communities by size with
    min-member and member-id checksum pinning MEMBERSHIP, not just
    sizes.

    Plan: the edge list is checkpointed once hash-partitioned on the
    vote target; per round one edge⋈label join (label state broadcast
    — one BIGINT per node) + one (v, label) count aggregate + one per-v
    argmax aggregate, both reusing that layout, so rounds run without
    a shuffle exchange; localCheckpoint truncates lineage per round
    (operators/graph.label_propagation_integer)."""
    from flight_data_pipeline_spark.operators.graph import (
        label_propagation_integer,
    )

    from flight_data_pipeline_spark.session import cpu_dense_partitions

    li = load_table(spark, "lineitem", sf_dir)
    # r13: same aggregate-then-explode edge build as copurchase_pagerank
    # (one o-keyed collect_set aggregate + in-row pair explode instead
    # of items.distinct + an o-keyed self-join — one exchange and a
    # join fewer for the identical u<v pair stream)
    und = (
        li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p"))
        # repartition BEFORE the aggregate — see copurchase_pagerank
        # (r14: the post-aggregate form was elided and AQE-coalesced)
        .repartition(cpu_dense_partitions(spark), "o")
        .groupBy("o").agg(F.array_sort(F.collect_set("p")).alias("ps"))
        .select(F.explode(F.expr(
            "flatten(transform(ps, (x, i) ->"
            " transform(slice(ps, i + 2, size(ps) - i - 1),"
            "           y -> named_struct('u', x, 'v', y))))")).alias("z"))
        .select("z.u", "z.v")
        .distinct()
    )
    edges = (
        und.select(F.col("u").alias("s"), F.col("v").alias("d"))
        .unionByName(und.select(F.col("v").alias("s"),
                                F.col("u").alias("d")))
    )
    labels = label_propagation_integer(edges, src="s", dst="d", iters=3)
    comm = labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("n_members"),
        F.min("v").alias("min_member"),
        F.sum("v").alias("member_checksum"))
    w = Window.orderBy(F.desc("n_members"), "community")
    return (
        comm.orderBy(F.desc("n_members"), "community").limit(15)
        .select(F.row_number().over(w).cast("long").alias("rk"),
                F.col("community").cast("long").alias("community"),
                F.col("n_members").cast("long").alias("n_members"),
                F.col("min_member").cast("long").alias("min_member"),
                F.col("member_checksum").cast("long")
                .alias("member_checksum"))
        .orderBy("rk")
    )


# --- min-plus shortest paths (checked iterative graph #3) ---------------------
@query(
    "copurchase_shortest_paths",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    ew AS (
        -- items is DISTINCT (o, p), so each (o, s, d) joins exactly
        -- once: COUNT(*) IS the co-order support, no distinct needed
        SELECT a.p AS s, b.p AS d,
               1 + 1000 // COUNT(*) AS w
        FROM items a JOIN items b ON a.o = b.o AND a.p <> b.p
        GROUP BY a.p, b.p
    ),
    srcv AS (SELECT MIN(s) AS v FROM ew),
    d0 AS (
        SELECT nv AS v,
               CASE WHEN nv = (SELECT v FROM srcv)
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST(1000000000000000 AS BIGINT) END AS dist
        FROM (SELECT s AS nv FROM ew UNION SELECT d AS nv FROM ew)
    ),
    x1 AS (
        SELECT e.d AS v, MIN(d0.dist + e.w) AS nd
        FROM ew e JOIN d0 ON d0.v = e.s
        WHERE d0.dist < 1000000000000000 GROUP BY e.d
    ),
    d1 AS (
        SELECT d0.v, LEAST(d0.dist,
               COALESCE(x1.nd, CAST(1000000000000000 AS BIGINT))) AS dist
        FROM d0 LEFT JOIN x1 ON d0.v = x1.v
    ),
    x2 AS (
        SELECT e.d AS v, MIN(d1.dist + e.w) AS nd
        FROM ew e JOIN d1 ON d1.v = e.s
        WHERE d1.dist < 1000000000000000 GROUP BY e.d
    ),
    d2 AS (
        SELECT d1.v, LEAST(d1.dist,
               COALESCE(x2.nd, CAST(1000000000000000 AS BIGINT))) AS dist
        FROM d1 LEFT JOIN x2 ON d1.v = x2.v
    ),
    x3 AS (
        SELECT e.d AS v, MIN(d2.dist + e.w) AS nd
        FROM ew e JOIN d2 ON d2.v = e.s
        WHERE d2.dist < 1000000000000000 GROUP BY e.d
    ),
    d3 AS (
        SELECT d2.v, LEAST(d2.dist,
               COALESCE(x3.nd, CAST(1000000000000000 AS BIGINT))) AS dist
        FROM d2 LEFT JOIN x3 ON d2.v = x3.v
    )
    SELECT CAST(rk AS BIGINT)   AS rk,
           CAST(v AS BIGINT)    AS partkey,
           CAST(dist AS BIGINT) AS dist_units
    FROM (SELECT v, dist, ROW_NUMBER() OVER (ORDER BY dist, v) AS rk
          FROM d3)
    WHERE rk <= 15 ORDER BY rk
    """,
)
def copurchase_shortest_paths(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Single-source SHORTEST PATHS by Bellman-Ford relaxation over
    the weighted co-purchase graph, hash-proven — the third checked
    iterative graph algorithm, and a different ALGEBRA from the other
    two: PageRank iterates sum-product, LPA iterates count-argmax,
    this iterates the (min, +) tropical semiring. Edge cost
    1 + 1000 // support makes strongly co-purchased parts cheap to
    traverse ("association distance"); the pinned source is the
    smallest partkey in the graph; integer arithmetic end-to-end, so
    the 3-round distance vector (exactly the cheapest ≤3-hop paths —
    bounded-hop semantics, not approximation) replays as 3 unrolled
    relax CTEs. Output: the 15 closest parts with their distances.

    Plan: per round one edge⋈dist join (distance state broadcast) +
    one dst-keyed MIN aggregate — same shape and cost profile as the
    PageRank loop (operators/graph.min_plus_shortest_paths)."""
    from flight_data_pipeline_spark.operators.graph import (
        min_plus_shortest_paths,
    )

    from flight_data_pipeline_spark.session import cpu_dense_partitions

    li = load_table(spark, "lineitem", sf_dir)
    # r13: aggregate-then-explode edge build (see copurchase_pagerank)
    # — collect_set dedups (o, p) map-side, so each (o, u, v) pair
    # appears once in the explode and COUNT(*) IS the co-order
    # support, exactly as the oracle's joined-once comment says
    half = (
        li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p"))
        # repartition BEFORE the aggregate — see copurchase_pagerank
        # (r14: the post-aggregate form was elided and AQE-coalesced)
        .repartition(cpu_dense_partitions(spark), "o")
        .groupBy("o").agg(F.array_sort(F.collect_set("p")).alias("ps"))
        .select(F.explode(F.expr(
            "flatten(transform(ps, (x, i) ->"
            " transform(slice(ps, i + 2, size(ps) - i - 1),"
            "           y -> named_struct('u', x, 'v', y))))")).alias("z"))
        .groupBy(F.col("z.u").alias("u"), F.col("z.v").alias("v"))
        .agg(F.count("*").alias("co"))
    )
    ew = (
        half.select(F.col("u").alias("s"), F.col("v").alias("d"), "co")
        .unionByName(half.select(F.col("v").alias("s"),
                                 F.col("u").alias("d"), "co"))
        .select("s", "d", (F.lit(1) + F.expr("1000 DIV co")).alias("w"))
        # materialize ONCE: the source aggregate below and the
        # operator's per-round joins otherwise each re-run the whole
        # self-join edge build (measured 37.7 s -> ~7 s at sf0.1)
        .localCheckpoint()
    )
    source = ew.agg(F.min("s").alias("v"))
    # ew is already checkpointed above — the operator's own edge
    # materialization would store the same rows a second time (r14)
    dist = min_plus_shortest_paths(ew, source, src="s", dst="d",
                                   weight="w", iters=3,
                                   edges_prematerialized=True)
    w = Window.orderBy("dist", "v")
    return (
        dist.orderBy("dist", "v").limit(15)
        .select(F.row_number().over(w).cast("long").alias("rk"),
                F.col("v").cast("long").alias("partkey"),
                F.col("dist").cast("long").alias("dist_units"))
        .orderBy("rk")
    )
