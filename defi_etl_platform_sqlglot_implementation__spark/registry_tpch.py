"""Driver-contract entries exercising the engine's relational core at its
hardest: multi-way joins, semi/anti joins, set operations, grouped top-k.

The reference's join surface is tiny (SURVEY.md §2.3: three join-like
computations, all equi-keyed) and it has no set operations (§2.7). A
complete engine still must execute these shapes well — they dominate any
warehouse workload — so they are covered here over the TPC-H-ish driver
tables, each with an exact DuckDB oracle.

Scale notes (the plan each query should produce at 100 TB):
- dimension sides (region, nation, supplier, filtered customer) are
  explicitly ``broadcast()`` — no shuffle of the fact side for them;
- fact-fact joins (orders ⋈ lineitem) shuffle on the join key once, with
  AQE free to pick sort-merge vs shuffled-hash and to split skewed keys;
- semi/anti joins use Spark's dedicated LeftSemi/LeftAnti (no payload
  materialization of the probe side);
- per-group top-k is a rank-filter window partitioned by the group key —
  never a global sort.

Float parity: revenue-style multi-row double aggregates are class 2
(``%.6e`` via :func:`registry.fmt`); everything else is ints, strings,
formatted dates, or untouched per-row parquet doubles (class 1, exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import cents, cents_sql, fmt, register, t


@register(
    "shipping_priority",
    """
    SELECT l_orderkey,
           printf('%.6e', CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                                   * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                               AS DOUBLE) / 10000.0) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate_str,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer (broadcast dim) against
    the orders ⋈ lineitem fact join, grouped revenue per order."""
    cust = t(spark, sf_dir, "customer").where("c_mktsegment = 'BUILDING'").select("c_custkey")
    orders = t(spark, sf_dir, "orders").where("o_orderdate < TIMESTAMP '1998-06-01 00:00:00'").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = t(spark, sf_dir, "lineitem").where("l_shipdate > TIMESTAMP '1998-06-01 00:00:00'").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    pc, dc = cents_sql("l_extendedprice"), cents_sql("l_discount")
    return (
        orders.join(F.broadcast(cust), F.expr("o_custkey = c_custkey"))
        .join(li, F.expr("l_orderkey = o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(f"CAST(sum({pc} * (100 - {dc})) AS DOUBLE) / 10000.0D AS revenue"))
        .select("l_orderkey", fmt("revenue"),
                F.expr("date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate_str"),
                "o_orderpriority")
    )


@register(
    "local_supplier_volume",
    """
    SELECT n_name,
           printf('%.6e', CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                                   * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                               AS DOUBLE) / 10000.0) AS revenue,
           COUNT(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way join where every dimension side (supplier,
    nation, region, and via them the nation filter) is broadcast; the only
    shuffles are the orders ⋈ lineitem fact join and the final agg."""
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    return (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            (F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount")))
             .cast("double") / 10000.0).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .withColumn("revenue", fmt("revenue"))
    )


@register(
    "customers_without_urgent_orders",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: LeftAnti physical — builds only the (filtered) key set
    of orders, never materializes its payload columns. The priority filter
    is pushed below the join so the build side shrinks 5x at the scan."""
    cust = t(spark, sf_dir, "customer")
    urgent = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "brands_with_shipped_parts",
    """
    SELECT p_brand, COUNT(*) AS n_parts
    FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    GROUP BY p_brand
    """,
)
def brands_with_shipped_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join + agg: parts with at least one lineitem, counted per
    brand. LeftSemi short-circuits on first probe match."""
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = t(spark, sf_dir, "lineitem").select("l_partkey")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .count()
        .withColumnRenamed("count", "n_parts")
    )


@register(
    "user_event_sets",
    """
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT user_id, 'both' AS cohort FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
    UNION ALL
    SELECT user_id, 'click_only' AS cohort FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
    UNION ALL
    SELECT user_id, 'purchase_only' AS cohort FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM c)
    """,
)
def user_event_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (SURVEY.md §2.7 — absent in the reference, core to
    an engine): INTERSECT / EXCEPT cohorts of clickers vs purchasers.
    Catalyst plans both as aggregate-free LeftSemi/LeftAnti over the
    distinct key sets — one shuffle per side on user_id."""
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return (
        clicks.intersect(purch).select("user_id", F.lit("both").alias("cohort"))
        .unionAll(clicks.exceptAll(purch).select("user_id", F.lit("click_only").alias("cohort")))
        .unionAll(purch.exceptAll(clicks).select("user_id", F.lit("purchase_only").alias("cohort")))
    )


@register(
    "priority_top_orders",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rk
        FROM orders
    )
    WHERE rk <= 3
    """,
)
def priority_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k via rank-filter window partitioned by the group key —
    the scalable form of per-group LIMIT (no global sort; each partition
    sorts independently). o_totalprice is an untouched per-row parquet
    double: class-1 exact."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )
