"""Relational wave 4: the remaining classic TPC-H shapes, completing the
22-query family over the driver's tables (reference SQL surface:
src/transform/etl_pipeline.py:267-297 stops at two GROUP BY queries; a
warehouse user switching engines expects the full decision-support set).

The driver schema has no ``partsupp``/``l_shipmode``/``l_commitdate``
columns, so each shape keeps the *plan topology* of its TPC-H namesake and
swaps in the available columns:

- Q2  -> ``min_cost_supplier``: lineitem doubles as partsupp (MIN unit
  price per (part, supplier)); the correlated per-part MIN decorrelates
  into a keyed aggregate joined back on ``p_partkey``.
- Q4  -> ``order_priority_check``: EXISTS becomes a left-semi hash join
  whose extra non-equi term (``l_shipdate > o_orderdate + 30 days``)
  rides the equi key.
- Q6  -> ``forecast_revenue_change``: pure scan-filter-agg; the predicate
  set reaches the parquet scan as PushedFilters.
- Q8  -> ``nation_market_share``: conditional share-of-total — both sums
  are order-free integer centi-cents sums, divided once at the end
  (money rule).
- Q9  -> ``product_type_profit``: profit per (nation, year).
- Q10 -> ``returned_item_customers``: top-20 by revenue; ordering is on
  the exact centi-cents sum with a c_custkey tiebreak so the selected set is
  engine-independent.
- Q12 -> ``linestatus_priority_counts``: CASE-count pivot.
- Q13 -> ``customer_order_distribution``: left outer + two-level agg
  (count per customer, then histogram of counts).
- Q14 -> ``promo_revenue_share``: filtered share-of-total.
- Q16 -> ``supplier_part_variety``: NOT IN becomes a broadcast anti join;
  COUNT(DISTINCT) shuffles once on the grouping key.
- Q19 -> ``disjunctive_bracket_revenue``: three OR'd (brand, size,
  quantity) brackets — the part-side disjuncts are pushed into the
  broadcast dim filter so the fact join only sees candidate parts.

Scale notes (100 TB plans): every dimension side (part, supplier, nation,
region, the negative-balance supplier list) is broadcast; each query does
at most one fact-table shuffle on its grouping/join key. Money aggregates
follow the sf1-measured money rule from registry.py (order-free integer
sums, cast to double only at the emission edge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import cents, fmt, register, t


def _dec_volume() -> F.Column:
    """l_extendedprice * (1 - l_discount) as exact integer CENTI-CENTS
    (1e-4 dollars): long*long per-row product, order-free BIGINT sum —
    same exactness as the r3 DECIMAL form at 64-bit-add cost.  Callers
    divide the summed double by 10000.0 for dollars (ratio queries skip
    the division — it cancels)."""
    return cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))


_VOLUME_SQL = (
    "(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT)))"
)


# =========================================================================
# Q2 shape — correlated MIN over a derived partsupp (min-cost supplier)
# =========================================================================

@register(
    "min_cost_supplier",
    f"""
    WITH ps AS MATERIALIZED (
        SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supply_cost
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ),
    eur AS MATERIALIZED (
        SELECT ps.l_partkey, ps.l_suppkey, ps.supply_cost,
               s.s_name, s.s_acctbal, n.n_name
        FROM ps
        JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, e.supply_cost
    FROM eur e
    JOIN part p ON p.p_partkey = e.l_partkey
    WHERE p.p_size = 15 AND p.p_type = 'LARGE'
      AND e.supply_cost = (
            SELECT MIN(e2.supply_cost) FROM eur e2
            WHERE e2.l_partkey = e.l_partkey
      )
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: for each size-15 LARGE part, the European supplier(s)
    offering the minimum unit price. lineitem stands in for partsupp
    (supply_cost = MIN(l_extendedprice) per (part, supplier)); the
    correlated MIN decorrelates into a per-part aggregate joined back on
    p_partkey. The part filter and the supplier->nation->region chain are
    broadcast, so the only fact shuffle is the (partkey, suppkey)
    aggregate. MIN of 2-decimal doubles is a single exact value, so the
    equality join on supply_cost is engine-safe (float-parity class 1)."""
    sup = (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = (
        t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("supply_cost"))
    )
    eur = ps.join(F.broadcast(sup), ps.l_suppkey == sup.s_suppkey)
    best = eur.groupBy("l_partkey").agg(F.min("supply_cost").alias("min_cost"))
    parts = F.broadcast(
        t(spark, sf_dir, "part")
        .filter((F.col("p_size") == 15) & (F.col("p_type") == "LARGE"))
        .select("p_partkey")
    )
    return (
        eur.join(best, "l_partkey")
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "supply_cost")
    )


# =========================================================================
# Q4 shape — EXISTS with a non-equi term (order priority checking)
# =========================================================================

@register(
    "order_priority_check",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: orders in one quarter with at least one lineitem shipped
    more than 30 days after the order date. EXISTS is a left-semi hash
    join on the equi key l_orderkey with the date inequality as a residual
    condition — no BNLJ, one shuffle, and the quarter filter on orders is
    pushed to the scan before the join."""
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


# =========================================================================
# Q6 shape — scan-filter-aggregate (forecast revenue change)
# =========================================================================

@register(
    "forecast_revenue_change",
    """
    SELECT printf('%.6e',
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
             / 10000.0
           ) AS revenue_delta,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24.0
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: pure predicate + single aggregate — every filter reaches
    the parquet scan (PushedFilters), only 4 columns are read, and the
    money product aggregates as exact integer centi-cents (order-free at any SF)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.05)
        & (F.col("l_quantity") < 24.0)
    )
    return li.agg(
        (F.sum(cents("l_extendedprice") * cents("l_discount")).cast("double")
         / 10000.0).alias("revenue_delta"),
        F.count("*").alias("n_items"),
    ).withColumn("revenue_delta", fmt("revenue_delta"))


# =========================================================================
# Q8 shape — conditional share-of-total per year (market share)
# =========================================================================

@register(
    "nation_market_share",
    f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           printf('%.6e',
             CAST(COALESCE(SUM(CASE WHEN n2.n_name = 'NATION_7'
                                    THEN {_VOLUME_SQL} END), 0) AS DOUBLE)
             / CAST(SUM({_VOLUME_SQL}) AS DOUBLE)
           ) AS mkt_share
    FROM lineitem
    JOIN orders    ON o_orderkey = l_orderkey
    JOIN customer  ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = c_nationkey
    JOIN region    ON r_regionkey = n1.n_regionkey
    JOIN supplier  ON s_suppkey = l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s_nationkey
    JOIN part      ON p_partkey = l_partkey
    WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    GROUP BY o_year
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: NATION_7 suppliers' share of ECONOMY-part revenue sold to
    ASIA customers, per order year. All dims broadcast; numerator and
    denominator are separate order-free DECIMAL sums divided once at the
    end (a ratio of two exact decimals is one deterministic double op)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust_asia = (
        t(spark, sf_dir, "customer")
        .join(
            F.broadcast(t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                t(spark, sf_dir, "nation").select(
                    F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    parts = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    vol = _dec_volume()
    return (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_asia), orders.o_custkey == cust_asia.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_7", vol)).alias("_num"),
            F.sum(vol).alias("_den"),
        )
        .select(
            "o_year",
            (F.coalesce(F.col("_num"), F.lit(0)).cast("double")
             / F.col("_den").cast("double")).alias("mkt_share"),
        )
        .withColumn("mkt_share", fmt("mkt_share"))
    )


# =========================================================================
# Q9 shape — profit per (nation, year) for a part-name pattern
# =========================================================================

@register(
    "product_type_profit",
    f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           printf('%.6e', CAST(SUM({_VOLUME_SQL}) AS DOUBLE) / 10000.0) AS profit
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN part     ON p_partkey = l_partkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, o_year
    """,
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: discounted revenue of red parts per supplier nation and
    order year. The LIKE filter prunes the broadcast part dim before the
    fact join; one fact shuffle on the grouping key."""
    parts = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("red"))
        .select("p_partkey")
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(_dec_volume()).cast("double") / 10000.0).alias("profit"))
        .withColumn("profit", fmt("profit"))
    )


# =========================================================================
# Q10 shape — top-20 customers by returned-item revenue
# =========================================================================

@register(
    "returned_item_customers",
    f"""
    SELECT c_custkey, c_name,
           printf('%.6e', CAST(SUM({_VOLUME_SQL}) AS DOUBLE) / 10000.0) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY SUM({_VOLUME_SQL}) DESC, c_custkey
    LIMIT 20
    """,
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: customers who returned the most revenue in one quarter.
    The top-20 runs as TakeOrderedAndProject (no global sort materialized);
    ordering is on the exact integer centi-cents revenue with a c_custkey tiebreak so
    both engines select the identical row set."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = (
        t(spark, sf_dir, "customer")
        .join(
            F.broadcast(t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_dec_volume()).alias("_rev"))
        # fmt is projected BEFORE the sort, which keeps the Limit(Sort)
        # adjacency Catalyst turns into TakeOrderedAndProject (per-partition
        # top-20, no global sort).
        .select(
            "c_custkey", "c_name",
            (F.col("_rev").cast("double") / 10000.0).alias("revenue"),
            "c_acctbal", "n_name", "_rev",
        )
        .withColumn("revenue", fmt("revenue"))
        .orderBy(F.desc("_rev"), F.asc("c_custkey"))
        .limit(20)
        .drop("_rev")
    )


# =========================================================================
# Q12 shape — CASE-count pivot by line status (shipmode stand-in)
# =========================================================================

@register(
    "linestatus_priority_counts",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > o_orderdate
    GROUP BY l_linestatus
    """,
)
def linestatus_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: high/low-priority line counts per line status for items
    shipped after their order date within one year. Integer CASE sums are
    float-parity class 1 (exact)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# =========================================================================
# Q13 shape — left outer join + two-level aggregation (order distribution)
# =========================================================================

@register(
    "customer_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: distribution of per-customer order counts, zero-order
    customers included via the left outer join (COUNT of a null key is 0).
    First agg shuffles on c_custkey; the second input is
    customer-cardinality, so its shuffle is tiny."""
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# =========================================================================
# Q14 shape — filtered share-of-total (promo revenue)
# =========================================================================

@register(
    "promo_revenue_share",
    f"""
    SELECT printf('%.6e',
             100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                   THEN {_VOLUME_SQL} END) AS DOUBLE)
                   / CAST(SUM({_VOLUME_SQL}) AS DOUBLE)
           ) AS promo_revenue_pct
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: PROMO parts' percentage of one month's revenue. Part dim
    broadcast; both sums centi-cents-exact; one double division at the end."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    parts = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = _dec_volume()
    return (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", vol)).alias("_promo"),
            F.sum(vol).alias("_total"),
        )
        .select(
            (F.lit(100.0) * F.col("_promo").cast("double")
             / F.col("_total").cast("double")).alias("promo_revenue_pct")
        )
        .withColumn("promo_revenue_pct", fmt("promo_revenue_pct"))
    )


# =========================================================================
# Q16 shape — NOT IN anti join + COUNT(DISTINCT) (supplier variety)
# =========================================================================

@register(
    "supplier_part_variety",
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct supplier counts per (brand, type, size) bucket,
    excluding negative-balance suppliers. NOT IN over a non-null key is a
    broadcast left-anti join (the excluded list is tiny); the distinct
    count shuffles once on the grouping key."""
    bad = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    parts = (
        t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# =========================================================================
# Q19 shape — disjunctive bracket predicates (brand/size/quantity)
# =========================================================================

@register(
    "disjunctive_bracket_revenue",
    f"""
    SELECT printf('%.6e', CAST(SUM({_VOLUME_SQL}) AS DOUBLE) / 10000.0) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: three OR'd (brand, size, quantity) brackets. The
    part-only disjuncts (brand + size) pre-filter the broadcast dim, so
    the fact join probes only candidate parts; the mixed part×lineitem
    residual applies after the join — the same split Catalyst derives for
    TPC-H Q19 via constraint propagation."""
    parts = (
        t(spark, sf_dir, "part")
        .filter(
            ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5))
            | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10))
            | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15))
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    bracket = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .filter(bracket)
        .agg(
            (F.sum(_dec_volume()).cast("double") / 10000.0).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .withColumn("revenue", fmt("revenue"))
    )
