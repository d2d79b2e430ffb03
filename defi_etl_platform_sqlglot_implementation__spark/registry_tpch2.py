"""Relational core wave 3: the remaining classic TPC-H decorrelation
shapes expressible on the driver's tables — Q7 (bi-nation disjunctive
join), Q11 (HAVING against a global scalar from the same aggregation),
Q15 (view reused for max-equality), Q20 (nested threshold chain).

Scale notes (100 TB plans):
- Q7 shape: both nation dims broadcast; the disjunctive two-nation
  predicate evaluates AFTER the equi-joins (never as a join edge — see
  the triangle-oracle NLJ lesson); one fact shuffle for the group-by.
- Q11/Q15 shapes: the global scalar/max is a 1-row frame broadcast into
  the HAVING/equality filter — the aggregation is computed ONCE and
  reused, not re-run per row (the decorrelated form of the correlated
  subquery the SQL text implies).
- Q20 shape: per-(supplier, part) and per-part aggregates share one scan
  and one shuffle key prefix; the threshold join is an equi-join on
  partkey; the final supplier reduction is a semi-join.

Float parity: revenue = Σ price·(1−disc) rides exact integer centi-cent
products (2-dec × 2-dec = exact 4-dec) summed as BIGINT — order-free (the
sf1-measured money rule); quantities are integral sums (class 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import cents, fmt, register, t

# exact per-row revenue term in integer CENTI-CENTS (1e-4 dollars):
# cents(price) * (100 - cents(disc)) is a long*long product (exact, cheap
# codegen vs the r3 DECIMAL multiply); Σ stays a 64-bit integer sum with
# headroom past 1e9 rows per group (revenue/row < ~1.1e9 centi-cents).
# Callers divide the summed double by 10000.0 to get dollars.
_REV_SQL = ("(CAST(round(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(round(l_discount * 100) AS BIGINT)))")


def _rev_col() -> F.Column:
    return cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))


# =========================================================================
# Q7 shape — bi-nation trade volume with a disjunctive nation pair
# =========================================================================

_N1, _N2 = "NATION_3", "NATION_7"

@register(
    "bi_nation_trade_volume",
    f"""
    SELECT cn.n_name AS cust_nation,
           sn.n_name AS supp_nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           printf('%.6e', CAST(SUM({_REV_SQL}) AS DOUBLE) / 10000.0) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE (cn.n_name = '{_N1}' AND sn.n_name = '{_N2}')
       OR (cn.n_name = '{_N2}' AND sn.n_name = '{_N1}')
    GROUP BY 1, 2, 3
    """,
)
def bi_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: trade revenue between two specific nations in both
    directions, by year. The disjunctive nation-pair predicate is a
    row filter applied AFTER the broadcast equi-joins (a cross-table
    disjunction handed to the optimizer as a join edge is how plans go
    nested-loop — the triangle-oracle lesson); all four dims broadcast,
    one fact shuffle for the aggregate."""
    l = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = n.select(F.col("n_nationkey").alias("_ck"), F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("_sk"), F.col("n_name").alias("supp_nation"))
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("_ck"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("_sk"))
        .filter(
            ((F.col("cust_nation") == _N1) & (F.col("supp_nation") == _N2))
            | ((F.col("cust_nation") == _N2) & (F.col("supp_nation") == _N1))
        )
    )
    return (
        joined.groupBy(
            "cust_nation", "supp_nation",
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(
            (F.sum(_rev_col()).cast("double") / 10000.0).alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
        .withColumn("revenue", fmt("revenue"))
    )


# =========================================================================
# Q11 shape — group aggregate HAVING against a global scalar share
# =========================================================================

_SHARE_MULT = 1.5  # x the mean per-part quantity

@register(
    "part_qty_share_threshold",
    f"""
    WITH per_part AS (
        SELECT l_partkey, SUM(l_quantity) AS part_qty
        FROM lineitem GROUP BY 1
    ),
    total AS (SELECT SUM(part_qty) AS all_qty, COUNT(*) AS n_parts
              FROM per_part)
    SELECT p.l_partkey AS partkey,
           p.part_qty
    FROM per_part p, total
    WHERE p.part_qty * total.n_parts > {_SHARE_MULT} * total.all_qty
    """,
)
def part_qty_share_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: parts whose total shipped quantity exceeds 1.5× the
    mean per-part quantity (an SF-robust form of Q11's global-share
    HAVING) — the correlated 'HAVING SUM(...) > f ×
    (SELECT SUM(...))' decorrelated into one aggregation reused twice:
    the per-part frame feeds both the global re-aggregate (1 row,
    broadcast) and the threshold filter. Quantities are integral-double
    sums — exact, so the share comparison (single multiply both
    engines) is deterministic."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    per_part = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum("l_quantity").alias("part_qty")
    )
    total = per_part.agg(
        F.sum("part_qty").alias("all_qty"),
        F.count("*").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_qty") * F.col("n_parts")
                > _SHARE_MULT * F.col("all_qty"))
        .select("partkey", "part_qty")
    )


# =========================================================================
# Q15 shape — view reused for max-equality (top revenue supplier)
# =========================================================================

@register(
    "top_revenue_suppliers",
    f"""
    WITH rev AS (
        SELECT l_suppkey AS suppkey, SUM({_REV_SQL}) AS total_rev
        FROM lineitem GROUP BY 1
    ),
    mx AS (SELECT MAX(total_rev) AS max_rev FROM rev)
    SELECT s.s_name AS supplier_name,
           r.suppkey,
           printf('%.6e', CAST(r.total_rev AS DOUBLE) / 10000.0) AS total_rev
    FROM rev r, mx
    JOIN supplier s ON s.s_suppkey = r.suppkey
    WHERE r.total_rev = mx.max_rev
    """,
)
def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: supplier(s) whose revenue equals the maximum of the
    per-supplier revenue view — the view is computed ONCE and reused for
    both the max (1-row broadcast) and the equality filter. Revenue is
    an exact integer centi-cents sum, so cross-engine max-equality is safe (the
    double version of this query is a parity landmine: an ulp of
    reassociation and the argmax row set changes)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount")
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(_rev_col()).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_name").alias("supplier_name"),
            "suppkey",
            (F.col("total_rev").cast("double") / 10000.0).alias("total_rev"),
        )
        .withColumn("total_rev", fmt("total_rev"))
    )


# =========================================================================
# Q20 shape — nested threshold chain (dominant suppliers per part)
# =========================================================================

@register(
    "dominant_part_suppliers",
    """
    WITH sp AS (
        SELECT l_partkey, l_suppkey, SUM(l_quantity) AS sp_qty
        FROM lineitem GROUP BY 1, 2
    ),
    p AS (
        SELECT l_partkey, SUM(sp_qty) AS part_qty,
               COUNT(*) AS n_supp
        FROM sp GROUP BY 1
    ),
    dominant AS (
        SELECT sp.l_suppkey, sp.l_partkey
        FROM sp JOIN p USING (l_partkey)
        WHERE sp.sp_qty * p.n_supp > 2 * p.part_qty
    )
    SELECT s.s_name AS supplier_name,
           CAST(s.s_suppkey AS BIGINT) AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_dominated_parts
    FROM dominant d
    JOIN supplier s ON s.s_suppkey = d.l_suppkey
    GROUP BY 1, 2
    """,
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers who shipped more than 2× their fair share
    of a part's total quantity (share × supplier count > 2 — an
    SF-robust dominance test), with how many parts they dominate. The
    nested 'qty > f(SELECT SUM ...)' chain decorrelates into two aggregates that
    share one scan and a common shuffle-key prefix (partkey, suppkey) →
    (partkey) — the second agg re-aggregates the first's output, not the
    fact table. Threshold compare is integral-sum arithmetic: exact."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity")
    sp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("sp_qty")
    )
    p = sp.groupBy("l_partkey").agg(
        F.sum("sp_qty").alias("part_qty"),
        F.count("*").alias("n_supp"),
    )
    dominant = sp.join(p, "l_partkey").filter(
        F.col("sp_qty") * F.col("n_supp") > 2 * F.col("part_qty")
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        dominant.join(F.broadcast(s), dominant.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_name").alias("supplier_name"),
                 F.col("s_suppkey").cast("long").alias("suppkey"))
        .agg(F.count("*").cast("long").alias("n_dominated_parts"))
    )
