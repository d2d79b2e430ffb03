"""Second relational wave: correlated-subquery shapes, advanced window
functions, pivot/unpivot, CUBE, grouped quantiles, and vocabulary top-k.

The reference's SQL surface stops at two canonical GROUP BY queries
(reference src/transform/etl_pipeline.py:267-297); a complete engine a
reference user could switch to must also execute the decorrelated-subquery
and reshaping patterns every warehouse workload contains. Each entry here
is the Spark-first plan (joins + aggregates Catalyst can reorder/broadcast)
with the *natural* correlated SQL as its DuckDB oracle — proving the
decorrelation preserves semantics.

Scale notes (100 TB plans):
- Correlated scalar subqueries are decorrelated into per-key aggregates
  joined back on the correlation key — one shuffle on the key, never a
  per-row re-scan. The aggregate side is always the smaller relation.
- Single-scalar subqueries (global AVG) become a 1-row DataFrame
  cross-joined in — Catalyst plans BroadcastNestedLoopJoin over 1 row,
  equivalent to a literal, with no driver collect in the lazy plan.
- NTILE/PERCENT_RANK windows partition by a grouping key (never a global
  ORDER BY over the fact table).
- The RANGE-interval frame orders within ``user_id`` partitions on
  microsecond epoch — value-bounded frames need no min_periods emulation
  and stay one-pass per partition.
- Vocabulary top-k is partial-aggregated map-side (explode → groupBy) and
  finished with TakeOrderedAndProject — no global sort of the token table.

Float parity: multi-row double aggregates emit ``%.6e`` via
:func:`registry.fmt` (policy class 2); rank/ntile/count outputs are cast
to BIGINT on the Spark side (DuckDB window ints are BIGINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import cents, fmt, register, t


# =========================================================================
# TPC-H Q17 shape — correlated scalar subquery on the join key
# =========================================================================

@register(
    "avg_yearly_small_qty",
    """
    SELECT printf('%.6e', CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / 7.0) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#2'
      AND l.l_quantity < (
            SELECT 0.2 * AVG(l2.l_quantity)
            FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def avg_yearly_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue of below-one-fifth-of-average-quantity lineitems
    for one brand. The correlated per-part AVG decorrelates into a
    groupBy(l_partkey) aggregate joined back on the key; the brand filter
    is applied *before* the aggregate input via a broadcast semi-join, so
    at scale the heavy per-part aggregate only sees the ~1/25 of lineitem
    that can ever match (the correlated value only differs from the full
    average on parts we then discard)."""
    brand_parts = F.broadcast(
        t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#2")
        .select("p_partkey")
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(brand_parts, F.col("l_partkey") == F.col("p_partkey"))
    )
    limits = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_limit")
    )
    return (
        li.join(limits, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg((F.sum(cents("l_extendedprice")).cast("double") / 100.0 / F.lit(7.0)).alias("avg_yearly"))
        .withColumn("avg_yearly", fmt("avg_yearly"))
    )


# =========================================================================
# TPC-H Q18 shape — IN-subquery over a HAVING aggregate
# =========================================================================

@register(
    "big_quantity_orders",
    """
    SELECT c_name,
           o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate_str,
           printf('%.6e', SUM(l_quantity)) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 250.0
    )
    GROUP BY c_name, o_orderkey, o_orderdate
    """,
)
def big_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: large-volume orders. The IN-subquery becomes a left-semi
    join of orders against the per-order quantity aggregate (the aggregate
    output is orders-cardinality × tiny selectivity — AQE broadcasts it);
    the final per-order re-aggregation shuffles on o_orderkey, the same key
    the semi-join used, so AQE can reuse the exchange."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 250.0)
        .select("l_orderkey")
    )
    orders = t(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .select(
            "c_name", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate_str"),
            fmt("total_qty"),
        )
    )


# =========================================================================
# TPC-H Q21 shape — EXISTS + NOT EXISTS self-joins, set-based rewrite
# =========================================================================

@register(
    "lone_late_suppliers",
    """
    SELECT s_name, COUNT(DISTINCT l.l_orderkey) AS numwait
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l.l_orderkey AND l2.l_suppkey <> l.l_suppkey
      )
      AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l.l_orderkey AND l3.l_suppkey <> l.l_suppkey
              AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s_name
    """,
)
def lone_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers who were the *only* late shipper on
    multi-supplier finalized orders ("late" = shipped >90 days after the
    order date). Instead of the reference-style EXISTS/NOT-EXISTS per-row
    probes, one pass computes per-(order, supplier) lateness, a second
    per-order supplier/late counts; both shuffles share the l_orderkey key.
    At 100 TB this is two key-local aggregations + one key-local join —
    no nested-loop anti probe."""
    orders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .cast("int"),
    )
    per_os = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("late_any")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"), F.sum("late_any").alias("n_late")
    )
    lone = (
        per_os.filter(F.col("late_any") == 1)
        .join(
            per_o.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1)),
            "l_orderkey",
        )
    )
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lone.join(F.broadcast(supp), lone.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        # (l_orderkey, l_suppkey) is unique after the aggregate, so a plain
        # count equals the oracle's COUNT(DISTINCT l_orderkey).
        .agg(F.count("*").cast("long").alias("numwait"))
    )


# =========================================================================
# TPC-H Q22 shape — global scalar subquery + anti join + group
# =========================================================================

@register(
    "rich_idle_customers",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_cust,
           printf('%.6e', CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS total_bal
    FROM customer c
    WHERE c_acctbal > (
            SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority LIKE '1-%'
      )
    GROUP BY c_mktsegment
    """,
)
def rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: above-average-balance customers with no urgent orders,
    summarized per segment. The global AVG is a 1-row DataFrame
    cross-joined in (broadcast nested-loop over one row — no collect in
    the plan); the NOT EXISTS is a LeftAnti join against the filtered
    orders projection."""
    cust = t(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    urgent = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").startswith("1-"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            (F.sum(cents("c_acctbal")).cast("double") / 100.0).alias("total_bal"),
        )
        .withColumn("total_bal", fmt("total_bal"))
    )


# =========================================================================
# Window extras — NTILE / PERCENT_RANK / CUME_DIST / DENSE_RANK
# =========================================================================

@register(
    "order_price_quartiles",
    """
    SELECT o_orderkey,
           o_orderpriority,
           CAST(NTILE(4) OVER w_total AS BIGINT) AS quartile,
           CAST(ROW_NUMBER() OVER w_total AS BIGINT) AS rn,
           CAST(DENSE_RANK() OVER w_price AS BIGINT) AS drank,
           printf('%.6e', PERCENT_RANK() OVER w_price) AS pct_rank,
           printf('%.6e', CUME_DIST() OVER w_price) AS cume
    FROM orders
    WINDOW
      w_total AS (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice, o_orderkey),
      w_price AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    """,
)
def order_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-family windows the reference never uses (SURVEY §2.5 notes
    their absence): NTILE needs a total order for determinism, so its
    window breaks price ties on o_orderkey; PERCENT_RANK/CUME_DIST/
    DENSE_RANK are tie-stable and keep the natural price order. Both
    windows partition by o_orderpriority — at scale each partition sorts
    locally after one hash shuffle; there is no global sort."""
    orders = t(spark, sf_dir, "orders")
    w_total = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    w_price = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w_total).cast("long").alias("quartile"),
        F.row_number().over(w_total).cast("long").alias("rn"),
        F.dense_rank().over(w_price).cast("long").alias("drank"),
        F.percent_rank().over(w_price).alias("pct_rank"),
        F.cume_dist().over(w_price).alias("cume"),
    ).withColumns({c: fmt(c) for c in ("pct_rank", "cume")})


# =========================================================================
# RANGE-interval frame — value-bounded sliding window
# =========================================================================

@register(
    "rolling_hour_user_value",
    """
    SELECT event_id,
           printf('%.6e', SUM(value) OVER w) AS hour_sum,
           CAST(COUNT(*) OVER w AS BIGINT) AS hour_cnt
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def rolling_hour_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1-hour per-user sum/count with a RANGE (value-bounded)
    frame — the frame the reference's ROWS-based rolling ops (SURVEY W1/W2)
    cannot express. Ordering on microsecond epoch keeps Spark's long-typed
    rangeBetween exactly equivalent to DuckDB's timestamp-interval frame
    (both bound at ts - 1 hour inclusive, microsecond precision). The
    window partitions by user_id: one shuffle, per-partition sort, no
    min_periods emulation needed because value frames shrink naturally."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        F.sum("value").over(w).alias("hour_sum"),
        F.count("*").over(w).cast("long").alias("hour_cnt"),
    ).withColumn("hour_sum", fmt("hour_sum"))


# =========================================================================
# Pivot — event-type columns per day
# =========================================================================

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

@register(
    "event_type_pivot",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_str,
           printf('%.6e', SUM(CASE WHEN event_type = 'click'    THEN value END)) AS click_value,
           printf('%.6e', SUM(CASE WHEN event_type = 'error'    THEN value END)) AS error_value,
           printf('%.6e', SUM(CASE WHEN event_type = 'purchase' THEN value END)) AS purchase_value,
           printf('%.6e', SUM(CASE WHEN event_type = 'signup'   THEN value END)) AS signup_value,
           printf('%.6e', SUM(CASE WHEN event_type = 'view'     THEN value END)) AS view_value
    FROM events
    GROUP BY 1
    """,
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot of per-day value by event type. The pivot values are
    an explicit list, so Spark skips the extra distinct-collection job and
    plans a single hash aggregate with one CASE-sum per column — identical
    shape to the oracle's conditional aggregation, and shuffle-equivalent
    to a plain groupBy(day)."""
    ev = t(spark, sf_dir, "events")
    wide = (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day_str")
        )
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum("value"))
    )
    return wide.select(
        "day_str", *[F.col(et).alias(f"{et}_value") for et in _EVENT_TYPES],
    ).withColumns({f"{et}_value": fmt(f"{et}_value") for et in _EVENT_TYPES})


# =========================================================================
# Unpivot — wide metrics back to (metric, value) rows
# =========================================================================

@register(
    "returnflag_metrics_unpivot",
    """
    WITH agg AS (
        SELECT l_returnflag,
               SUM(l_quantity)      AS sum_qty,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price,
               CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, 'sum_qty'   AS metric, printf('%.6e', sum_qty)   AS metric_value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, printf('%.6e', sum_price) AS metric_value FROM agg
    UNION ALL
    SELECT l_returnflag, 'sum_disc'  AS metric, printf('%.6e', sum_disc)  AS metric_value FROM agg
    """,
)
def returnflag_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot via ``stack`` over a 3-row-per-flag aggregate.
    The melt happens *after* aggregation (tiny cardinality), so the
    generator never multiplies fact-table rows — the scale-safe order for
    any unpivot."""
    agg = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum(cents("l_extendedprice"))
             .cast("double") / 100.0).alias("sum_price"),
            (F.sum(cents("l_discount"))
             .cast("double") / 100.0).alias("sum_disc"),
        )
    )
    return agg.select(
        "l_returnflag",
        F.expr(
            "stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price,"
            " 'sum_disc', sum_disc) AS (metric, raw_value)"
        ),
    ).selectExpr("l_returnflag", "metric", "raw_value AS metric_value").withColumn(
        "metric_value", fmt("metric_value"))


# =========================================================================
# CUBE — all grouping-set combinations + grouping id
# =========================================================================

@register(
    "returnflag_cube",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
           COALESCE(l_linestatus, 'ALL') AS lstat,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n_items,
           printf('%.6e', CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS total_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def returnflag_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (returnflag, linestatus) — the 2^2 grouping sets in
    one Expand+aggregate pass (the GROUPING SETS rollup query covers the
    hierarchical case; this covers the cross-product case). grouping_id
    disambiguates real NULL keys from subtotal rows; both engines use the
    same bit order (first listed column = high bit)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_items"),
            (F.sum(cents("l_extendedprice")).cast("double") / 100.0).alias("total_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstat"),
            "gid",
            "n_items",
            fmt("total_price"),
        )
    )


# =========================================================================
# Grouped exact multi-quantiles
# =========================================================================

@register(
    "value_quantiles_by_type",
    """
    SELECT event_type,
           printf('%.6e', quantile_cont(value, 0.5))  AS p50,
           printf('%.6e', quantile_cont(value, 0.9))  AS p90,
           printf('%.6e', quantile_cont(value, 0.99)) AS p99
    FROM events
    GROUP BY 1
    """,
)
def value_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linearly-interpolated p50/p90/p99 per event type — Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the same
    interpolation definition, so the values agree to the ulp. At 100 TB
    exact grouped quantiles are a sort-within-group; the documented scale
    fallback is approx_percentile with bounded error (rows-only check)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.9).alias("p90"),
        F.percentile("value", 0.99).alias("p99"),
    ).withColumns({c: fmt(c) for c in ("p50", "p90", "p99")})


@register(
    "value_quantiles_approx_check",
    """
    SELECT event_type,
           printf('%.6e', quantile_cont(value, 0.5))  AS p50,
           printf('%.6e', quantile_cont(value, 0.9))  AS p90,
           printf('%.6e', quantile_cont(value, 0.99)) AS p99,
           TRUE AS p50_rank_ok, TRUE AS p90_rank_ok, TRUE AS p99_rank_ok
    FROM events
    GROUP BY 1
    """,
)
def value_quantiles_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric quality gate for the approx_percentile scale path that
    value_quantiles_by_type documents as its 100 TB fallback. The check is
    the sketch's ACTUAL contract — rank error, not value error: the same
    plan rejoins each group's approx value against the raw rows, computes
    its empirical CDF position exactly (a 0/1 sum, always integer-exact in
    double), and emits |F(approx) - p| <= 0.02 per percentile. accuracy
    1000 bounds rank error at 0.001, measured worst case 0.005 at
    sf0.001's coarse group granularity — 4x margin, distribution- and
    scale-independent where a value-space bound would need a 25%% slack on
    the heavy p99 tail. Oracle pins the exact quantiles plus TRUE
    booleans, so a broken sketch (wrong column, wrong accuracy,
    merge bug) hash-fails."""
    ev = t(spark, sf_dir, "events")
    appr = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, array(0.5, 0.9, 0.99), 1000)").alias("a")
    )
    j = ev.join(F.broadcast(appr), "event_type")
    g = j.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.9).alias("p90"),
        F.percentile("value", 0.99).alias("p99"),
        *[F.avg((F.col("value") <= F.col("a")[i]).cast("double")).alias(f"_f{i}")
          for i in range(3)],
    )
    return g.select(
        "event_type", fmt("p50"), fmt("p90"), fmt("p99"),
        *[(F.abs(F.col(f"_f{i}") - F.lit(p)) <= 0.02).alias(f"{nm}_rank_ok")
          for i, (p, nm) in enumerate(((0.5, "p50"), (0.9, "p90"), (0.99, "p99")))],
    )


# =========================================================================
# Vocabulary top-k (heavy hitters) — training-data pipeline op
# =========================================================================

@register(
    "token_vocab_topk",
    """
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY cnt DESC, tok
    LIMIT 100
    """,
)
def token_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: whitespace tokenize (split parity
    with the dedup/text-stats family), explode, count, top-100 with a
    deterministic (count desc, token asc) tie-break. The plan is
    partial-aggregated map-side then TakeOrderedAndProject — the token
    table is never globally sorted, which is what makes vocab building
    viable over a 100 TB corpus."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(100)
    )


# =========================================================================
# Cohort retention — first-activity cohort × period-offset matrix
# =========================================================================

@register(
    "cohort_retention",
    """
    WITH firsts AS (
        SELECT o_custkey,
               MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
        FROM orders GROUP BY 1
    )
    SELECT CAST(cohort_m AS BIGINT) AS cohort_m,
           CAST(year(o_orderdate) * 12 + month(o_orderdate) - cohort_m AS BIGINT)
               AS months_since,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS active_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix: customers bucketed by their
    first-order month, activity counted per months-since-cohort offset.
    Month indices are integer arithmetic (year*12+month) on both engines —
    no fractional months_between semantics to reconcile. Two aggregations
    sharing the o_custkey key: the firsts aggregate output is
    customer-cardinality (small after aggregation) and AQE broadcasts it
    back against the fact scan."""
    orders = t(spark, sf_dir, "orders").withColumn(
        "order_m", F.year("o_orderdate") * 12 + F.month("o_orderdate")
    )
    firsts = orders.groupBy("o_custkey").agg(F.min("order_m").alias("cohort_m"))
    return (
        orders.join(firsts, "o_custkey")
        .groupBy(
            F.col("cohort_m").cast("long").alias("cohort_m"),
            (F.col("order_m") - F.col("cohort_m")).cast("long").alias("months_since"),
        )
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("active_customers"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )


# =========================================================================
# Sorted string aggregation (LISTAGG shape)
# =========================================================================

@register(
    "segment_name_listagg",
    """
    SELECT c_mktsegment,
           string_agg(c_name, ',' ORDER BY c_name) AS names,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer
    WHERE c_acctbal > 9900.0
    GROUP BY c_mktsegment
    """,
)
def segment_name_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG/string_agg: per-segment comma-joined customer names in
    deterministic (sorted) order — ``collect_list`` is order-nondeterministic
    under parallel merge, so the sort happens *after* collection via
    ``array_sort``, which is the only way to get a stable result from a
    distributed string aggregation. The acctbal filter keeps group payloads
    bounded; unbounded LISTAGG at 100 TB is an anti-pattern (a group's
    string must fit in one row) and the scale path is "keep top-N per group
    via rank-filter, then aggregate"."""
    return (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900.0)
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("names"),
            F.count("*").cast("long").alias("n"),
        )
    )


# =========================================================================
# Histogram binning — width_bucket value distribution
# =========================================================================

@register(
    "order_price_histogram",
    """
    SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                WHEN o_totalprice >= 600000.0 THEN 13
                ELSE CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) + 1
           END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           printf('%.6e', CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0) AS bucket_value
    FROM orders
    GROUP BY 1
    """,
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution histogram via SQL-standard ``width_bucket`` (12
    equal bins over [0, 600k), underflow bin 0 / overflow bin 13); DuckDB
    has no width_bucket, so the oracle spells the same binning as explicit
    floor arithmetic. One hash aggregate on the bucket id; at 100 TB the
    map-side partial collapses each partition to ≤14 rows, so the shuffle
    is constant-size regardless of input."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.width_bucket("o_totalprice", F.lit(0.0), F.lit(600000.0), F.lit(12))
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            (F.sum(cents("o_totalprice")).cast("double") / 100.0).alias("bucket_value"),
        )
        .withColumn("bucket_value", fmt("bucket_value"))
    )


# =========================================================================
# Regexp extraction + null-safe arithmetic
# =========================================================================

@register(
    "source_numeric_profile",
    """
    SELECT CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) AS src_num,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
)
def source_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp capture-group extraction as a grouping key (the 'parse the
    id out of a tag' pattern). Simple character-class patterns behave
    identically in Java and RE2 regex engines; the extraction is a pure
    projection, the aggregate a single hash pass."""
    return (
        t(spark, sf_dir, "documents")
        .groupBy(
            F.regexp_extract("source", r"([0-9]+)", 1).cast("long").alias("src_num")
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@register(
    "user_click_purchase_ratio",
    """
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS DOUBLE)
               / NULLIF(COUNT(*) FILTER (WHERE event_type = 'purchase'), 0)
               AS click_per_purchase
    FROM events
    GROUP BY user_id
    """,
)
def user_click_purchase_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause conditional counts + null-safe division: Spark's
    ``try_divide`` ≡ ``x / NULLIF(y, 0)`` (NULL on zero denominator, never
    an error under ANSI mode). Per-row division of two exact ints is
    bit-identical across engines, so the ratio is emitted raw."""
    ev = t(spark, sf_dir, "events")
    n_click = F.count(F.when(F.col("event_type") == "click", 1))
    n_purchase = F.count(F.when(F.col("event_type") == "purchase", 1))
    return ev.groupBy("user_id").agg(
        n_click.cast("long").alias("n_click"),
        n_purchase.cast("long").alias("n_purchase"),
        F.try_divide(
            n_click.cast("double"), F.nullif(n_purchase.cast("double"), F.lit(0.0))
        ).alias("click_per_purchase"),
    )
