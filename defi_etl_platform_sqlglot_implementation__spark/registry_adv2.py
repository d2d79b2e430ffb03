"""Advanced relational wave 2: SCD2 change history, GROUPING SETS,
robust statistics (winsorized mean, MAD), finite-window EWMA, and
triangle counting on the trade graph.

These round out the warehouse-side surface: slowly-changing-dimension
reconstruction (the standard CDC/merge downstream shape), multi-level
aggregation lattices beyond cube/rollup, outlier-robust summary stats,
the time-series smoothing primitive, and one more graph-analytics shape
next to PageRank/connected-components.

Scale notes (100 TB plans):
- SCD2 islands: two window functions over the SAME (user_id, ts) sort —
  one partitioned shuffle, both row_numbers share the sort.
- Winsorize/MAD: thresholds are exact order statistics picked by
  row_number (no interpolation), so the clamp boundary is bit-identical
  cross-engine; per-group windows parallelize across groups.
- EWMA: bounded 8-row window per series — state is O(window), shuffle is
  one partition-by-user exchange. The weights are micro-quantized per
  term BEFORE summation so totals are order-free integer sums.
- Triangles: edges oriented low->high endpoint (halves the join fan-out,
  the standard orientation trick); two equi-joins on node keys — shuffle
  or broadcast by size, never all-pairs.

Float parity: order-statistic medians/thresholds are exact row picks
(class 1); clamped means are %.6e (class 2); EWMA is integer-exact via
per-term micro-quantization (the tfidf_top_terms device).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import cents, fmt, register, t

# =========================================================================
# SCD2 history — gaps-and-islands run collapse (CDC downstream shape)
# =========================================================================

@register(
    "scd2_history",
    """
    WITH r AS (
        SELECT user_id, event_type, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn_t
        FROM events
    ),
    runs AS (
        SELECT user_id, event_type,
               MIN(ts) AS valid_from, MAX(ts) AS last_seen,
               COUNT(*) AS n_events, MIN(rn) AS run_order
        FROM r
        GROUP BY user_id, event_type, rn - rn_t
    )
    SELECT user_id, event_type,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(LEAD(valid_from) OVER (PARTITION BY user_id
                                           ORDER BY run_order),
                    '%Y-%m-%d %H:%M:%S') AS valid_to,
           CAST(n_events AS BIGINT) AS n_events
    FROM runs
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruct SCD2 validity intervals from an event stream: collapse
    consecutive runs of the same event_type per user into
    [valid_from, valid_to) rows, valid_to = next run's start (NULL while
    current) — the classic gaps-and-islands island id
    (row_number − per-type row_number, constant within a run).

    Both row_numbers ride the same (user_id, ts, event_id) sort, so the
    whole history rebuild is ONE partitioned shuffle + windows — the
    shape that rebuilds dimension history from a 100 TB CDC log."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    r = ev.withColumn("rn", F.row_number().over(w_all)).withColumn(
        "rn_t", F.row_number().over(w_typ)
    )
    runs = (
        r.groupBy("user_id", "event_type", (F.col("rn") - F.col("rn_t")).alias("_isl"))
        .agg(
            F.min("ts").alias("_from"),
            F.count("*").cast("long").alias("n_events"),
            F.min("rn").alias("run_order"),
        )
    )
    w_run = Window.partitionBy("user_id").orderBy("run_order")
    return runs.select(
        "user_id",
        "event_type",
        F.date_format("_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(F.lead("_from").over(w_run), "yyyy-MM-dd HH:mm:ss")
        .alias("valid_to"),
        "n_events",
    )


# =========================================================================
# GROUPING SETS — the aggregation lattice beyond cube/rollup
# =========================================================================

@register(
    "grouping_sets_metrics",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
               AS grouping_lvl,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS lattice — (flag,status), (flag), () — with
    the grouping-id disambiguator, complementing the cube/rollup/pivot
    family (returnflag_cube). One pass over the fact table; Spark expands
    the sets via Expand, still a single shuffle of partial aggregates.

    sum_qty is a sum of integral doubles — order-free, exact (class 1)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    out = (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag", "l_linestatus",
        )
        .agg(
            (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
            .cast("long").alias("grouping_lvl"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )
    return out.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "grouping_lvl", "n_rows", "sum_qty",
    )


# =========================================================================
# Winsorized mean — clamp at exact order-statistic thresholds
# =========================================================================

@register(
    "winsorized_stats",
    """
    WITH r AS (
        SELECT l_returnflag AS flag, l_extendedprice AS x,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice, l_orderkey,
                                           l_linenumber) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    ),
    th AS (
        SELECT flag,
               MIN(CASE WHEN rn = greatest(1, CAST(floor(0.05 * n) AS BIGINT))
                        THEN x END) AS lo,
               MIN(CASE WHEN rn = least(n, CAST(ceil(0.95 * n) AS BIGINT))
                        THEN x END) AS hi
        FROM r GROUP BY flag
    )
    SELECT r.flag AS returnflag,
           printf('%.6e', th.lo) AS p05,
           printf('%.6e', th.hi) AS p95,
           printf('%.6e', CAST(SUM(CAST(round(least(greatest(r.x, th.lo), th.hi)
                                              * 100) AS BIGINT)) AS DOUBLE)
                          / 100.0 / COUNT(*)) AS winsorized_mean,
           CAST(SUM(CASE WHEN r.x < th.lo OR r.x > th.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clamped
    FROM r JOIN th USING (flag)
    GROUP BY r.flag, th.lo, th.hi
    """,
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per return flag: clamp values at the 5th/95th
    percentile before averaging — the robust-mean preprocessing step that
    keeps fat-tailed money columns from dominating aggregates.

    Thresholds are EXACT order statistics (the rank-⌊0.05n⌋ / rank-⌈0.95n⌉
    row picked by row_number, no interpolation) so the clamp boundary is
    bit-identical cross-engine — an interpolated percentile could differ
    by an ulp and flip boundary rows' clamping. Ranks ride one per-group
    window sort; the clamped mean rides an order-free exact long-cents sum
    (clamped money is still 2-decimal), so it is exact at any SF."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("x"),
        "l_orderkey", "l_linenumber",
    )
    w = Window.partitionBy("flag").orderBy("x", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("flag")
    r = li.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    th = r.groupBy("flag").agg(
        F.min(
            F.when(
                F.col("rn") == F.greatest(F.lit(1), F.floor(0.05 * F.col("n"))),
                F.col("x"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("rn") == F.least(F.col("n"), F.ceil(0.95 * F.col("n"))),
                F.col("x"),
            )
        ).alias("hi"),
    )
    joined = r.join(F.broadcast(th), "flag")
    return (
        joined.groupBy("flag", "lo", "hi")
        .agg(
            (F.sum(cents("least(greatest(x, lo), hi)"))
             .cast("double") / 100.0 / F.count("*")).alias("_wm"),
            F.sum(
                F.when((F.col("x") < F.col("lo")) | (F.col("x") > F.col("hi")), 1)
                .otherwise(0)
            ).cast("long").alias("n_clamped"),
        )
        .selectExpr("flag AS returnflag", "lo AS p05", "hi AS p95",
                    "_wm AS winsorized_mean", "n_clamped")
        .withColumns({c: fmt(c) for c in ("p05", "p95", "winsorized_mean")})
    )


# =========================================================================
# Median absolute deviation — two exact order-statistic passes
# =========================================================================

@register(
    "mad_robust",
    """
    WITH r AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    med AS (
        SELECT event_type,
               MIN(CASE WHEN rn = (n + 1) // 2 THEN value END) AS median
        FROM r GROUP BY event_type
    ),
    d AS (
        SELECT r.event_type, abs(r.value - m.median) AS dev, m.median,
               ROW_NUMBER() OVER (PARTITION BY r.event_type
                                  ORDER BY abs(r.value - m.median), r.rn) AS drn,
               COUNT(*) OVER (PARTITION BY r.event_type) AS dn
        FROM r JOIN med m USING (event_type)
    )
    SELECT event_type, median,
           MIN(CASE WHEN drn = (dn + 1) // 2 THEN dev END) AS mad
    FROM d
    GROUP BY event_type, median
    """,
)
def mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust spread
    estimator (MAD = median(|x − median(x)|)) used to flag outlier
    regimes where stddev is itself corrupted by the outliers.

    Both medians are LOWER medians picked as exact rank-(n+1)÷2 order
    statistics (deterministic tie order), so median, deviations, and MAD
    are all bit-exact doubles (class 1) — no interpolation, no %.6e
    needed. Two per-group window sorts, parallel across groups."""
    ev = t(spark, sf_dir, "events").select("event_type", "value", "event_id")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    r = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    med = r.groupBy("event_type").agg(
        F.min(
            F.when(F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("value"))
        ).alias("median")
    )
    d = r.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("median"))
    )
    wd = Window.partitionBy("event_type").orderBy("dev", "rn")
    d = d.withColumn("drn", F.row_number().over(wd)).withColumn(
        "dn", F.count("*").over(wn)
    )
    return d.groupBy("event_type", "median").agg(
        F.min(
            F.when(F.col("drn") == F.floor((F.col("dn") + 1) / 2), F.col("dev"))
        ).alias("mad")
    )


# =========================================================================
# Finite-window EWMA — micro-quantized, integer-exact
# =========================================================================

_EWMA_ALPHA = 0.125  # 1/8: exactly representable, (1-α)=0.875 too
_EWMA_K = 8

@register(
    "ewma_user_value",
    f"""
    WITH r AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
        WHERE value IS NOT NULL
    )
    SELECT cur.user_id, CAST(cur.rn AS BIGINT) AS rn,
           CAST(SUM(CAST(round(prev.value * pow(0.875, cur.rn - prev.rn)
                               * 0.125 * 1e6) AS BIGINT)) AS BIGINT)
               AS ewma_micro
    FROM r cur
    JOIN r prev
      ON prev.user_id = cur.user_id
     AND prev.rn BETWEEN cur.rn - {_EWMA_K - 1} AND cur.rn
    GROUP BY cur.user_id, cur.rn
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of event value per user over
    the trailing {k}-row window — the smoothing primitive behind anomaly
    scores and rate limiters. α = 1/8 (both α and 1−α exactly
    representable, so the weight powers are deterministic).

    Each term value·(1−α)^Δ·α is micro-quantized to BIGINT before the
    sum, making the EWMA an order-free integer sum (exact cross-engine
    regardless of summation order — the tfidf_top_terms device). Spark
    computes it with a bounded {k}-row window (collect → zip_with →
    integer fold): one partition-by-user shuffle, O(window) state, no
    self-join fan-out at scale; the oracle spells the same recurrence as
    a rank-delta self-join.""".format(k=_EWMA_K)
    # NULL values are excluded BEFORE ranking on both engines: the window
    # collect_list silently drops nulls, which would shift every array
    # position (and thus every weight delta) relative to the oracle's
    # rank-delta arithmetic — filtering first keeps rn consistent
    ev = (t(spark, sf_dir, "events")
          .select("user_id", "value", "ts", "event_id")
          .filter(F.col("value").isNotNull()))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.withColumn("rn", F.row_number().over(w))
    warr = w.rowsBetween(-(_EWMA_K - 1), 0)
    r = r.withColumn("arr", F.collect_list("value").over(warr))
    # element k (1-based) of the window array sits delta = size(arr)-k rows
    # before the current row; identical operand order to the oracle:
    # value * pow(0.875, delta) * 0.125 * 1e6
    return r.select(
        "user_id",
        F.col("rn").cast("long").alias("rn"),
        F.expr(
            "aggregate(zip_with(arr, sequence(1, size(arr)),"
            " (v, k) -> cast(round(v * pow(0.875, size(arr) - k)"
            "                      * 0.125 * 1e6) as bigint)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("ewma_micro"),
    )


# =========================================================================
# Triangle counting — oriented two-join enumeration on the trade graph
# =========================================================================

def _nation_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected customer-nation — supplier-nation trade edges,
    oriented low->high endpoint (drops self-loops and halves fan-out)."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    su = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    raw = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .join(su, l["l_suppkey"] == su["s_suppkey"])
        .select(F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v"))
    )
    return (
        raw.filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"),
            F.greatest("u", "v").alias("b"),
        )
        .distinct()
    )


_TRIANGLE_SQL = """
    WITH raw AS MATERIALIZED (
        -- equi-joins ONLY in this block: expressing the u <> v filter here
        -- hands the optimizer a cross-table theta edge and (measured,
        -- DuckDB 1.0 at sf1) it nested-loop-joins customer x supplier on
        -- it, spilling >80 GB; MATERIALIZED fences the block so the
        -- inequality applies to the tiny distinct pair set below instead
        SELECT DISTINCT c.c_nationkey AS u, s.s_nationkey AS v
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ),
    e AS (
        SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        FROM raw WHERE u <> v
    ),
    tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pernode AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT CAST(node AS BIGINT) AS nation_key,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM pernode
    GROUP BY node
    """


@register("triangle_count", _TRIANGLE_SQL)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation in the undirected trade graph —
    the clustering/community primitive next to PageRank and connected
    components. Enumeration is the standard oriented two-join: edges
    stored once as (low, high), wedge join on the shared middle vertex,
    then a closing-edge equi-join — never an all-pairs product, and the
    orientation means each triangle is found exactly once. At billion-edge
    scale the same plan runs with the edge list hash-partitioned on the
    join keys (degree-ordered orientation bounds the wedge fan-out)."""
    e = _nation_edges(spark, sf_dir)
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    pernode = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return pernode.groupBy("node").agg(
        F.count("*").cast("long").alias("n_triangles")
    ).select(F.col("node").cast("long").alias("nation_key"), "n_triangles")


# =========================================================================
# Data-quality pair: column profiling + rule-violation accounting
# =========================================================================

@register(
    "column_profile",
    """
    WITH agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(o_orderkey) AS BIGINT) AS nn_orderkey,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd_orderkey,
               CAST(MIN(o_orderkey) AS VARCHAR) AS mn_orderkey,
               CAST(MAX(o_orderkey) AS VARCHAR) AS mx_orderkey,
               CAST(COUNT(o_orderstatus) AS BIGINT) AS nn_status,
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
               MIN(o_orderstatus) AS mn_status,
               MAX(o_orderstatus) AS mx_status,
               CAST(COUNT(o_totalprice) AS BIGINT) AS nn_price,
               CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd_price,
               printf('%.6e', MIN(o_totalprice)) AS mn_price,
               printf('%.6e', MAX(o_totalprice)) AS mx_price,
               CAST(COUNT(o_orderdate) AS BIGINT) AS nn_date,
               CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS nd_date,
               strftime(MIN(o_orderdate), '%Y-%m-%d') AS mn_date,
               strftime(MAX(o_orderdate), '%Y-%m-%d') AS mx_date
        FROM orders
    )
    SELECT 'o_orderkey' AS col, n, n - nn_orderkey AS n_null,
           nd_orderkey AS n_distinct, mn_orderkey AS min_repr,
           mx_orderkey AS max_repr FROM agg
    UNION ALL
    SELECT 'o_orderstatus', n, n - nn_status, nd_status,
           mn_status, mx_status FROM agg
    UNION ALL
    SELECT 'o_totalprice', n, n - nn_price, nd_price,
           mn_price, mx_price FROM agg
    UNION ALL
    SELECT 'o_orderdate', n, n - nn_date, nd_date,
           mn_date, mx_date FROM agg
    """,
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler — the data-quality summary every
    warehouse/catalog computes per table: row count, null count, exact
    distinct count, and min/max in a type-appropriate canonical string
    form (ints raw, doubles %.6e, dates formatted) per profiled column.

    ONE aggregate over the table produces all column stats (Catalyst
    expands the multi-distinct into one Expand + two-level aggregate —
    still a single scan); the wide->long melt happens after aggregation
    on a 1-row frame, so the unpivot never multiplies table rows. At
    100 TB swap exact COUNT(DISTINCT) for approx_count_distinct per the
    approx-gate pattern (value_quantiles_approx_check)."""
    from .registry import fmt

    o = t(spark, sf_dir, "orders")
    agg = o.agg(
        F.count("*").cast("long").alias("n"),
        F.count("o_orderkey").cast("long").alias("nn_orderkey"),
        F.countDistinct("o_orderkey").cast("long").alias("nd_orderkey"),
        F.min("o_orderkey").cast("string").alias("mn_orderkey"),
        F.max("o_orderkey").cast("string").alias("mx_orderkey"),
        F.count("o_orderstatus").cast("long").alias("nn_status"),
        F.countDistinct("o_orderstatus").cast("long").alias("nd_status"),
        F.min("o_orderstatus").alias("mn_status"),
        F.max("o_orderstatus").alias("mx_status"),
        F.count("o_totalprice").cast("long").alias("nn_price"),
        F.countDistinct("o_totalprice").cast("long").alias("nd_price"),
        F.min("o_totalprice").alias("mn_price"),
        F.max("o_totalprice").alias("mx_price"),
        F.count("o_orderdate").cast("long").alias("nn_date"),
        F.countDistinct("o_orderdate").cast("long").alias("nd_date"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("mn_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("mx_date"),
    ).withColumns({c: fmt(c) for c in ("mn_price", "mx_price")})
    return agg.selectExpr(
        """stack(4,
           'o_orderkey',    n - nn_orderkey, nd_orderkey, mn_orderkey, mx_orderkey,
           'o_orderstatus', n - nn_status,   nd_status,   mn_status,   mx_status,
           'o_totalprice',  n - nn_price,    nd_price,    mn_price,    mx_price,
           'o_orderdate',   n - nn_date,     nd_date,     mn_date,     mx_date
        ) AS (col, n_null, n_distinct, min_repr, max_repr)""",
        "n",
    ).select("col", "n", "n_null", "n_distinct", "min_repr", "max_repr")


_DQ_RULES = [
    ("qty_in_range", "l_quantity >= 1 AND l_quantity <= 50"),
    ("discount_in_range", "l_discount >= 0.0 AND l_discount <= 0.10"),
    ("price_positive", "l_extendedprice > 0.0"),
    ("tax_cap_007", "l_tax <= 0.07"),
    ("returnflag_domain", "l_returnflag IN ('A', 'N', 'R')"),
    ("shipdate_present", "l_shipdate IS NOT NULL"),
]


def _dq_oracle_sql() -> str:
    selects = [
        f"""SELECT '{name}' AS rule,
               CAST(COUNT(*) AS BIGINT) AS n_checked,
               CAST(SUM(CASE WHEN {cond} THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_violations
        FROM lineitem"""
        for name, cond in _DQ_RULES
    ]
    return "\nUNION ALL\n".join(selects)


@register("dq_violations", _dq_oracle_sql())
def dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation/constraint checking (the Deequ/Great-Expectations
    shape): each rule is a boolean SQL predicate; the output is one row
    per rule with checked/violation counts. All rules evaluate in ONE
    scan — per-rule conditional sums inside a single aggregate — and the
    result is a constant-size frame regardless of input size, so the
    check runs as a cheap tail on any 100 TB load job (the quarantine
    split in sources/bronze is the row-level sibling of this table-level
    report)."""
    li = t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count("*").cast("long").alias("n_checked"),
        *[
            F.sum(F.when(F.expr(cond), 0).otherwise(1)).cast("long")
            .alias(f"v_{i}")
            for i, (_, cond) in enumerate(_DQ_RULES)
        ],
    )
    stack_args = ", ".join(
        f"'{name}', v_{i}" for i, (name, _) in enumerate(_DQ_RULES)
    )
    return agg.selectExpr(
        f"stack({len(_DQ_RULES)}, {stack_args}) AS (rule, n_violations)",
        "n_checked",
    ).select("rule", "n_checked", "n_violations")


# =========================================================================
# Z-order clustering — multi-dimensional locality for data skipping
# =========================================================================

def _zorder_oracle_sql() -> str:
    from .operators.layout import zorder_sql

    z = zorder_sql(["ua", "vb"], bits=10)
    return f"""
    WITH m AS (
        SELECT user_id % 1024 AS ua,
               abs(CAST(FLOOR(value) AS BIGINT)) % 1024 AS vb
        FROM events
    ),
    z AS (SELECT ua, vb, {z} AS zval FROM m)
    SELECT zval >> 14 AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(ua) AS min_u, MAX(ua) AS max_u,
           MIN(vb) AS min_v, MAX(vb) AS max_v
    FROM z GROUP BY 1
    """


@register("zorder_locality", _zorder_oracle_sql())
def zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two event dimensions, bucketed
    by the code's high bits, with per-bucket min/max of BOTH raw
    dimensions — the statistics a parquet reader uses for row-group
    pruning. A contiguous z-range bounds every interleaved dimension at
    once, which is exactly why Delta/Iceberg OPTIMIZE ZORDER exists; the
    oracle recomputes the identical shift/mask interleave in SQL, so a
    bit-order regression in zorder_value hash-fails. The clustering WRITE
    built on this key (operators/layout.write_zordered: one range
    repartition + per-partition sort) is exercised with real file-level
    min/max evidence in tests/test_layout.py."""
    from .operators.layout import zorder_value

    ev = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 1024).alias("ua"),
        (F.abs(F.floor("value").cast("long")) % 1024).alias("vb"),
    )
    z = ev.withColumn("zval", zorder_value(["ua", "vb"], bits=10))
    return (
        z.groupBy(F.shiftright("zval", 14).alias("z_bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("ua").alias("min_u"), F.max("ua").alias("max_u"),
            F.min("vb").alias("min_v"), F.max("vb").alias("max_v"),
        )
    )


# =========================================================================
# Entity resolution — multi-pass blocked fuzzy matching (edit distance)
# =========================================================================

@register(
    "fuzzy_customer_pairs",
    """
    WITH c AS (
        SELECT c_custkey, c_name,
               concat(substr(c_name, 10, 1), substr(c_name, 12, 1),
                      substr(c_name, 14, 1), substr(c_name, 16, 1),
                      substr(c_name, 18, 1)) AS blk1,
               concat(substr(c_name, 11, 1), substr(c_name, 13, 1),
                      substr(c_name, 15, 1), substr(c_name, 17, 1)) AS blk2,
               length(c_name) AS nlen
        FROM customer
    ),
    cand AS (
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               a.c_name AS name_a, b.c_name AS name_b
        FROM c a JOIN c b
          ON a.blk1 = b.blk1 AND a.nlen = b.nlen
         AND a.c_custkey < b.c_custkey
        UNION
        SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name
        FROM c a JOIN c b
          ON a.blk2 = b.blk2 AND a.nlen = b.nlen
         AND a.c_custkey < b.c_custkey
    )
    SELECT id_a, id_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS distance
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 1
    """,
)
def fuzzy_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked fuzzy matching: customer-name pairs
    within Levenshtein distance 1, found via MULTI-PASS BLOCKING — two
    hash-join passes on disjoint INTERLEAVED digit blocks (even vs odd
    character positions of the zero-padded number) plus a length key.
    Interleaving matters for discriminative power: contiguous blocks
    degenerate on dense small ids (the leading-digits block takes 2
    distinct values over 15k names at sf0.1 -> a 10k-name block ->
    50M candidate Levenshteins, measured as a multi-minute stall),
    while parity blocks mix high and low digits so both keys stay
    high-cardinality at any id density. Pigeonhole completeness for
    the equal-length case: one substitution cannot touch both disjoint
    blocks, so every distance<=1 pair shares at least one block key
    verbatim (length-changing edits are excluded by the length key and
    impossible between equal-format names). Within a pass, the
    Hamming<=1 prefilter on the other block is itself an EQUI-join on
    single-position-masked variant keys (see ``blocked``), so only
    near-hit pairs ever materialize; the levenshtein (UDF-free, JVM
    codegen on both engines) runs only on those — never all-pairs,
    never the raw block product. This is the standard Fellegi-Sunter
    blocking shape record-linkage systems run at warehouse scale;
    tests brute-verify completeness on the small SF."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name",
        F.concat(*[F.substring("c_name", p, 1) for p in (10, 12, 14, 16, 18)])
        .alias("blk1"),
        F.concat(*[F.substring("c_name", p, 1) for p in (11, 13, 15, 17)])
        .alias("blk2"),
        F.length("c_name").alias("nlen"),
    )

    def blocked(key: str, other_positions: tuple[int, ...]) -> DataFrame:
        # Hamming<=1 on the OTHER block as an EQUI-join (r12, guide §3):
        # two equal-length rows differ in at most one of the other
        # block's positions iff they share a single-position-masked
        # variant of it at the same masked index — the classic
        # deletion-neighborhood trick.  The r11 shape evaluated the
        # Hamming prefilter as a join residual, i.e. per CANDIDATE pair
        # (~2M substring compares per pass at sf0.1); here the variant
        # string joins as part of the hash key, so non-near-hit pairs
        # are never materialized at all — the candidate stream shrinks
        # from O(sum block^2) to the near-hit pairs themselves.  The
        # masked index _j is part of the key, so a literal '#' in the
        # data can never cross-match two different masked positions.
        variants = F.array(*[
            F.concat(*[(F.lit("#") if i == j else F.substring("c_name", p, 1))
                       for i, p in enumerate(other_positions)])
            for j in range(len(other_positions))
        ])
        a = c.select(F.col("c_custkey").alias("id_a"),
                     F.col("c_name").alias("name_a"),
                     F.col(key).alias("_k"), F.col("nlen").alias("_la"),
                     F.posexplode(variants).alias("_j", "_v"))
        b = c.select(F.col("c_custkey").alias("id_b"),
                     F.col("c_name").alias("name_b"),
                     F.col(key).alias("_kb"), F.col("nlen").alias("_lb"),
                     F.posexplode(variants).alias("_jb", "_vb"))
        return (
            a.join(b, (F.col("_k") == F.col("_kb"))
                   & (F.col("_la") == F.col("_lb"))
                   & (F.col("_j") == F.col("_jb"))
                   & (F.col("_v") == F.col("_vb"))
                   & (F.col("id_a") < F.col("id_b")))
            .select("id_a", "id_b", "name_a", "name_b")
        )

    cand = (blocked("blk1", (11, 13, 15, 17))
            .unionByName(blocked("blk2", (10, 12, 14, 16, 18)))
            .distinct())
    # threshold form: the DP early-exits once distance must exceed 1
    # (returns -1 above the bound) — ~2x cheaper on the candidate set
    dist = F.levenshtein("name_a", "name_b", 1)
    return (
        cand.filter((dist >= 0) & (dist <= 1))
        .select("id_a", "id_b", dist.cast("long").alias("distance"))
    )


# =========================================================================
# Exact-arithmetic statistics — Pearson correlation, chi-square test
# =========================================================================

# Shared exact-moment machinery for the statistics gates: x = centi-value,
# y = epoch seconds centered on the global minimum; all five moment sums
# are exact 128-bit integers (DECIMAL(38) / HUGEINT). One definition feeds
# the correlation AND regression gates on both engines.
_MOMENT_CTES_SQL = """base AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS x,
               CAST(floor(epoch(ts)) AS BIGINT)
                 - (SELECT CAST(min(floor(epoch(ts))) AS BIGINT) FROM events) AS y
        FROM events
    ),
    sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx,
               SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM base GROUP BY event_type
    )"""


def _moment_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exact moment sums (_n, _sx, _sy, _sxy, _sxx, _syy
    as DECIMAL(38,0)) — the Spark twin of _MOMENT_CTES_SQL."""
    ev = t(spark, sf_dir, "events")
    min_epoch = ev.agg(F.min(F.unix_timestamp("ts")).cast("long").alias("_m0"))
    base = ev.crossJoin(F.broadcast(min_epoch)).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
        (F.unix_timestamp("ts").cast("long") - F.col("_m0")).alias("y"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")
    return base.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("_n"),
        F.sum(d("x")).cast("decimal(38,0)").alias("_sx"),
        F.sum(d("y")).cast("decimal(38,0)").alias("_sy"),
        F.sum(d("x") * F.col("y")).cast("decimal(38,0)").alias("_sxy"),
        F.sum(d("x") * F.col("x")).cast("decimal(38,0)").alias("_sxx"),
        F.sum(d("y") * F.col("y")).cast("decimal(38,0)").alias("_syy"),
    )


@register(
    "value_time_correlation",
    f"""
    WITH {_MOMENT_CTES_SQL}
    SELECT event_type, CAST(n AS BIGINT) AS n,
           printf('%.6e',
             CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             / sqrt(CAST(n * syy - sy * sy AS DOUBLE))
           ) AS pearson_r
    FROM sums
    """,
)
def value_time_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of event value against time, per event type —
    computed from EXACT widened-integer moment sums (Σx, Σy, Σxy, Σx²,
    Σy² as DECIMAL(38)/HUGEINT — value micro-quantized, time centered on
    the global min epoch so products stay inside 128 bits), finished
    with one fixed-shape double expression. Engine built-ins (F.corr /
    DuckDB corr) use different accumulation orders and are NOT
    hash-safe; the moments route is the order-free way to exact
    distributed statistics — the same pattern as the money-sum rule.
    One shuffle on the grouping key; moments combine map-side.

    The exact sums cross the engine boundary as STRINGS (both engines
    print integers canonically; DOUBLE would round 128-bit values
    differently than the hash normalizer)."""
    sums = _moment_sums(spark, sf_dir)
    # the three cancellations run in EXACT decimal(38) — n*sxx and sx*sx
    # agree to many leading digits, and double subtraction there loses
    # 3-4 significant digits of the result (measured vs numpy); only the
    # exactly-cancelled differences convert to double
    num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    varx = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    vary = (F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    return sums.select(
        "event_type",
        F.col("_n").cast("long").alias("n"),
        (num / F.sqrt(varx) / F.sqrt(vary)).alias("pearson_r"),
    ).withColumn("pearson_r", fmt("pearson_r"))


@register(
    "lang_source_chi2",
    """
    WITH obs AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, SUM(o) AS row_tot FROM obs GROUP BY 1),
    ct AS (SELECT source, SUM(o) AS col_tot FROM obs GROUP BY 1),
    n AS (SELECT SUM(o) AS total FROM obs),
    cells AS (
        SELECT obs.lang, obs.source, obs.o,
               CAST(rt.row_tot AS DOUBLE) * ct.col_tot / n.total AS e
        FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n
    )
    SELECT CAST(SUM(CAST(round(1e6 * (o - e) * (o - e) / e) AS BIGINT))
                AS BIGINT) AS chi2_micro,
           CAST((SELECT COUNT(*) FROM rt) - 1 AS BIGINT)
             * CAST((SELECT COUNT(*) FROM ct) - 1 AS BIGINT) AS dof,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM cells
    """,
)
def lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for the documents lang x source
    contingency table. Observed counts are integers; each cell's
    (o-e)^2/e term — a fixed-shape double expression over exact inputs —
    micro-quantizes BEFORE the cross-cell sum, so the statistic is an
    order-free integer total (only present cells contribute, identically
    on both engines). Everything after the one groupBy is
    dimension-cardinality (5x20) — broadcast territory at any corpus
    size."""
    docs = t(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("o")
    )
    rt = obs.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("col_tot"))
    n = obs.agg(F.sum("o").alias("total"))
    cells = (
        obs.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "e",
            F.col("row_tot").cast("double") * F.col("col_tot") / F.col("total"),
        )
    )
    term = F.round(
        F.lit(1e6) * (F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
        / F.col("e")
    ).cast("long")
    # dof stays IN-PLAN (1-row aggregates cross-joined in) — registry
    # builders never run eager jobs at construction time
    dof = (
        rt.agg(F.count("*").alias("_nr"))
        .crossJoin(ct.agg(F.count("*").alias("_nc")))
        .select(((F.col("_nr") - 1) * (F.col("_nc") - 1))
                .cast("long").alias("dof"))
    )
    return (
        cells.agg(
            F.sum(term).cast("long").alias("chi2_micro"),
            F.count("*").cast("long").alias("n_cells"),
        )
        .crossJoin(F.broadcast(dof))
        .select("chi2_micro", "dof", "n_cells")
    )


@register(
    "ols_value_trend",
    f"""
    WITH {_MOMENT_CTES_SQL}
    SELECT event_type, CAST(n AS BIGINT) AS n,
           printf('%.6e', CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * syy - sy * sy AS DOUBLE)) AS slope_centi_per_s,
           printf('%.6e',
             (CAST(sx AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * syy - sy * sy AS DOUBLE)) * CAST(sy AS DOUBLE))
             / CAST(n AS DOUBLE)) AS intercept_centi,
           printf('%.6e',
             CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE)
             / CAST(n * syy - sy * sy AS DOUBLE)) AS r_squared
    FROM sums
    """,
)
def ols_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares trend of event value over time per event
    type (x = centi-value regressed on y = centered epoch seconds):
    slope, intercept, and R² from the SAME exact 128-bit moment sums as
    value_time_correlation, with every cancellation performed in exact
    integer arithmetic before the only double conversions. This is how
    distributed regression stays hash-exact: the normal equations need
    only order-free sums, never a second pass or an iterative solver.
    One shuffle on the grouping key."""
    sums = _moment_sums(spark, sf_dir)
    num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    vary = (F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    varx = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    slope = num / vary
    return sums.select(
        "event_type",
        F.col("_n").cast("long").alias("n"),
        slope.alias("slope_centi_per_s"),
        ((F.col("_sx").cast("double") - slope * F.col("_sy").cast("double"))
         / F.col("_n").cast("double")).alias("intercept_centi"),
        (num * num / varx / vary).alias("r_squared"),
    ).withColumns({c: fmt(c) for c in ("slope_centi_per_s", "intercept_centi", "r_squared")})


# =========================================================================
# Snapshot diff — keyed table reconciliation (CDC/CDF shape)
# =========================================================================

@register(
    "orders_snapshot_diff",
    """
    WITH v1 AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 10 <> 0
    ),
    v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 11 <> 0
    ),
    h1 AS (
        SELECT o_orderkey,
               md5(concat(o_orderstatus, '|', printf('%.6e', o_totalprice)))
                   AS row_sig
        FROM v1
    ),
    h2 AS (
        SELECT o_orderkey,
               md5(concat(o_orderstatus, '|', printf('%.6e', o_totalprice)))
                   AS row_sig
        FROM v2
    ),
    d AS (
        SELECT COALESCE(h1.o_orderkey, h2.o_orderkey) AS o_orderkey,
               CASE WHEN h1.o_orderkey IS NULL THEN 'added'
                    WHEN h2.o_orderkey IS NULL THEN 'removed'
                    WHEN h1.row_sig <> h2.row_sig THEN 'changed'
                    ELSE 'unchanged' END AS change_type
        FROM h1 FULL OUTER JOIN h2 ON h1.o_orderkey = h2.o_orderkey
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM d GROUP BY change_type
    """,
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot reconciliation — the diff a CDC/change-data-feed
    consumer computes between two table versions: added (key only in
    v2), removed (only in v1), changed (both, row signature differs),
    unchanged. The two versions are derived deterministically from the
    orders table (v1 drops keys %10==0; v2 drops %11==0 and mutates
    %7==0), so the classification is fully oracle-checkable. One full
    outer hash join on the key; row signatures are md5 over canonical
    column renderings (money rendered %.6e on both engines), computed
    scan-side so the join carries (key, sig) instead of whole rows —
    the shape that reconciles two 100 TB snapshots with one shuffle."""
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = base.filter(F.col("o_orderkey") % 10 != 0)
    mut = F.col("o_orderkey") % 7 == 0
    v2 = base.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        F.when(mut, F.lit("X")).otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(mut, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )

    def sig(df: DataFrame, key_alias: str) -> DataFrame:
        return df.select(
            F.col("o_orderkey").alias(key_alias),
            # fmt (printf half-even), NOT a bare format_string: Java's
            # HALF_UP diverges from DuckDB printf exactly on the decimal
            # ties 2-decimal money hits constantly (registry float policy)
            F.md5(
                F.concat(F.col("o_orderstatus"), F.lit("|"), fmt("o_totalprice"))
            ).alias(f"_sig_{key_alias}"),
        )

    h1, h2 = sig(v1, "k1"), sig(v2, "k2")
    d = h1.join(h2, h1.k1 == h2.k2, "full_outer").select(
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("_sig_k1") != F.col("_sig_k2"), "changed")
        .otherwise("unchanged")
        .alias("change_type")
    )
    return d.groupBy("change_type").agg(F.count("*").cast("long").alias("n"))
