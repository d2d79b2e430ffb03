"""Driver-contract entries for the advanced patterns: stream-stream
interval join (batch twin), lag/lead sequence analytics, the
secondary-sort mapInPandas scan, and deterministic sampling.

Float-parity notes: carried values (``purchase_value``) are untouched
parquet doubles (class 1, exact); running max is an order-insensitive
per-key extremum of parquet doubles (exact); all deltas/ranks are ints
and timestamps are emitted as formatted strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register, t

_TS = "%Y-%m-%d %H:%M:%S"
_TSJ = "yyyy-MM-dd HH:mm:ss"


@register(
    "view_purchase_attribution",
    f"""
    SELECT p.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           strftime(v.ts, '{_TS}') AS view_ts,
           strftime(p.ts, '{_TS}') AS purchase_ts,
           p.value AS purchase_value,
           CAST(floor(epoch(p.ts)) AS BIGINT)
               - CAST(floor(epoch(v.ts)) AS BIGINT) AS delta_s
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL '30 minutes'
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def view_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream attribution join
    (:mod:`.streaming.stream_join`): every purchase within 30 min after a
    view by the same user.  Same expression runs watermarked on streams;
    test_stream_join asserts row-for-row streaming/batch parity."""
    from .streaming.stream_join import view_purchase_join

    ev = t(spark, sf_dir, "events")
    out = view_purchase_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        max_delta_seconds=1800,
    )
    return out.select(
        "user_id", "view_id", "purchase_id",
        F.date_format("view_ts", _TSJ).alias("view_ts"),
        F.date_format("purchase_ts", _TSJ).alias("purchase_ts"),
        "purchase_value", "delta_s",
    )


@register(
    "user_event_gaps",
    f"""
    SELECT user_id, event_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq,
           CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) AS gap_s,
           strftime(lead(ts) OVER w, '{_TS}') AS next_ts,
           event_type,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/row_number sequence analytics: per-user inter-event gap
    and next-event lookahead (funnel/transition analysis shape).  Window
    partitioned by user — parallel by key, no global sort."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id",
        F.row_number().over(w).cast("long").alias("seq"),
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
        .alias("gap_s"),
        F.date_format(F.lead("ts").over(w), _TSJ).alias("next_ts"),
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "secondary_sort_deltas",
    f"""
    SELECT user_id, event_id,
           strftime(ts, '{_TS}') AS ts_str,
           CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) AS delta_s,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq,
           MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running_max
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def secondary_sort_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The secondary-sort mapInPandas scan
    (:func:`.operators.secondary_sort.ordered_user_features`) — imperative
    per-key ordered iteration whose output is proven equal to the SQL
    window twin (the oracle here IS that twin)."""
    from .operators.secondary_sort import ordered_user_features

    ev = t(spark, sf_dir, "events")
    out = ordered_user_features(ev)
    return out.select(
        "user_id", "event_id",
        F.date_format("ts", _TSJ).alias("ts_str"),
        "delta_s", "seq", "running_max",
    )


@register(
    "bernoulli_hash_sample",
    """
    SELECT event_id, user_id, event_type
    FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
)
def bernoulli_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TABLESAMPLE twin: ~12.5% Bernoulli sample keyed on
    md5(event_id) — reproducible across engines/runs/partitionings, unlike
    TABLESAMPLE/rand().  The predicate pushes to the scan like any filter;
    at 100 TB this is the sampling primitive that keeps lineage stable
    (same ids selected on every backfill)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(F.substring(F.md5(F.col("event_id").cast("string")), 1, 1).isin("0", "1"))
        .select("event_id", "user_id", "event_type")
    )


@register(
    "reservoir_sample_global",
    """
    WITH r AS (
        SELECT event_id, user_id, event_type,
               ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ) AS rk
        FROM events
    )
    SELECT event_id, user_id, event_type, CAST(rk AS BIGINT) AS sample_rank
    FROM r WHERE rk <= 50
    """,
)
def reservoir_sample_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-without-replacement via hash-order top-k — the
    deterministic equivalent of reservoir sampling.  Executed as a
    per-partition top-k (TakeOrderedAndProject) then a k-row merge: no
    global sort, no single-task shuffle; only k rows ever cross the wire
    per partition."""
    ev = t(spark, sf_dir, "events")
    k = 50
    ranked = (
        ev.select(
            "event_id", "user_id", "event_type",
            F.md5(F.col("event_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "event_id")
        .limit(k)
    )
    from pyspark.sql import Window

    w = Window.orderBy("_h", "event_id")
    return (
        ranked.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .select("event_id", "user_id", "event_type", "sample_rank")
    )


# =========================================================================
# PageRank over the nation trade graph — iterative DataFrame loop vs an
# unrolled fixed-iteration CTE oracle (operators/graph.py)
# =========================================================================

_PAGERANK_SQL = """
    WITH edges AS (
        SELECT DISTINCT c.c_nationkey AS s, su.s_nationkey AS d
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier su ON su.s_suppkey = l.l_suppkey
    ),
    outdeg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY 1),
    nodes AS (SELECT s AS n FROM edges UNION SELECT d FROM edges),
    pr0 AS (SELECT n, 1.0 AS score FROM nodes),
    pr1 AS (
        SELECT n.n,
               0.15 + 0.85 * COALESCE(SUM(p.score / od.deg), 0.0) AS score
        FROM nodes n
        LEFT JOIN edges e ON e.d = n.n
        LEFT JOIN pr0 p ON p.n = e.s
        LEFT JOIN outdeg od ON od.s = e.s
        GROUP BY n.n
    ),
    pr2 AS (
        SELECT n.n,
               0.15 + 0.85 * COALESCE(SUM(p.score / od.deg), 0.0) AS score
        FROM nodes n
        LEFT JOIN edges e ON e.d = n.n
        LEFT JOIN pr1 p ON p.n = e.s
        LEFT JOIN outdeg od ON od.s = e.s
        GROUP BY n.n
    ),
    pr3 AS (
        SELECT n.n,
               0.15 + 0.85 * COALESCE(SUM(p.score / od.deg), 0.0) AS score
        FROM nodes n
        LEFT JOIN edges e ON e.d = n.n
        LEFT JOIN pr2 p ON p.n = e.s
        LEFT JOIN outdeg od ON od.s = e.s
        GROUP BY n.n
    ),
    pr4 AS (
        SELECT n.n,
               0.15 + 0.85 * COALESCE(SUM(p.score / od.deg), 0.0) AS score
        FROM nodes n
        LEFT JOIN edges e ON e.d = n.n
        LEFT JOIN pr3 p ON p.n = e.s
        LEFT JOIN outdeg od ON od.s = e.s
        GROUP BY n.n
    ),
    pr5 AS (
        SELECT n.n,
               0.15 + 0.85 * COALESCE(SUM(p.score / od.deg), 0.0) AS score
        FROM nodes n
        LEFT JOIN edges e ON e.d = n.n
        LEFT JOIN pr4 p ON p.n = e.s
        LEFT JOIN outdeg od ON od.s = e.s
        GROUP BY n.n
    )
    SELECT CAST(n AS BIGINT) AS nation_key,
           printf('%.6e', score) AS pagerank
    FROM pr5
    """


@register("pagerank_nation_graph", _PAGERANK_SQL)
def pagerank_nation_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (5 iterations, d=0.85) over the customer-nation ->
    supplier-nation trade graph distilled from orders x lineitem. The
    Spark side is the iterative one-shuffle-per-round DataFrame loop
    (operators/graph.pagerank — the shape that scales to billion-edge
    graphs); the oracle unrolls the same recurrence as five chained CTEs,
    so the distributed loop is proven against the declarative fixpoint,
    same strategy as dedup_clusters. Scores are multi-term double sums ->
    %.6e emission (float-parity class 2)."""
    from .operators.graph import pagerank
    from .registry import fmt

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    su = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .join(su, l["l_suppkey"] == su["s_suppkey"])
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
    )
    out = pagerank(edges, iterations=5, damping=0.85)
    return out.select(
        F.col("node").cast("long").alias("nation_key"),
        F.col("score").alias("pagerank"),
    ).withColumn("pagerank", fmt("pagerank"))


__all__ = ["QUERIES", "ORACLES"]



_BFS_SQL = """
    WITH RECURSIVE edges AS (
        SELECT DISTINCT c.c_nationkey AS s, su.s_nationkey AS d
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier su ON su.s_suppkey = l.l_suppkey
    ),
    walk(n, hops) AS (
        SELECT 0, 0
        UNION
        SELECT e.d, w.hops + 1
        FROM walk w JOIN edges e ON e.s = w.n
        WHERE w.hops < 30
    )
    SELECT CAST(n AS BIGINT) AS node, CAST(MIN(hops) AS BIGINT) AS dist
    FROM walk GROUP BY n
"""


@register("bfs_trade_distance", _BFS_SQL)
def bfs_trade_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from nation 0 over the directed customer-nation ->
    supplier-nation trade graph — the frontier-expansion classic beside
    connected components and PageRank.  Spark runs the iterative
    one-join-per-round loop (operators/graph.bfs_levels: settled-set
    anti-join, localCheckpoint-truncated lineage); the oracle is the
    declarative recursive-CTE fixpoint with MIN(hops) collapsing the
    (node, hops) walk set — the dedup_clusters proof strategy applied to
    shortest paths.  Integer-only output, hash-exact."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    su = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .join(su, l["l_suppkey"] == su["s_suppkey"])
        .select(F.col("c_nationkey").alias("src"),
                F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    from .operators.graph import bfs_levels

    sources = spark.range(1).select(F.lit(0).cast("long").alias("node"))
    return bfs_levels(edges, sources)


_EVOLVED_SQL = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN doc_id % 2 = 1 AND lang IS NOT NULL
                      THEN 1 END) AS BIGINT) AS n_lang,
           CAST(COUNT(CASE WHEN doc_id % 2 = 0 AND source IS NOT NULL
                      THEN 1 END) AS BIGINT) AS n_source,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN COALESCE(n_chars, 0)
                    ELSE 0 END) AS BIGINT) AS sum_chars,
           CAST(COUNT(DISTINCT CASE WHEN doc_id % 2 = 1 THEN lang END)
               AS BIGINT) AS n_langs
    FROM documents
"""


_EVOLVED_DIRS: set[str] = set()


@register("schema_evolution_read", _EVOLVED_SQL)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read, executed for real: the corpus is written as
    two parquet GENERATIONS with different physical schemas (gen 0:
    doc_id/text/source; gen 1: doc_id/text/lang/n_chars — the
    add-a-column / drop-a-column evolution every long-lived lake table
    accumulates), then read back through ``mergeSchema`` so absent
    columns surface as NULLs.  The aggregate profiles exactly the
    null-fill behavior (per-column non-null counts, sums over the
    evolved column), and the oracle recomputes it arithmetically from
    the unsplit table — a wrong merge (column misalignment, dropped
    generation, type clash) breaks the hash.  At 100 TB this is the S8
    backfill-scan reality: bronze written over months never has ONE
    schema, and the reader, not the writer, reconciles."""
    import atexit
    import os
    import re as _re
    import shutil
    import tempfile

    docs = t(spark, sf_dir, "documents")
    # path keyed on (sf, pid): unique per process so two concurrent runs
    # cannot race on overwrite, REUSED within a process so repeated gate
    # calls do not leak one parquet copy each, and removed at process
    # exit (a bare mkdtemp per call left N orphan copies in /tmp)
    slug = _re.sub(r"\W", "_", sf_dir)
    path = os.path.join(tempfile.gettempdir(),
                        f"spark_graft_evolved_{slug}_{os.getpid()}")
    if path not in _EVOLVED_DIRS:
        _EVOLVED_DIRS.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    (docs.filter(F.col("doc_id") % 2 == 0)
     .select("doc_id", "text", "source")
     .write.mode("overwrite").parquet(f"{path}/gen0"))
    (docs.filter(F.col("doc_id") % 2 == 1)
     .select("doc_id", "text", "lang", "n_chars")
     .write.mode("overwrite").parquet(f"{path}/gen1"))
    merged = (spark.read.option("mergeSchema", "true")
              .parquet(f"{path}/gen0", f"{path}/gen1"))
    return merged.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count("lang").cast("long").alias("n_lang"),
        F.count("source").cast("long").alias("n_source"),
        F.sum(F.coalesce("n_chars", F.lit(0))).cast("long")
        .alias("sum_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )


_RECIP_SQL = """
    WITH edges AS MATERIALIZED (
        SELECT s, d, vol_cents FROM (
            SELECT c.c_nationkey AS s, su.s_nationkey AS d,
                   SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                       AS vol_cents
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier su ON su.s_suppkey = l.l_suppkey
            GROUP BY 1, 2
        ) WHERE s <> d
    )
    SELECT a.s AS nation_a, a.d AS nation_b,
           CAST(a.vol_cents AS BIGINT) AS vol_ab,
           CAST(b.vol_cents AS BIGINT) AS vol_ba,
           CAST(CASE WHEN least(a.vol_cents, b.vol_cents) * 100
                      >= greatest(a.vol_cents, b.vol_cents) * 80
                THEN 1 ELSE 0 END AS BIGINT) AS symmetric_flag
    FROM edges a
    JOIN edges b ON b.s = a.d AND b.d = a.s AND a.s < b.s
"""


@register("reciprocal_trade_pairs", _RECIP_SQL)
def reciprocal_trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wash-trade-style circular-flow detector: nation pairs trading in
    BOTH directions, flagged when the two directed volumes are within
    20% of each other (suspicious symmetry — the aggregate-level
    heuristic used to surface reciprocal/wash flows in DeFi transfer
    graphs, phrased over the customer-nation -> supplier-nation trade
    edges).  Volumes are exact long-cents sums (the r4 money rule), the
    symmetry test is pure integer arithmetic (min*100 >= max*80), and
    the reciprocal join is ONE self-equi-join of the aggregated edge
    list on the reversed key — edge-list cardinality, never raw orders.
    At 100 TB the same two-phase shape holds: aggregate the transfer
    graph first (map-side combinable), detect cycles on the reduced
    edges."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    l = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice")
    su = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    from .registry import cents

    edges = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .join(su, l["l_suppkey"] == su["s_suppkey"])
        .groupBy(F.col("c_nationkey").alias("s"),
                 F.col("s_nationkey").alias("d"))
        .agg(F.sum(cents("l_extendedprice")).alias("vol_cents"))
        # the s<>d predicate goes AFTER aggregation on BOTH engines:
        # a row-level inequality between the two dimension tables lures
        # DuckDB's join-order optimizer into a near-cross customer x
        # supplier join (measured 17 GB spill at sf1); on 625 aggregated
        # pairs it is free and semantically identical (diagonal groups
        # are simply dropped)
        .filter(F.col("s") != F.col("d"))
    )
    a = edges.select(F.col("s").alias("nation_a"),
                     F.col("d").alias("nation_b"),
                     F.col("vol_cents").alias("vol_ab"))
    b = edges.select(F.col("d").alias("nation_a"),
                     F.col("s").alias("nation_b"),
                     F.col("vol_cents").alias("vol_ba"))
    sym = (F.least("vol_ab", "vol_ba") * 100
           >= F.greatest("vol_ab", "vol_ba") * 80)
    return (
        a.join(b, ["nation_a", "nation_b"])
        .filter(F.col("nation_a") < F.col("nation_b"))
        .select("nation_a", "nation_b", "vol_ab", "vol_ba",
                sym.cast("long").alias("symmetric_flag"))
    )
