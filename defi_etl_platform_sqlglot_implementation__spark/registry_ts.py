"""Driver-contract entries for the time-series join / sessionization /
sampling operators (:mod:`operators.joins`) — scale extensions beyond the
reference's equi-join surface (SURVEY.md §2.3 notes the reference has no
as-of/range joins; a 100 TB event pipeline needs them).

Float-parity notes: as-of carried values are single untouched parquet
doubles (exact, class 1); session/window value sums cross rows (class 2,
``%.6e``); everything else is ints and formatted timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import fmt, register, t

_TS = "%Y-%m-%d %H:%M:%S"


@register(
    "asof_price_join",
    f"""
    WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, ts, MAX(value) AS price
               FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
    SELECT l.event_id, l.user_id,
           strftime(l.ts, '{_TS}') AS ts_str,
           r.price AS asof_price
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_price_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach to every click the user's most recent at-or-before purchase
    value — the canonical as-of alignment (trade→latest-quote shape)."""
    from .operators.joins import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("price"))
    )
    out = asof_join(clicks, purchases, key="user_id", left_ts="ts",
                    right_ts="ts", value_cols=["price"])
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.col("asof_price").alias("asof_price"),
    )


@register(
    "asof_price_join_forward",
    f"""
    WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, ts, MAX(value) AS price
               FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
    SELECT l.event_id, l.user_id,
           strftime(l.ts, '{_TS}') AS ts_str,
           r.price AS asof_price
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
    """,
)
def asof_price_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: attach each click's NEXT at-or-after purchase value
    (fill-forward's mirror — next-quote alignment). Same union-merge
    single-shuffle shape as backward, with a leading first_value frame."""
    from .operators.joins import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("price"))
    )
    out = asof_join(clicks, purchases, key="user_id", left_ts="ts",
                    right_ts="ts", value_cols=["price"], direction="forward")
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.col("asof_price").alias("asof_price"),
    )


@register(
    "session_stats",
    f"""
    WITH s AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR CAST(floor(epoch(ts)) AS BIGINT)
                            - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s2 AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_seq
        FROM s
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           strftime(MIN(ts), '{_TS}') AS session_start,
           strftime(MAX(ts), '{_TS}') AS session_end,
           COUNT(*) AS n_events,
           printf('%.6e', SUM(value)) AS session_value,
           CAST(floor(epoch(MAX(ts))) AS BIGINT)
               - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS duration_s
    FROM s2 GROUP BY 1, 2
    """,
)
def session_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) + per-session rollup."""
    from .operators.joins import session_stats

    ev = t(spark, sf_dir, "events")
    out = session_stats(ev, key="user_id", ts_col="ts", gap_seconds=1800,
                        order_tiebreak="event_id", value_col="value")
    return out.select(
        "user_id", "session_seq",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        fmt("session_value"),
        "duration_s",
    )


@register(
    "sliding_window_range_join",
    f"""
    WITH iv AS (
        SELECT gs AS ws, gs + INTERVAL '2 hours' AS we
        FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                             TIMESTAMP '2024-01-07 23:00:00',
                             INTERVAL '1 hour') t(gs)
    ),
    e AS (SELECT ts, value FROM events WHERE event_type = 'purchase')
    SELECT strftime(iv.ws, '{_TS}') AS window_start,
           COUNT(*) AS n_events,
           printf('%.6e', SUM(e.value)) AS total_value
    FROM iv JOIN e ON e.ts >= iv.ws AND e.ts < iv.we
    GROUP BY iv.ws
    """,
)
def sliding_window_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 2h-every-1h windows over purchases — a true interval
    range join, executed as broadcast bucket-blocking + exact filter."""
    from .operators.joins import range_join_buckets

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("ts", "value")
    iv = spark.sql(
        "SELECT ws, ws + interval 2 hours AS we FROM ("
        "SELECT explode(sequence(timestamp'2024-01-01 00:00:00', "
        "timestamp'2024-01-07 23:00:00', interval 1 hour)) AS ws)"
    )
    joined = range_join_buckets(
        purchases, iv, fact_ts="ts", start_col="ws", end_col="we",
        bucket=F.date_trunc("hour", F.col("ts")),
        interval_buckets=F.expr("sequence(ws, we - interval 1 hour, interval 1 hour)"),
    )
    return joined.groupBy("ws").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
    ).select(
        F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_events", fmt("total_value"),
    )


@register(
    "stratified_sample",
    """
    WITH r AS (
        SELECT event_type, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ) AS rk
        FROM events
    )
    SELECT event_type, event_id, CAST(rk AS BIGINT) AS sample_rank
    FROM r WHERE rk <= 20
    """,
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-ordered 20-per-type sample (training-data
    subsampling with cross-engine reproducibility)."""
    from .operators.joins import stratified_sample

    ev = t(spark, sf_dir, "events")
    out = stratified_sample(ev.select("event_type", "event_id"),
                            stratum="event_type", n_per_stratum=20,
                            id_col="event_id")
    return out.select("event_type", "event_id", "sample_rank")


# =========================================================================
# TWAP — time-weighted average value per user (DeFi's core price metric)
# =========================================================================

@register(
    "twap_per_user",
    """
    WITH seq AS (
        SELECT user_id, ts, value,
               LEAD(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_ts
        FROM events
    ),
    w AS (
        SELECT user_id,
               CAST(date_diff('second', ts, next_ts) AS BIGINT) AS dur,
               CAST(round(value * 1e6) AS BIGINT) AS value_micro
        FROM seq WHERE next_ts IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur) AS BIGINT) AS total_dur_s,
           printf('%.6e', CAST(SUM(value_micro * dur) AS DOUBLE)
                          / CAST(SUM(dur) AS DOUBLE) / 1e6) AS twap
    FROM w
    WHERE dur > 0
    GROUP BY user_id
    """,
)
def twap_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user — the TWAP aggregation every
    DeFi pricing/oracle pipeline runs (a value observed for longer weighs
    more; plain AVG over irregular ticks is manipulable by burst
    activity). Each observation is weighted by its holding duration
    (seconds until the user's next event, LEAD over a per-user sort;
    the open-ended last observation is excluded).

    Scale shape: one shuffle on user_id for the LEAD window, then a
    partial-aggregable grouped sum — the same cost as any per-key
    window. Hourly/daily TWAP buckets add date_trunc to the grouping
    key, nothing else changes.

    Parity: durations are integer seconds; values micro-quantize BEFORE
    the cross-row weighted sum (round(v*1e6) -> BIGINT), so numerator
    and denominator are order-free integer sums and the final division
    is one deterministic double op (the registry money rule)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select("user_id", "ts", "value", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("next_ts", F.lead("ts").over(w)).filter(
        F.col("next_ts").isNotNull()
    )
    dur = (F.unix_timestamp("next_ts") - F.unix_timestamp("ts")).alias("dur")
    wd = seq.select(
        "user_id", dur,
        F.round(F.col("value") * 1e6).cast("long").alias("value_micro"),
    ).filter(F.col("dur") > 0)
    return wd.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.sum("dur").cast("long").alias("total_dur_s"),
        (F.sum(F.col("value_micro") * F.col("dur")).cast("double")
         / F.sum("dur").cast("double") / F.lit(1e6)).alias("twap"),
    ).withColumn("twap", fmt("twap"))


# =========================================================================
# Sequence analytics — first-touch funnel, event-type transition matrix
# =========================================================================

@register(
    "funnel_view_click_purchase",
    """
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewed,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_clicked_after,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchased_after,
           CAST((SELECT COUNT(*) FROM p JOIN v USING (user_id)
                 WHERE t3 <= t1 + INTERVAL 7 DAY) AS BIGINT)
               AS n_completed_7d
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch conversion funnel: users whose earliest view is
    followed by a click, then a purchase, each strictly later than the
    previous step's first touch, with a 7-day completion window — the
    product-analytics staple (Amplitude/GA funnels). Each step is a
    grouped MIN plus an equi-join on user_id with a time residual; three
    user-keyed shuffles total and every intermediate is
    user-cardinality, never event-cardinality."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1"))
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    done = p.join(v, "user_id").filter(
        F.col("t3") <= F.col("t1") + F.expr("INTERVAL 7 DAYS")
    )
    return (
        v.agg(F.count("*").cast("long").alias("n_viewed"))
        .crossJoin(c.agg(F.count("*").cast("long").alias("n_clicked_after")))
        .crossJoin(p.agg(F.count("*").cast("long").alias("n_purchased_after")))
        .crossJoin(done.agg(F.count("*").cast("long").alias("n_completed_7d")))
    )


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type AS cur,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    pairs AS (
        SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    tot AS (SELECT cur, SUM(n) AS row_tot FROM pairs GROUP BY cur)
    SELECT p.cur, p.nxt, p.n,
           CAST(round(1e6 * p.n / t.row_tot) AS BIGINT) AS prob_micro
    FROM pairs p JOIN tot t USING (cur)
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next | current) estimated from LEAD pairs — the
    behavioral-model building block (next-action prediction, anomaly
    scoring). One shuffle on user_id for the window, one on the
    5x5-bounded pair key; probabilities micro-quantize from exact
    integer counts (one division each — class-1 parity)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pairs = seq.groupBy("cur", "nxt").agg(F.count("*").cast("long").alias("n"))
    tot = pairs.groupBy("cur").agg(F.sum("n").alias("row_tot"))
    return pairs.join(F.broadcast(tot), "cur").select(
        "cur", "nxt", "n",
        F.round(F.lit(1e6) * F.col("n") / F.col("row_tot")).cast("long")
        .alias("prob_micro"),
    )


# =========================================================================
# LOCF gap filling — hourly spine with last-observation-carried-forward
# =========================================================================

@register(
    "hourly_locf_fill",
    """
    WITH bounds AS (
        SELECT user_id,
               date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM events GROUP BY user_id
    ),
    spine AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    ),
    hourly AS (
        SELECT user_id, hour, val FROM (
            SELECT user_id, date_trunc('hour', ts) AS hour, value AS val,
                   ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    )
    SELECT s.user_id,
           strftime(s.hour, '%Y-%m-%d %H:%M:%S') AS hour_bucket,
           (h.val IS NOT NULL) AS observed,
           last_value(h.val IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
    FROM spine s LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hour = s.hour
    """,
)
def hourly_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling on a per-user hourly spine with last-observation-
    carried-forward — the standard time-series imputation before
    resampling/joins (pandas ffill, InfluxDB FILL(previous)). Each
    user's spine spans their own [first, last] hour (sequence + explode,
    row-local per user); the hour's representative is its LAST event
    (row_number pick, deterministic tie-break); the fill is one
    IGNORE-NULLS last_value window per user partition.

    Scale: the spine is user-cardinality x their active span (bounded,
    never a global calendar cross-join); the fill window shuffles once
    on user_id. The carried value is a single event's raw double —
    per-row exact (class 1), no aggregation drift."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select("user_id", "ts", "value", "event_id")
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    w_pick = Window.partitionBy("user_id", "hour_t").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    hourly = (
        ev.withColumn("hour_t", F.date_trunc("hour", "ts"))
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("hour_t").alias("hour"),
                F.col("value").alias("val"))
    )
    w_fill = (
        Window.partitionBy("user_id").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
            F.col("val").isNotNull().alias("observed"),
            F.last("val", ignorenulls=True).over(w_fill).alias("value_filled"),
        )
    )


@register(
    "user_share_of_type_value",
    """
    WITH per_user AS (
        SELECT event_type, user_id,
               CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
                   AS user_micro
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type, user_id, user_micro,
           CAST(round(1e6 * user_micro /
                SUM(user_micro) OVER (PARTITION BY event_type)) AS BIGINT)
               AS share_ppm
    FROM per_user
    """,
)
def user_share_of_type_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total within partition (Oracle's RATIO_TO_REPORT, the
    BI staple): each user's share of their event type's total value, in
    parts-per-million. Values micro-quantize per row BEFORE any sum, so
    the per-user totals and the windowed denominator are order-free
    integer sums and the ratio is one deterministic double op per row.
    One shuffle for the groupBy; the window reuses the same partitioning
    (event_type is a prefix of the grouping key on disk order — Catalyst
    plans an exchange only if the agg partitioning doesn't carry)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "event_type", "user_id",
            F.round(F.col("value") * 1e6).cast("long").alias("vm"),
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("vm").cast("long").alias("user_micro"))
    )
    w = Window.partitionBy("event_type")
    return per_user.select(
        "event_type", "user_id", "user_micro",
        F.round(F.lit(1e6) * F.col("user_micro") / F.sum("user_micro").over(w))
        .cast("long").alias("share_ppm"),
    )
