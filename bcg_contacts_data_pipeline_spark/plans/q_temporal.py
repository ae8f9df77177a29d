"""Temporal family: event-time analytics, batch and streaming.

Windows, sessions, as-of joins, gap-fill, funnels, cohorts, anomaly
and trend series over the events table, and the streaming queries
(windowed aggregation, dedup, stream-static and stream-stream joins,
chained stateful operators, state-store introspection), each drained
with ``availableNow`` so the result is finite and oracle-checkable.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.pins import pin
from bcg_contacts_data_pipeline_spark.plans.registry import (
    _dec,
    _events,
    register,
)


# ---------------------------------------------------------------------------
# Temporal operators on events (green-field extensions, SURVEY §2.6/§2.9)
# ---------------------------------------------------------------------------

@register(
    "events_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch twin of the streaming windowed
    agg)."""
    from bcg_contacts_data_pipeline_spark.operators.temporal import tumbling_agg

    e = _events(spark, sf_dir)
    return tumbling_agg(
        e,
        "ts",
        "hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        ],
    )


@register(
    "sessionize",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, ts, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap): lag + running sum, one
    shuffle; then the per-session rollup reuses the same partitioning."""
    from bcg_contacts_data_pipeline_spark.operators.temporal import sessionize

    e = _events(spark, sf_dir)
    s = sessionize(e, "user_id", "ts", 1_800_000_000, "event_id")
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "n_events",
            "session_start",
            "session_end",
        )
    )


@register(
    "asof_purchase_click",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
    clicks AS (
      SELECT user_id, ts, arg_max(value, event_id) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.click_value AS last_click_value
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward inclusive): for each purchase, the most recent
    click value per user. Union-tag implementation — one shuffle, no range
    explosion; oracle is DuckDB's native ASOF JOIN."""
    from bcg_contacts_data_pipeline_spark.operators.temporal import asof_join

    e = _events(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_values={"last_click_value": "click_value"},
    )


@register(
    "error_burst",
    oracle="""
    SELECT e.event_id, COUNT(f.event_id) AS n_follow
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN events f
      ON e.user_id = f.user_id AND f.ts > e.ts
         AND epoch_us(f.ts) <= epoch_us(e.ts) + 3600000000
    GROUP BY e.event_id
    """,
)
def q_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: events within 1 h after each error, per user —
    bucketed implementation (each row probes 2 time buckets, not the whole
    user history)."""
    from bcg_contacts_data_pipeline_spark.operators.temporal import (
        range_join_bucketed,
    )

    e = _events(spark, sf_dir)
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("user_id"), F.col("ts").alias("err_ts")
    )
    follow = e.select(
        F.col("event_id").alias("f_id"), F.col("user_id"), F.col("ts").alias("f_ts")
    )
    joined = range_join_bucketed(
        errors, follow, on=["user_id"], left_ts="err_ts", right_ts="f_ts",
        window_us=3_600_000_000,
    )
    counts = joined.groupBy("err_id").agg(
        F.countDistinct("f_id").alias("n_follow")
    )
    return (
        errors.select("err_id").distinct()
        .join(counts, "err_id", "left")
        .select(
            F.col("err_id").alias("event_id"),
            F.coalesce(F.col("n_follow"), F.lit(0)).cast("long").alias("n_follow"),
        )
    )


# ---------------------------------------------------------------------------
# Structured Streaming (SURVEY §2.9 — green-field; each query is the
# streaming twin of a batch operator above, executed to completion with
# Trigger.AvailableNow so the DuckDB batch oracle applies verbatim).
# ---------------------------------------------------------------------------

@register(
    "stream_hourly_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window streaming aggregation, run to completion
    (complete output mode: every window emits once the source drains)."""
    from bcg_contacts_data_pipeline_spark import streaming as S

    st = S.events_stream(spark, sf_dir)
    agg = S.windowed_agg(
        st,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        ],
        watermark="1 hour",
    )
    return S.run_available_now(agg, "complete", shuffle_partitions=8)


@register(
    "stream_sessions",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) via session_window; the
    window end is last_event_ts + gap, matching the oracle's island SQL.
    Same session boundaries as the batch `sessionize` query."""
    from bcg_contacts_data_pipeline_spark import streaming as S

    st = S.events_stream(spark, sf_dir)
    agg = S.session_agg(
        st,
        ["user_id"],
        "ts",
        "30 minutes",
        [F.count(F.lit(1)).alias("n_events")],
        watermark="1 hour",
    )
    return S.run_available_now(agg, "complete", shuffle_partitions=8)


@register(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark): first row per
    (user_id, event_type) is emitted as it arrives; key state expires with
    the watermark. Projected to the key columns so the result is
    order-insensitive and equals batch DISTINCT."""
    from bcg_contacts_data_pipeline_spark import streaming as S

    st = S.events_stream(spark, sf_dir)
    dd = S.dedup_within_watermark(st, ["user_id", "event_type"], "ts", "2 hours")
    return S.run_available_now(
        dd.select("user_id", "event_type"), "append", shuffle_partitions=8
    )


@register(
    "stream_running_stats",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(MAX(CAST(value AS DOUBLE)) AS DOUBLE) AS max_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    (count, max) in keyed state, update mode. On the finite test source the
    single micro-batch's emission equals the batch GROUP BY."""
    from bcg_contacts_data_pipeline_spark import streaming as S

    st = S.events_stream(spark, sf_dir)
    out = S.running_user_stats(st.select("user_id", "value"))
    return S.run_available_now(out, "update", shuffle_partitions=8)


@register(
    "events_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_window,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                / COUNT(*) OVER w AS DOUBLE) AS avg_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour moving average per user — a RANGE window frame
    (value-based, so same-timestamp ties land in the same frame in every
    engine; no tie-order hazard). The sum goes through DECIMAL(18,6):
    exact and associative, so sliding-frame add/remove (Spark) and
    per-frame recompute (DuckDB) cannot diverge; ONE IEEE division at
    the end. One shuffle on user_id."""
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    n = F.count(F.lit(1)).over(w)
    total = F.sum(F.col("value").cast("decimal(18,6)")).over(w)
    return e.select(
        "event_id",
        "user_id",
        n.cast("long").alias("n_window"),
        (total.cast("double") / n).alias("avg_value"),
    )


@register(
    "stream_static_enrich",
    oracle="""
    WITH profile AS (
      SELECT user_id, COUNT(*) AS hist_events,
             CAST(MAX(CAST(value AS DOUBLE)) AS DOUBLE) AS hist_max
      FROM events GROUP BY user_id)
    SELECT e.event_id, e.user_id, e.event_type,
           p.hist_events, p.hist_max
    FROM events e JOIN profile p ON e.user_id = p.user_id
    """,
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each streaming event enriched with a broadcast
    per-user profile computed batch-side — stateless append mode, every
    event emitted exactly once."""
    from bcg_contacts_data_pipeline_spark import streaming as S

    profile = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("hist_events"),
            F.max(F.col("value").cast("double")).alias("hist_max"),
        )
    )
    st = S.events_stream(spark, sf_dir)
    joined = S.stream_static_enrich(
        st.select("event_id", "user_id", "event_type"), profile, ["user_id"]
    )
    return S.run_available_now(
        joined.select("event_id", "user_id", "event_type", "hist_events", "hist_max"),
        "append",
        shuffle_partitions=8,
    )


@register(
    "user_value_deciles",
    oracle="""
    WITH totals AS (
      SELECT user_id, SUM(CAST(value AS DECIMAL(18,4))) AS td
      FROM events GROUP BY 1),
    ranked AS (
      SELECT user_id, td,
             ROW_NUMBER() OVER (ORDER BY td DESC, user_id) AS rk,
             COUNT(*) OVER () AS n
      FROM totals)
    SELECT CAST(((rk - 1) * 10) // n + 1 AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(td) AS DOUBLE) AS total_value,
           CAST(MIN(td) AS DOUBLE) AS min_user_value,
           CAST(MAX(td) AS DOUBLE) AS max_user_value
    FROM ranked GROUP BY 1
    """,
)
def q_user_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users binned into value deciles. The global rank that feeds the
    bin comes from the two-pass partition-offset renumber — NOT a
    single-partition window (the classic trap this query exists to
    demonstrate avoiding); the bin is a closed form over (rank, n) so
    the oracle reproduces it without NTILE-remainder semantics."""
    from bcg_contacts_data_pipeline_spark.operators.analytics import (
        with_quantile_bin,
    )

    ev = _events(spark, sf_dir)
    totals = ev.groupBy("user_id").agg(
        F.sum(_dec("value")).alias("_td")
    )
    binned = with_quantile_bin(
        totals,
        [F.col("_td").desc(), F.col("user_id")],
        k=10,
        bin_name="decile",
    )
    return binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("_td").cast("double").alias("total_value"),
        F.min("_td").cast("double").alias("min_user_value"),
        F.max("_td").cast("double").alias("max_user_value"),
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH s0 AS (SELECT user_id, MIN(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY 1),
    s1 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
           JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t
           WHERE e.event_type = 'click' GROUP BY 1),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
           WHERE e.event_type = 'purchase' GROUP BY 1),
    n AS (SELECT (SELECT COUNT(*) FROM s0) AS n0,
                 (SELECT COUNT(*) FROM s1) AS n1,
                 (SELECT COUNT(*) FROM s2) AS n2)
    SELECT CAST(0 AS INT) AS stage, 'view' AS event_type,
           CAST(n0 AS BIGINT) AS users,
           CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS conversion FROM n
    UNION ALL
    SELECT CAST(1 AS INT), 'click', CAST(n1 AS BIGINT),
           CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM n
    UNION ALL
    SELECT CAST(2 AS INT), 'purchase', CAST(n2 AS BIGINT),
           CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM n
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: one shuffle gathers each
    user's events, stage times are array expressions (earliest stage-k
    event STRICTLY after stage k-1 — tie-safe, order-independent), and
    the oracle recomputes the same definition as chained min-joins."""
    from bcg_contacts_data_pipeline_spark.operators.analytics import (
        funnel_summary,
    )

    ev = _events(spark, sf_dir)
    return funnel_summary(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


# ---------------------------------------------------------------------------
# Stream-stream join (the last Structured Streaming join shape)
# ---------------------------------------------------------------------------


@register(
    "stream_click_attribution",
    oracle="""
    SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
           v.ts AS view_ts, c.ts AS click_ts
    FROM events v JOIN events c
      ON c.user_id = v.user_id
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    """,
)
def q_stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (click attribution): every
    view paired with same-user clicks in the following 6 hours. The
    time-bound join condition lets Spark evict both join buffers at the
    watermark — state stays O(active users x horizon); on the finite
    AvailableNow drain the output equals the batch range join the
    oracle runs."""
    from bcg_contacts_data_pipeline_spark import streaming as S

    views = S.events_stream(spark, sf_dir).filter(
        F.col("event_type") == "view"
    ).select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    clicks = S.events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = S.stream_stream_time_join(
        views,
        clicks,
        left_key="user_id",
        right_key="c_user_id",
        left_ts="view_ts",
        right_ts="click_ts",
        within="6 HOURS",
        watermark="1 hour",
    )
    out = joined.select(
        "view_id", "click_id", "user_id", "view_ts", "click_ts"
    )
    return S.run_available_now(out, "append", shuffle_partitions=8)


# ---------------------------------------------------------------------------
# Sliding windows + set operators (INTERSECT / EXCEPT)
# ---------------------------------------------------------------------------


@register(
    "sliding_active_users",
    oracle="""
    WITH assigned AS (
      SELECT date_trunc('hour', ts) - (k * INTERVAL 1 HOUR) AS window_start,
             user_id
      FROM events, (SELECT unnest(generate_series(0, 5)) AS k))
    SELECT window_start,
           window_start + INTERVAL 6 HOUR AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM assigned GROUP BY 1, 2
    """,
)
def q_sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window activity (6-hour windows every hour): each event
    lands in 6 overlapping hourly-aligned windows — `F.window(ts, len,
    slide)` expands row-locally before ONE shuffle on the window key
    (the fan-out is len/slide, a declared constant, never data-driven).
    The oracle reproduces the assignment arithmetically: window starts
    are `hour(ts) - k` for k in 0..5."""
    ev = _events(spark, sf_dir)
    w = (
        ev.groupBy(F.window("ts", "6 hours", "1 hour").alias("__w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )
    return w.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        "n_events",
        "n_users",
    )


@register(
    "view_only_days",
    oracle="""
    WITH v AS (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
               FROM events WHERE event_type = 'view'),
    p AS (SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
          FROM events WHERE event_type = 'purchase')
    SELECT user_id, day, 'both' AS tag
    FROM (SELECT * FROM v INTERSECT SELECT * FROM p)
    UNION ALL
    SELECT user_id, day, 'view_only' AS tag
    FROM (SELECT * FROM v EXCEPT SELECT * FROM p)
    """,
)
def q_view_only_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT as first-class operators (SURVEY §2.7 covers
    union; these complete the set-op family): per (user, day), did the
    user view AND purchase, or only view? Both set ops compile to the
    same hash-aggregate + join shapes a groupBy would — no quadratic
    anything — and the day-granular key keeps the comparison meaningful
    on a corpus where every user eventually does everything."""
    ev = _events(spark, sf_dir)

    def days(et):
        return (
            ev.filter(F.col("event_type") == et)
            .select("user_id", F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .distinct()
        )

    v, p = days("view"), days("purchase")
    both = v.intersect(p).withColumn("tag", F.lit("both"))
    only = v.subtract(p).withColumn("tag", F.lit("view_only"))
    return both.unionByName(only)


@register(
    "user_growth_curve",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(strftime(ts, '%Y-%m-%d')) AS day
      FROM events GROUP BY 1),
    per_day AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM first_seen GROUP BY 1)
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cumulative_users
    FROM per_day
    """,
)
def q_user_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day WITHOUT a running set: cumulative
    COUNT(DISTINCT) is unboundable state, but each user contributes to
    exactly one day — their first — so the curve is min-day per user
    (one shuffle), daily counts (map-side partial), and a running sum
    over the DAY axis. The only window runs over calendar days — a
    few thousand rows no matter how many trillions of events — which is
    the aggregate-then-window-on-small pattern that keeps global
    ordering off the raw data."""
    ev = _events(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_format("ts", "yyyy-MM-dd")).alias("day")
    )
    per_day = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


# ---------------------------------------------------------------------------
# Time-series gap-fill + forward fill — the resample/ffill operation every
# metrics pipeline needs before rate/delta math, as one lazy plan.
# ---------------------------------------------------------------------------


@register(
    "events_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY 1, 2),
    span AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1
             FROM hourly GROUP BY user_id),
    hours AS (
      SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM span)
    SELECT hours.user_id, hours.hour,
           COALESCE(hourly.n, 0) AS n_events,
           CAST(last_value(hourly.v IGNORE NULLS)
                    OVER (PARTITION BY hours.user_id ORDER BY hours.hour)
                AS DOUBLE) AS v_filled,
           hourly.h IS NULL AS is_gap
    FROM hours LEFT JOIN hourly
      ON hourly.user_id = hours.user_id AND hourly.h = hours.hour
    """,
)
def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly gap-fill with forward fill — delegates to
    :func:`operators.temporal.gapfill_forward_fill` (scale notes and
    the replay property test live with the operator); this registration
    pins the hourly/user instantiation against the DuckDB oracle."""
    from bcg_contacts_data_pipeline_spark.operators.temporal import (
        gapfill_forward_fill,
    )

    return gapfill_forward_fill(
        _events(spark, sf_dir), "user_id", "ts", "value", unit="hour"
    )


# ---------------------------------------------------------------------------
# Event-rate anomaly detection: z-score of hourly volume vs the type's
# own history, engine-exact via integer sums (no stddev_samp — its
# accumulation order differs between engines).
# ---------------------------------------------------------------------------


@register(
    "event_rate_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(cnt) AS BIGINT) AS s1,
             CAST(SUM(cnt * cnt) AS BIGINT) AS s2
      FROM hourly GROUP BY 1)
    SELECT h.event_type, h.hour, h.cnt,
           CAST((CAST(h.cnt AS DOUBLE) - CAST(s.s1 AS DOUBLE) / CAST(s.n_hours AS DOUBLE))
                / sqrt((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / CAST(s.n_hours AS DOUBLE))
                       / CAST(s.n_hours - 1 AS DOUBLE)) AS DOUBLE) AS z
    FROM hourly h JOIN stats s ON s.event_type = h.event_type
    WHERE s.n_hours > 1
      AND CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / CAST(s.n_hours AS DOUBLE) > 0
      AND abs((CAST(h.cnt AS DOUBLE) - CAST(s.s1 AS DOUBLE) / CAST(s.n_hours AS DOUBLE))
              / sqrt((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / CAST(s.n_hours AS DOUBLE))
                     / CAST(s.n_hours - 1 AS DOUBLE))) > 2.0
    """,
)
def event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hours where an event type's count sits
    more than 2 sample standard deviations from that type's own hourly
    mean. The z-score is computed from EXACT integer sums (n, sum,
    sum-of-squares) with the identical IEEE expression on both engines
    — never stddev_samp, whose accumulation order is engine-specific.
    The hourly aggregate feeds two consumers (the per-type stats and
    the probe side) and identical exchanges are not deduplicated across
    references on this engine, so it is pinned — one events scan. The
    per-type stats frame is rows = |event types|, broadcast by AQE."""
    ev = _events(spark, sf_dir)
    hourly = pin(
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        ).agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    s1 = F.col("s1").cast("double")
    n = F.col("n_hours").cast("double")
    var_num = F.col("s2").cast("double") - s1 * s1 / n
    z = (F.col("cnt").cast("double") - s1 / n) / F.sqrt(
        var_num / (F.col("n_hours") - 1).cast("double")
    )
    return (
        hourly.join(stats, "event_type")
        .filter((F.col("n_hours") > 1) & (var_num > 0))
        .select("event_type", "hour", "cnt", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.0)
    )


# ---------------------------------------------------------------------------
# Out-of-order event rate — the measurement that CALIBRATES watermarks:
# "2 hours" in every streaming query here is a claim about this number.
# ---------------------------------------------------------------------------


@register(
    "late_event_rate",
    oracle="""
    WITH ordered AS (
      SELECT event_type,
             ts,
             MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS seen_max
      FROM events),
    flags AS (
      SELECT event_type,
             CASE WHEN seen_max IS NOT NULL AND ts < seen_max
                  THEN 1 ELSE 0 END AS late,
             CASE WHEN seen_max IS NOT NULL AND ts < seen_max
                  THEN CAST(date_diff('second', ts, seen_max) AS BIGINT)
                  ELSE 0 END AS late_by_s
      FROM ordered)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(late) AS BIGINT) AS n_late,
           CAST(MAX(late_by_s) AS BIGINT) AS max_late_s,
           CAST(CAST(SUM(late) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS DOUBLE) AS late_frac
    FROM flags GROUP BY event_type
    """,
)
def late_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How out-of-order is this stream, really? Per event type: the
    fraction of events arriving with an event time EARLIER than the
    running per-user maximum (arrival order = event_id, the ingestion
    sequence), and the worst lateness in seconds — the two numbers a
    watermark is chosen FROM (every ``withWatermark("ts", "2 hours")``
    in streaming/ops.py is a claim that max_late_s stays under 7200;
    this query is how you check the claim against real data instead of
    guessing). One shuffle: a running-max window per user, then a
    rollup. The lateness delta is integer seconds on both engines —
    no float drift in the max."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flags = ev.select(
        "event_type",
        F.max("ts").over(w).alias("seen_max"),
        "ts",
    ).select(
        "event_type",
        F.when(
            F.col("seen_max").isNotNull() & (F.col("ts") < F.col("seen_max")),
            1,
        )
        .otherwise(0)
        .alias("late"),
        F.when(
            F.col("seen_max").isNotNull() & (F.col("ts") < F.col("seen_max")),
            (
                F.unix_timestamp("seen_max") - F.unix_timestamp("ts")
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("late_by_s"),
    )
    return flags.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("late").cast("long").alias("n_late"),
        F.max("late_by_s").alias("max_late_s"),
        (
            F.sum("late").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("late_frac"),
    )


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER join: unmatched rows emitted at the watermark.
# ---------------------------------------------------------------------------


@register(
    "stream_click_attribution_outer",
    oracle="""
    WITH wm AS (
      SELECT LEAST(
               (SELECT max(ts) FROM events WHERE event_type = 'view'),
               (SELECT max(ts) FROM events WHERE event_type = 'click'))
             - INTERVAL 1 HOUR AS w)
    SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
           v.ts AS view_ts, c.ts AS click_ts
    FROM events v JOIN events c
      ON c.user_id = v.user_id
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    UNION ALL
    SELECT v.event_id, CAST(NULL AS BIGINT), v.user_id,
           v.ts, CAST(NULL AS TIMESTAMP)
    FROM events v, wm
    WHERE v.event_type = 'view'
      AND NOT EXISTS (SELECT 1 FROM events c
                      WHERE c.event_type = 'click'
                        AND c.user_id = v.user_id
                        AND c.ts > v.ts
                        AND c.ts <= v.ts + INTERVAL 6 HOUR)
      AND v.ts + INTERVAL 6 HOUR < wm.w
    """,
)
def stream_click_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the last join shape
    the streaming family lacked. Matched view-click pairs emit exactly
    as in the inner form (``stream_click_attribution``); a view with NO
    click in its 6-hour window additionally emits once with null click
    columns — but only after the global watermark passes its window
    end, because until then a matching click could still arrive.

    The oracle states that semantics EXACTLY, not approximately: on the
    finite AvailableNow drain the final watermark is
    ``least(max view ts, max click ts) - 1 hour`` (each input's
    watermark is its own max event time minus the delay; the global
    watermark is the min; the trailing no-data micro-batch applies it),
    so the emitted unmatched set is precisely the views whose window
    end lies strictly before that — views nearer the stream head stay
    buffered, which on an unbounded stream is the correct 'could still
    match' state, not loss. State stays O(active users x 7 h) on both
    buffers; RocksDB-backed at cluster scale.
    """
    from bcg_contacts_data_pipeline_spark import streaming as S

    views = S.events_stream(spark, sf_dir).filter(
        F.col("event_type") == "view"
    ).select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    clicks = S.events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = S.stream_stream_time_join(
        views,
        clicks,
        left_key="user_id",
        right_key="c_user_id",
        left_ts="view_ts",
        right_ts="click_ts",
        within="6 HOURS",
        watermark="1 hour",
        how="leftOuter",
    )
    out = joined.select(
        "view_id", "click_id", "user_id", "view_ts", "click_ts"
    )
    return S.run_available_now(out, "append", shuffle_partitions=8)


# ---------------------------------------------------------------------------
# Retention cohorts: first-seen week x activity-week-offset matrix.
# ---------------------------------------------------------------------------


@register(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('day', f.cohort_week,
                            date_trunc('week', e.ts)) / 7 AS INTEGER)
               AS week_offset
      FROM events e JOIN firsts f USING (user_id)),
    cells AS (
      SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS n_active
      FROM activity GROUP BY cohort_week, week_offset)
    SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
           week_offset, n_active,
           CAST(MAX(CASE WHEN week_offset = 0 THEN n_active END)
                OVER (PARTITION BY cohort_week) AS BIGINT) AS cohort_size,
           CAST(CAST(n_active AS DOUBLE)
                / CAST(MAX(CASE WHEN week_offset = 0 THEN n_active END)
                       OVER (PARTITION BY cohort_week) AS DOUBLE)
               AS DOUBLE) AS retention
    FROM cells
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by first-seen week,
    then for every (cohort, week-offset) cell the count of cohort
    members active that week and the retention fraction — the
    product-analytics staple. Distributed shape: one per-user MIN
    aggregate (the first-seen pass), the per-user cohort label joined
    back onto the fact (a shuffle hash join on user_id — at 100 TB the
    firsts frame is |users|, not broadcastable, and co-partitioning on
    user_id makes this the cheap join), a DISTINCT per (user, week)
    so a burst of events counts once, then the cell aggregate. The
    denominator needs NO extra pass: every user is by definition
    active in their first week, so cohort_size IS the offset-0 cell —
    a window over the tiny cell frame replaces a second full
    aggregate-and-join (and the events scan it would recompute). Week
    truncation is ISO-Monday in both engines; offsets divide exactly
    (week-truncated dates differ by multiples of 7 days). The only
    float is the final retention ratio — one division of identical
    integer operands."""
    ev = _events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )

    cells = activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    size = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_active"))
    ).over(Window.partitionBy("cohort_week"))
    return cells.select(
        "cohort_week",
        "week_offset",
        "n_active",
        size.alias("cohort_size"),
        (F.col("n_active").cast("double") / size.cast("double")).alias(
            "retention"
        ),
    )


# ---------------------------------------------------------------------------
# Next-event Markov transition matrix over per-user event sequences.
# ---------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    pairs AS (
      SELECT event_type, next_type FROM seq WHERE next_type IS NOT NULL),
    cells AS (
      SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY event_type, next_type)
    SELECT event_type, next_type, n,
           CAST(CAST(n AS DOUBLE)
                / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE)
               AS DOUBLE) AS p_next
    FROM cells
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behaviour: for each
    event type, the distribution of the NEXT event the same user emits
    — the session-flow fingerprint behind funnel design and anomaly
    detection (a sudden shift in P(error | click) is a deploy gone
    bad). Physical shape: ONE shuffle partitions each user's history,
    ``lead()`` pairs consecutive events inside it (order made total by
    the (ts, event_id) tiebreak — equal-timestamp events would
    otherwise make the pairing nondeterministic), then the cell
    aggregate; row-normalization is a window over the K x K cell frame
    (tiny), never a second pass over the fact. Counts are integers;
    each probability is one IEEE division of identical operands."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    cells = seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wn = Window.partitionBy("event_type")
    return cells.select(
        "event_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wn).cast("double")).alias(
            "p_next"
        ),
    )

#: Shared sessionization-oracle scaffold: the CTE chain + projection,
#: parameterized ONLY by the final cutoff predicate. Built on by
#: ``stream_sessions_timeout`` (emitted sessions: the cutoff has passed)
#: and ``statestore_open_sessions`` (the EXACT complement: still open).
SESSIONS_ORACLE_TEMPLATE = """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked),
    grouped AS (
      SELECT user_id, sid,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, sid),
    flagged AS (
      SELECT g.*,
             sid = MAX(sid) OVER (PARTITION BY user_id) AS is_last
      FROM grouped g),
    wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events)
    SELECT user_id, session_start, session_end, n_events
    FROM flagged, wm
    WHERE {cutoff}
    """


# ---------------------------------------------------------------------------
# Timeout-driven streaming sessionization (emit-on-close).
# ---------------------------------------------------------------------------


@register(
    "stream_sessions_timeout",
    oracle=SESSIONS_ORACLE_TEMPLATE.format(
        cutoff="""NOT is_last
       OR session_end + INTERVAL 30 MINUTE < wm.w"""
    ),
)
def stream_sessions_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emit-on-close sessionization through the explicit
    ``EventTimeTimeout`` state API (``streaming.session_close_stream``):
    a session row appears ONLY when the session closes — by a later
    same-user event exceeding the 30-minute gap, or by the registered
    per-key TIMER firing once the watermark passes ``end + gap``
    (``state.hasTimedOut`` branch, state removed). The feature under
    test is the timer lifecycle the running-stats op never touches.

    The oracle states the finite-drain semantics exactly: all non-last
    sessions of each user (closed intra-batch by construction) plus
    last sessions whose ``end + gap`` lies strictly before the final
    watermark (``max event time - 30 min``, applied by the trailing
    no-data micro-batch). Later sessions remain in state — on an
    unbounded stream they'd emit when the watermark caught up; the
    timer registration's ceil-to-millisecond cannot shift the strict-<
    boundary for microsecond-grained event times."""
    from bcg_contacts_data_pipeline_spark import streaming as S

    st = S.events_stream(spark, sf_dir).select("user_id", "ts")
    return S.run_available_now(
        S.session_close_stream(
            st, "ts", gap="30 minutes", watermark="30 minutes"
        ),
        "append",
        shuffle_partitions=8,
    )


# ---------------------------------------------------------------------------
# Streaming windowed distinct users via HLL sketch (in-band verified).
# ---------------------------------------------------------------------------


@register(
    "stream_window_distinct_approx",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start,
           date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           true AS hll_in_band
    FROM events GROUP BY 1, 2
    """,
)
def stream_window_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users computed INSIDE a watermarked streaming
    window — the marriage the two families need at scale: exact
    ``COUNT(DISTINCT)`` is structurally unsupported in streaming
    aggregations (per-key distinct state is unbounded), so the HLL++
    sketch (``approx_count_distinct``, fixed-size mergeable state) is
    not an optimization here, it is the ONLY path. The streaming side
    emits the per-window estimate; after the drain, the estimate joins
    the batch-exact distinct (computable only because the drain is
    finite — at production scale this verification column is dropped)
    and the oracle pins the exact count plus the in-band boolean that
    the sketch landed within 3x its 5% standard error — the
    ``approx_distinct_users`` contract applied to streaming state."""
    from bcg_contacts_data_pipeline_spark import streaming as S

    rsd = 0.05
    st = S.events_stream(spark, sf_dir)
    agg = S.windowed_agg(
        st,
        "ts",
        "1 day",
        [],
        [F.approx_count_distinct("user_id", rsd).alias("__hll")],
        watermark="1 hour",
    )
    est = S.run_available_now(agg, "complete", shuffle_partitions=8)
    exact = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("day", F.col("ts")).alias("window_start"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )
    lo = F.col("n_users") * (1 - 3 * rsd)
    hi = F.col("n_users") * (1 + 3 * rsd)
    return est.join(exact, "window_start").select(
        "window_start",
        "window_end",
        "n_users",
        ((F.col("__hll") >= lo) & (F.col("__hll") <= hi)).alias(
            "hll_in_band"
        ),
    )


# ---------------------------------------------------------------------------
# Censored time-to-event: first view -> first purchase lag curve.
# ---------------------------------------------------------------------------


@register(
    "conversion_lag_curve",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    v AS (
      SELECT user_id, MIN(us) AS t0 FROM ev
      WHERE event_type = 'view' GROUP BY user_id),
    conv AS (
      SELECT v.user_id, v.t0, MIN(ev.us) AS te
      FROM v JOIN ev ON ev.user_id = v.user_id
      WHERE ev.event_type = 'purchase' AND ev.us >= v.t0
      GROUP BY v.user_id, v.t0),
    gmax AS (SELECT MAX(us) AS gus FROM ev),
    durations AS (
      SELECT (te - t0) // 86400000000 AS day, 1 AS event FROM conv
      UNION ALL
      SELECT (gus - t0) // 86400000000 AS day, 0 AS event
      FROM v CROSS JOIN gmax
      WHERE NOT EXISTS (SELECT 1 FROM conv WHERE conv.user_id = v.user_id)),
    daily AS (
      SELECT day,
             CAST(SUM(event) AS BIGINT) AS n_conv,
             CAST(SUM(1 - event) AS BIGINT) AS n_cens
      FROM durations GROUP BY day),
    tot AS (
      SELECT CAST(SUM(n_conv + n_cens) AS BIGINT) AS n_total FROM daily)
    SELECT day, n_conv, n_cens,
           CAST(n_total
                - COALESCE(SUM(n_conv + n_cens) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_at_risk,
           CAST(SUM(n_conv) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / CAST(n_total AS DOUBLE)
             AS cum_conversion
    FROM daily CROSS JOIN tot
    """,
)
def conversion_lag_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Censored time-to-event distribution: for every user whose
    journey starts with a 'view', the lag (in whole days) to their
    first subsequent 'purchase'; users who never purchase are censored
    at the end of the observation window. Per day-bucket: conversions,
    censored exits, the population still at risk entering the day, and
    the cumulative conversion rate — the exact integer numerators and
    denominators of a Kaplan-Meier estimator without the cross-engine-
    fragile cumulative float product (S(t) is derivable from the
    columns; hazard = n_conv / n_at_risk).

    Exactness: lags are integer floor-divisions of epoch-microsecond
    differences (both engines: positive operands, truncating integer
    division); all counts and the at-risk ledger are BIGINT window
    sums; the single float is one division by the cohort size.

    Scale: the oracle states the semantics as a viewers-to-purchases
    join plus a left-anti censor join; the Spark plan needs NEITHER
    join — ONE hash partitioning by user carries the whole per-user
    phase: a user-partition window attaches t0 (first view) to every
    event row, and the per-user groupBy that follows reuses that
    partitioning (no second exchange), computing the first qualifying
    purchase as a conditional min — null te IS the censor flag, so the
    anti-join disappears into a CASE. The day-bucket frame the
    cumulative windows run over is |distinct lags| rows (≤ observation
    days), post-aggregation — the same justified-tiny-global-window
    pattern as user_growth_curve. Scans: events twice (the per-user
    pass and the ts-only global-max pass).
    """
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    wu = Window.partitionBy("user_id")
    ev2 = ev.withColumn(
        "t0",
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(wu),
    )
    per_user = (
        ev2.filter(F.col("t0").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("t0").alias("t0"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("us") >= F.col("t0")),
                    F.col("us"),
                )
            ).alias("te"),
        )
    )
    gmax = ev.agg(F.max("us").alias("gus"))
    durations = per_user.crossJoin(F.broadcast(gmax)).select(
        F.expr(
            "CASE WHEN te IS NOT NULL THEN (te - t0) DIV 86400000000"
            " ELSE (gus - t0) DIV 86400000000 END"
        ).alias("day"),
        F.when(F.col("te").isNotNull(), 1).otherwise(0).alias("event"),
    )
    # Persisted once: the totals agg and the windowed curve both read
    # it; tiny (one row per distinct lag day).
    daily = pin(
        durations.groupBy("day").agg(
            F.sum("event").cast("long").alias("n_conv"),
            F.sum(F.lit(1) - F.col("event")).cast("long").alias("n_cens"),
        )
    )
    tot = daily.agg(
        F.sum(F.col("n_conv") + F.col("n_cens")).cast("long").alias("n_total")
    )
    wprior = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    wcur = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "n_conv",
            "n_cens",
            (
                F.col("n_total")
                - F.coalesce(
                    F.sum(F.col("n_conv") + F.col("n_cens")).over(wprior),
                    F.lit(0),
                )
            )
            .cast("long")
            .alias("n_at_risk"),
            (
                F.sum("n_conv").over(wcur).cast("double")
                / F.col("n_total").cast("double")
            ).alias("cum_conversion"),
        )
    )


# ---------------------------------------------------------------------------
# Interval-overlap join: user sessions x error-heavy hours.
# ---------------------------------------------------------------------------


@register(
    "session_error_overlap",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked),
    sessions AS (
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
      FROM numbered GROUP BY user_id, session_id),
    err AS (
      SELECT epoch_us(date_trunc('hour', ts)) AS w_us,
             CAST(COUNT(*) AS BIGINT) AS n_err
      FROM events WHERE event_type = 'error'
      GROUP BY 1 HAVING COUNT(*) >= 5)
    SELECT user_id, session_id,
           CAST(COUNT(*) AS BIGINT) AS n_err_windows,
           CAST(SUM(n_err) AS BIGINT) AS n_errors
    FROM sessions JOIN err
      ON s_us < w_us + 3600000000 AND e_us >= w_us
    GROUP BY user_id, session_id
    """,
)
def session_error_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval-overlap join: which user sessions (30-min-gap
    sessionization) overlapped an error-heavy hour (≥5 'error' events
    platform-wide), and how much error pressure they saw — the
    incident-correlation query behind "did the outage touch this
    user's session?".

    The oracle states the semantics as a declarative non-equi range
    join (s_start < w_end AND s_end >= w_start) — the formulation that
    degenerates to a broadcast-nested-loop at scale. The Spark plan is
    the BUCKETED interval join instead: each session explodes into the
    hour chunks it spans (``sequence`` + ``explode`` — fan-out =
    session duration in hours, bounded because a 30-min-gap session is
    as long as its user stays active), error windows are hour-aligned
    by construction, and the overlap becomes an exact EQUI-join on the
    hour index — hash-partitionable, no nested loop, no residual
    filter (a session touches hour h iff it overlaps [h, h+1), exact
    in integer micros). The two formulations are provably identical
    here; the driver hash-check is that proof at sf.

    All interval math in integer epoch micros; counts BIGINT.
    """
    from bcg_contacts_data_pipeline_spark.operators.temporal import sessionize

    e = _events(spark, sf_dir)
    s = (
        sessionize(e, "user_id", "ts", 1_800_000_000, "event_id")
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.unix_micros("ts")).alias("s_us"),
            F.max(F.unix_micros("ts")).alias("e_us"),
        )
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "s_us",
            "e_us",
        )
    )
    err = (
        e.filter(F.col("event_type") == "error")
        .groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("w_us")
        )
        .agg(F.count(F.lit(1)).alias("n_err"))
        .filter(F.col("n_err") >= 5)
        .withColumn("h", F.expr("w_us DIV 3600000000"))
    )
    spanned = s.select(
        "user_id",
        "session_id",
        F.explode(
            F.sequence(
                F.expr("s_us DIV 3600000000"), F.expr("e_us DIV 3600000000")
            )
        ).alias("h"),
    )
    return (
        spanned.join(err, "h")
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_err_windows"),
            F.sum("n_err").cast("long").alias("n_errors"),
        )
    )


# ---------------------------------------------------------------------------
# Chained streaming window aggregation: hourly -> daily in one query.
# ---------------------------------------------------------------------------


@register(
    "stream_hourly_daily_rollup",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT date_trunc('day', ts) AS window_start,
           date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT)
             AS n_active_hours
    FROM events, wm
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w
    GROUP BY 1, 2
    """,
)
def stream_hourly_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained event-time window aggregations in ONE streaming query
    (hourly counts re-windowed to daily totals + active-hour counts) —
    the multiple-stateful-operator feature (Spark >= 3.4) the streaming
    family did not yet exercise. One query, two state stores; the
    second groupBy windows over ``window_time(window)`` to keep the
    event-time/watermark lineage (a flattened timestamp would be
    rejected). This is the streaming form of the rollup hierarchy the
    batch board certifies as ``incremental_rollup_merge``.

    Append mode is mandatory with chained stateful operators, so the
    finite AvailableNow drain emits exactly the daily windows whose end
    the final watermark passed: ``window_end <= max(ts) - 1 hour`` (the
    trailing no-data micro-batch flushes the hourly state downstream
    and the daily state to the sink in the same pass; a held-back hour
    always belongs to a held-back day — hour_end <= day_end — so the
    cutoff is exact, never partial). The oracle states that cutoff
    verbatim; per-day event totals and distinct-active-hour counts are
    engine-exact integers.

    State: hourly op holds <= watermark-delay of open hours; daily op
    holds the open day — both fixed-size, RocksDB-backed at cluster
    scale like every stateful op in streaming/ops.py.
    """
    from bcg_contacts_data_pipeline_spark import streaming as S

    st = S.events_stream(spark, sf_dir)
    d = S.chained_window_agg(
        st,
        "ts",
        "1 hour",
        "1 day",
        [F.count(F.lit(1)).alias("n")],
        [
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_active_hours"),
        ],
        "1 hour",
    )
    return S.run_available_now(d, "append", shuffle_partitions=8)


# ---------------------------------------------------------------------------
# Seasonal-naive backtest: hourly counts vs the same hour one week ago.
# ---------------------------------------------------------------------------


@register(
    "seasonal_naive_backtest",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2)
    SELECT a.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_forecasts,
           CAST(SUM(ABS(a.n - p.n)) AS BIGINT) AS total_abs_err,
           CAST(SUM(ABS(a.n - p.n)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mae,
           CAST(SUM(CASE WHEN a.n = p.n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_hits
    FROM hourly a
    JOIN hourly p
      ON p.event_type = a.event_type
     AND p.h = a.h - INTERVAL 168 HOUR
    GROUP BY a.event_type
    """,
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict this hour's
    event count = the count at the same hour one week earlier) — the
    baseline every anomaly detector and capacity forecast must beat,
    and the query shape of a backtest harness: align a series with a
    LAGGED COPY OF ITSELF by time arithmetic.

    The alignment is deliberately an equi-join on (type, hour - 168h),
    not a LAG window: the hourly series has holes (hours with zero
    events produce no row), and a row-offset lag would silently compare
    misaligned hours across gaps; the time-key join pairs exactly the
    hours where both the actual and its week-ago reference exist —
    gap-safe by construction, and hash-partitionable instead of
    sort-window-bound. Per type: forecast count, total/mean absolute
    error (exact BIGINT sum, one IEEE division), and exact-hit count.

    Scale: one scan feeds the hourly pre-aggregate (map-side
    combinable); the self-join runs on the aggregated series
    (|types| x |hours|), not raw events.
    """
    hourly = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = hourly.alias("a")
    p = hourly.select(
        F.col("event_type").alias("p_type"),
        (F.col("h") + F.expr("INTERVAL 168 HOURS")).alias("p_h"),
        F.col("n").alias("p_n"),
    )
    return (
        a.join(
            p,
            (F.col("a.event_type") == F.col("p_type"))
            & (F.col("a.h") == F.col("p_h")),
        )
        .groupBy("a.event_type")
        .agg(
            F.count(F.lit(1)).alias("n_forecasts"),
            F.sum(F.abs(F.col("a.n") - F.col("p_n")))
            .cast("long")
            .alias("total_abs_err"),
            (
                F.sum(F.abs(F.col("a.n") - F.col("p_n"))).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mae"),
            F.sum(F.when(F.col("a.n") == F.col("p_n"), 1).otherwise(0))
            .cast("long")
            .alias("n_exact_hits"),
        )
    )


# ---------------------------------------------------------------------------
# Group-wise OLS trend via exact sufficient statistics.
# ---------------------------------------------------------------------------


@register(
    "trend_ols_by_type",
    oracle="""
    WITH base AS (
      SELECT event_type,
             epoch_us(ts) // 1000000
               - (SELECT MIN(epoch_us(ts) // 1000000) FROM events) AS dx,
             CAST(value AS DECIMAL(18,4)) AS y
      FROM events WHERE value IS NOT NULL),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dx) AS BIGINT) AS sx,
             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(dx AS DECIMAL(10,0)) * y) AS DOUBLE) AS sxy
      FROM base GROUP BY event_type)
    SELECT event_type, n, sx, sxx,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
           (sy - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                 * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept
    FROM stats
    """,
)
def trend_ols_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares trend (value vs time) computed
    the distributed way: ONE pass accumulating the sufficient
    statistics (n, Σx, Σx², Σy, Σxy) with map-side partial aggregation,
    then the closed-form slope/intercept from the five scalars — the
    regression never sees two rows at once, which is why OLS scales to
    100 TB while iterative fitters need an optimizer loop.

    Cross-engine exactness, the hard part of regression-as-SQL: x is
    integer seconds RE-BASED to the corpus minimum (a scalar-subquery
    attach) so Σx² fits BIGINT exactly (dx ≤ 2.6e6 here ⇒ Σx² ≤ 1e16);
    y and the cross-moment accumulate as DECIMAL(18,4)/(29,4) — exact —
    and only the FINISHED sums cast to double, after which slope and
    intercept are a fixed dag of IEEE multiply/subtract/divide written
    token-identically in both engines. A naive SUM(x*y) over doubles
    would be order-dependent and could never hash-match.

    The sufficient statistics (n, sx, sxx) are also emitted: they are
    the mergeable partial state (same pattern as incremental_rollup_
    merge — two shards' OLS states add componentwise).
    """
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    ev = ev.select(
        "event_type",
        F.expr("unix_micros(ts) DIV 1000000").alias("xs"),
        F.col("value").cast("decimal(18,4)").alias("y"),
    )
    xmin = ev.agg(F.min("xs").alias("xmin"))
    base = ev.crossJoin(F.broadcast(xmin)).select(
        "event_type", (F.col("xs") - F.col("xmin")).alias("dx"), "y"
    )
    stats = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("dx").cast("decimal(10,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    slope = (nd * F.col("sxy") - sxd * F.col("sy")) / (
        nd * sxxd - sxd * sxd
    )
    return stats.select(
        "event_type",
        "n",
        "sx",
        "sxx",
        slope.alias("slope"),
        ((F.col("sy") - slope * sxd) / nd).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Chained streaming dedup -> window aggregation over an at-least-once
# (duplicated) source.
# ---------------------------------------------------------------------------


@register(
    "stream_dedup_then_rollup",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT date_trunc('day', ts) AS window_start,
           date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_events
    FROM events, wm
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w
    GROUP BY 1, 2
    """,
)
def stream_dedup_then_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once daily counts from an AT-LEAST-ONCE source: the
    stream delivers every event TWICE (the staged duplicated source —
    what a replaying upstream or an at-least-once bus actually hands
    you), a ``dropDuplicatesWithinWatermark`` on event_id collapses the
    replays, and a chained event-time window aggregation counts the
    survivors per day — the second multiple-stateful-operator
    combination (dedup -> agg) next to stream_hourly_daily_rollup's
    agg -> agg.

    The oracle counts DISTINCT event_ids per day over the SINGLE-copy
    table with the standard finite-drain cutoff — so the hash match
    proves the dedup state removed every duplicate before it could
    double a window count (a plain count over the duplicated source
    would be exactly 2x and fail loudly). Dedup state expires with the
    watermark (bounded, unlike plain streaming dropDuplicates);
    RocksDB-backed at cluster scale like every stateful op here.
    """
    from bcg_contacts_data_pipeline_spark import streaming as S

    st = S.events_stream_duplicated(spark, sf_dir, copies=2)
    dd = st.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = dd.groupBy(F.window("ts", "1 day").alias("__w")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    out = agg.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        "n_events",
    )
    return S.run_available_now(out, "append", shuffle_partitions=8)


# ---------------------------------------------------------------------------
# IGNORE NULLS window navigation: first/last known value per user.
# ---------------------------------------------------------------------------


@register(
    "user_value_bookends",
    oracle="""
    WITH w AS (
      SELECT user_id,
             first_value(pv IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS first_purchase_value,
             last_value(pv IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_purchase_value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM (SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'purchase' THEN value END AS pv
            FROM events))
    SELECT user_id, first_purchase_value, last_purchase_value
    FROM w WHERE rn = 1 AND first_purchase_value IS NOT NULL
    """,
)
def user_value_bookends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user, the FIRST and LAST known purchase value across a
    timeline where most rows carry no purchase — ``first_value`` /
    ``last_value`` with IGNORE NULLS over an unbounded frame, the
    null-skipping window-navigation feature the board's lag/lead and
    gap-fill queries approximate with joins and conditional mins. The
    sentinel projection (value only on purchase rows, NULL elsewhere)
    is the standard trick that turns "latest known reading" into one
    window; one row per user survives via row_number. All three
    windows share ONE user partitioning and sort. Values are raw
    doubles carried, never arithmetic — engine-exact.
    """
    ev = _events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "pv"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.first("pv", ignorenulls=True)
            .over(w)
            .alias("first_purchase_value"),
            F.last("pv", ignorenulls=True)
            .over(w)
            .alias("last_purchase_value"),
            F.row_number().over(wn).alias("rn"),
        )
        .filter(
            (F.col("rn") == 1)
            & F.col("first_purchase_value").isNotNull()
        )
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Chained stream-stream join -> window aggregation.
# ---------------------------------------------------------------------------


@register(
    "stream_join_then_rollup",
    oracle="""
    WITH wm AS (
      SELECT LEAST(
               (SELECT max(ts) FROM events WHERE event_type = 'view'),
               (SELECT max(ts) FROM events WHERE event_type = 'click'))
             - INTERVAL 1 HOUR AS w)
    SELECT date_trunc('day', c.ts) AS window_start,
           date_trunc('day', c.ts) + INTERVAL 1 DAY AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n_attributed
    FROM events v
    JOIN events c
      ON c.user_id = v.user_id
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
    CROSS JOIN wm
    WHERE v.event_type = 'view' AND c.event_type = 'click'
      AND date_trunc('day', c.ts) + INTERVAL 1 DAY <= wm.w
    GROUP BY 1, 2
    """,
)
def stream_join_then_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream JOIN chained into a windowed aggregation — the
    third and last multiple-stateful-operator combination
    (join -> agg, next to agg -> agg in stream_hourly_daily_rollup and
    dedup -> agg in stream_dedup_then_rollup): attributed clicks
    (view-to-click pairs within 6 hours, the stream_click_attribution
    join) rolled up to daily counts INSIDE the same streaming query —
    the production form of an attribution dashboard, where shipping
    the raw pair stream to a second job would double the state cost.

    The daily window groups on the CLICK timestamp (the join output
    column that still carries watermark metadata); matched pairs flow
    to the aggregation in the micro-batch they match, and the window
    flushes when the GLOBAL watermark — the minimum over both inputs'
    (max event time - delay), as for every two-input stateful op —
    passes its end. The oracle states exactly that cutoff with
    LEAST(max view, max click) - 1 hour, the same convention
    stream_click_attribution_outer certifies for null emission.
    """
    from bcg_contacts_data_pipeline_spark import streaming as S

    views = (
        S.events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
    )
    clicks = (
        S.events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    joined = S.stream_stream_time_join(
        views,
        clicks,
        left_key="user_id",
        right_key="c_user_id",
        left_ts="view_ts",
        right_ts="click_ts",
        within="6 HOURS",
        watermark="1 hour",
    )
    daily = joined.groupBy(
        F.window("click_ts", "1 day").alias("__w")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_attributed"))
    out = daily.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        "n_attributed",
    )
    return S.run_available_now(out, "append", shuffle_partitions=8)


# ---------------------------------------------------------------------------
# Production state-store introspection.
#
# Spark 4's state data source (`spark.read.format("statestore")`) turns
# a streaming checkpoint into a queryable batch table — the
# ops/debugging surface a production streaming deployment needs (what is
# my sessionizer holding? which keys are stuck open?). The reference's
# analogue is its audit-log-as-oracle pattern
# (`fill_missing_contacts.py:124-131`: every mutation journaled so final
# state is re-derivable and checkable); here the journal is the
# checkpoint itself.
#
# ``statestore_open_sessions`` is the certified entry: it drains the
# emit-on-close sessionizer (`stream_sessions_timeout`'s operator) to a
# durable checkpoint, then reads the checkpoint's state store back and
# returns the OPEN sessions — the exact complement of the emitted set,
# so the DuckDB oracle is the complement of `stream_sessions_timeout`'s
# (is_last sessions whose ``end + gap`` has not yet passed the final
# watermark). Emitted ∪ state == batch sessionization is separately
# asserted in `tests/test_streaming.py::
# test_statestore_reader_reconciles_open_sessions`.
#
# Scale: the state read is one task per state-store partition, reading
# only the final snapshot/delta files — proportional to OPEN keys, never
# to the event history. At 100 TB of events the open-session state is
# bounded by active users within one watermark horizon.
# ---------------------------------------------------------------------------


def _ensure_state_coordinator(spark: SparkSession) -> bool:
    """The statestore batch reader resolves state through the session's
    StateStoreCoordinator RPC endpoint, which Spark creates LAZILY on the
    first streaming-query start — a session that has only ever read
    batch data has no endpoint and the read fails with
    CANNOT_LOAD_STATE_STORE / RpcEndpointNotFoundException. Touch the
    (private[sql] — public in bytecode) lazy val to force creation.
    Returns False if the internal accessor is unavailable, in which case
    the caller must guarantee a streaming query ran in this session."""
    try:
        (
            spark._jsparkSession.sessionState()
            .streamingQueryManager()
            .stateStoreCoordinator()
        )
        return True
    except Exception:  # noqa: BLE001 — internal API; fall back to a drain
        return False


#: set after this process drains once: the drain itself creates the
#: StateStoreCoordinator, so later reuse never needs the internal
#: accessor (and never falls into a rebuild loop if that API vanishes)
_DRAINED_THIS_PROCESS = False


def _events_fingerprint(sf_dir: str) -> str:
    """Cheap content fingerprint of the events table: sorted relative
    file names + sizes + mtimes. Regenerating the data at the same path
    changes the fingerprint, so a cached checkpoint can never serve
    state computed from old rows."""
    root = os.path.join(sf_dir, "events.parquet")
    parts = []
    if os.path.isdir(root):
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                parts.append(
                    f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}"
                )
    elif os.path.exists(root):
        st = os.stat(root)
        parts.append(f".:{st.st_size}:{st.st_mtime_ns}")
    # os.walk yields directories in arbitrary scandir order — sort the
    # COLLECTED relpaths so the digest is canonical for partitioned
    # (nested) parquet, not dependent on filesystem enumeration order
    return "|".join(sorted(parts))


def _drained_sessions_checkpoint(spark: SparkSession, sf_dir: str) -> str:
    """Drain the sessionizer once per (process, data version) into a
    content-keyed temp checkpoint; reuse on later calls. Publication is
    an ATOMIC RENAME of a uniquely-named build dir, so a reader can
    never observe a partial checkpoint and concurrent builders race
    harmlessly (first rename wins, losers discard their build)."""
    global _DRAINED_THIS_PROCESS
    import shutil
    import uuid

    from bcg_contacts_data_pipeline_spark import streaming as S

    # cache key = data fingerprint + operator schemas: either changing
    # invalidates checkpoints left by older data or older code
    from bcg_contacts_data_pipeline_spark.streaming import ops as _ops

    salt = (
        f"{sf_dir}|{_events_fingerprint(sf_dir)}|{_ops._SESSION_OUT_SCHEMA}"
        f"|{_ops._SESSION_STATE_SCHEMA}|gap30m"
    )
    digest = hashlib.sha256(salt.encode()).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), f"bcg_sessions_ckpt_{digest}")
    ckpt = os.path.join(root, "ckpt")

    if os.path.isdir(root):  # rename-published => complete
        try:
            # refresh the root's mtime on every reuse: the sweep below
            # ages roots by mtime, and a long-lived process re-reading
            # one digest must keep it out of other processes' sweeps
            os.utime(root)
        except OSError:
            pass
        if _DRAINED_THIS_PROCESS or _ensure_state_coordinator(spark):
            return ckpt
        # coordinator can't be forced and no drain ran yet in this
        # process: fall through once — the drain below creates the
        # endpoint the statestore read needs (flag prevents loops)
    else:
        _ensure_state_coordinator(spark)

    build = f"{root}.build-{uuid.uuid4().hex[:8]}"
    os.makedirs(build)
    st = S.events_stream(spark, sf_dir).select("user_id", "ts")
    sess = S.session_close_stream(
        st, "ts", gap="30 minutes", watermark="30 minutes"
    )
    # scoped shuffle override, same rationale as runner.run_available_now:
    # one state store per shuffle partition is per-query fixed cost
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        S.run_to_files(
            sess,
            os.path.join(build, "out"),
            os.path.join(build, "ckpt"),
            output_mode="append",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    _DRAINED_THIS_PROCESS = True
    try:
        os.rename(build, root)
    except OSError:
        # a concurrent builder published first; theirs is complete
        shutil.rmtree(build, ignore_errors=True)
    # bound /tmp growth: sweep SUPERSEDED roots (other digests — old
    # data versions / old code) once they're a day old; the age floor
    # plus the cache-hit utime above keeps us from deleting a
    # checkpoint a concurrent process is actively re-reading, and the
    # OSError guard covers a concurrent sweeper winning the race
    # between glob and stat
    import glob as _glob
    import time as _time

    now = _time.time()
    for other in _glob.glob(
        os.path.join(tempfile.gettempdir(), "bcg_sessions_ckpt_*")
    ):
        try:
            if other != root and now - os.path.getmtime(other) > 86_400:
                shutil.rmtree(other, ignore_errors=True)
        except OSError:
            pass  # another sweeper removed it between glob and stat
    return ckpt


@register(
    "statestore_open_sessions",
    # the EXACT complement of stream_sessions_timeout's cutoff, built
    # from the same shared scaffold so the complement law cannot drift
    oracle=SESSIONS_ORACLE_TEMPLATE.format(
        cutoff="""is_last
      AND session_end + INTERVAL 30 MINUTE >= wm.w"""
    ),
)
def statestore_open_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint state introspection: the sessions still OPEN in the
    sessionizer's state store after a finite AvailableNow drain, read
    back through the Spark 4 state data source. Exact complement of
    ``stream_sessions_timeout``'s emitted set (same watermark algebra,
    flipped inequality) — together they partition the batch
    sessionization, which the oracle states declaratively."""
    ckpt = _drained_sessions_checkpoint(spark, sf_dir)
    state = spark.read.format("statestore").option("path", ckpt).load()
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.timestamp_micros(F.col("value.groupState.start")).alias(
            "session_start"
        ),
        F.timestamp_micros(F.col("value.groupState.end")).alias(
            "session_end"
        ),
        F.col("value.groupState.n").alias("n_events"),
    )
