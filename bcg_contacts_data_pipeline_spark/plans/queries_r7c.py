"""Round-7 second-continuation surface: analytic shapes the board did
not yet exercise, each chosen for a *distinct plan feature* plus a
100 TB story.

1. ``skyline_pareto`` — 2-D Pareto frontier (skyline) with the
   distributive prune: skylines satisfy skyline(S) = skyline(skyline(S1)
   ∪ skyline(S2)), so a data-independent bucket prune reduces the input
   to frontier candidates before the exact value-RANGE window runs.
   The only RANGE-frame (value-based window bounds) query on the board.
2. ``drift_split_audit`` — train-monitoring distribution drift between
   the first and second half of the event log: per-class total-variation
   and Hellinger terms. Engineered bit-exact: integer epoch-micros
   midpoint, integer counts, and only correctly-rounded IEEE ops
   (single division, sqrt, multiply, abs) per output cell — no float
   summation, no libm log (whose last-ulp differs across engines).
3. ``basket_brand_lift`` — market-basket co-occurrence: support /
   confidence / lift for brand pairs purchased in the same order,
   pairs generated from per-order arrays (no self-join); fan-out is
   capped by order width, a per-entity property that does not grow
   with table size.
4. ``conversion_lag_curve`` — censored time-to-event (first view →
   first purchase) distribution: day-bucketed conversions, censor
   counts, at-risk population, cumulative conversion rate. Kaplan-Meier
   numerators/denominators kept as exact integers; the one float is a
   single division.
5. ``pagerank_nation_flow`` — three damped PageRank hops in fixed-point
   integer arithmetic (bit-identical across engines; dangling mass
   redistributed; unrolled-CTE oracle).
6. ``session_error_overlap`` — interval-overlap join stated as a
   non-equi range join by the oracle, planned as a bucketed equi-join
   on hour chunks (no nested loop).
7. ``prefix_jaccard_pairs`` — exact set-similarity join by PREFIX
   FILTERING (AllPairs/PPJoin): lossless sub-quadratic candidates,
   certified by hash-matching the declarative full-join oracle.
8. ``stream_hourly_daily_rollup`` — two chained event-time window
   aggregations in one streaming query (multiple stateful operators),
   finite-drain cutoff stated exactly.
9. ``lang_weighted_median`` — exact weighted median per group via a
   compressed (group, value) weight grid and an integer half-crossing
   compare (no division).
10. ``profile_unpivot`` — UNPIVOT: fused wide profile row melted via
    ``stack()`` into tidy (col_name, metric, value) triples.
11. ``seasonal_naive_backtest`` — a series equi-joined to its
    week-lagged self by TIME key (gap-safe where a row-offset LAG
    would misalign); per-type MAE from exact integer errors.
12. ``trend_ols_by_type`` — single-pass distributed OLS from exact
    sufficient statistics; slope/intercept as a fixed IEEE dag that
    hash-matches the oracle.
13. ``stream_dedup_then_rollup`` — exactly-once daily counts from an
    at-least-once (duplicated) source: dropDuplicatesWithinWatermark
    chained into a windowed aggregation (the dedup -> agg
    multiple-stateful-operator combination).
14. ``lateral_top_parts`` — LATERAL correlated subquery with ORDER +
    LIMIT, hash-pinned to its decorrelated window form.
15. ``compound_balance_rcte`` — a RECURSIVE CTE (Spark >= 4.0) driving
    an integer recurrence (floor-interest compounding) that no window
    rewrite can express; bit-identical across engines; granularity
    chosen from the measured per-iteration UnionLoop cost.
16. ``sql_udf_pricing`` — named SQL-defined scalar functions (CREATE
    FUNCTION ... RETURN expr) carrying the Q1 money math; plan-asserted
    to inline fully into the Catalyst aggregate (zero Python).
17. ``collation_group_dedup`` — case-insensitive COLLATE UTF8_LCASE
    grouping with a binary-collated distinct in the same aggregate —
    the typed form of the reference's lower-everything matching.
18. ``order_percentile_position`` — percent_rank / cume_dist relative
    ranks per class, top-percentile filtered.
19. ``grouping_sets_revenue`` — explicit GROUPING SETS (arbitrary
    slice subset) with portable GROUPING-bit slice ids.
20. ``user_value_bookends`` — first/last_value IGNORE NULLS window
    navigation over a sentinel projection.
21. ``try_functions_audit`` — the try_divide / try_to_timestamp /
    try_cast family: ANSI-mode failure as a countable fact (the
    reference's errors='coerce' habit, typed).
22. ``bitmap_distinct_users`` — bitmap partials (Spark >= 3.5): the
    distinct-count that is mergeable AND exact on dense integer keys,
    completing the COUNT(DISTINCT) / HLL / bitmap trilogy.
23. ``csv_line_roundtrip`` — from_csv expression parsing of TSV lines
    (the reference's wire format) proven lossless by aggregating the
    parsed struct against the original columns.
24. ``stream_join_then_rollup`` — stream-stream join chained into a
    windowed aggregation (join -> agg), completing the
    multiple-stateful-operator trilogy; global-watermark cutoff stated
    exactly by the oracle.

Reference parity note: the reference pipeline
(/root/reference/cleaning/clean_contacts.py and siblings) has no
analytics surface — this module extends the beyond-reference board
SURVEY.md §2 commits to, same determinism rules as queries_r7b.py
(integer math until the last op; every float produced by ONE
correctly-rounded IEEE operation written identically in both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.pins import checkpoint, pin
from bcg_contacts_data_pipeline_spark.plans.queries import (
    _events,
    _t,
    register,
)

# ---------------------------------------------------------------------------
# Pareto frontier (skyline): minimize price, maximize size.
# ---------------------------------------------------------------------------


@register(
    "skyline_pareto",
    oracle="""
    WITH base AS (
      SELECT p_partkey, p_brand, p_retailprice, p_size,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents
      FROM part),
    w AS (
      SELECT *,
             MAX(p_size) OVER (ORDER BY cents
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prior_max,
             MAX(p_size) OVER (PARTITION BY cents) AS same_price_max
      FROM base)
    SELECT p_partkey, p_brand, p_retailprice, p_size
    FROM w
    WHERE (prior_max IS NULL OR p_size > prior_max)
      AND p_size = same_price_max
    """,
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of ``part`` under (minimize p_retailprice,
    maximize p_size): a part survives iff no other part is cheaper-or-
    equal AND bigger-or-equal with at least one strict. Equal
    (price, size) duplicates all survive (neither strictly dominates).

    Two stages, exploiting that skylines are distributive:

    1. **Bucket prune** (the 100 TB stage): group prices into
       data-independent $5 buckets, take each bucket's max size (a tiny
       map-side-combinable agg), cumulative-max those ~20 rows, and
       broadcast-join back: any row whose size fails to beat the best
       size of a *strictly cheaper* bucket is dominated and dropped.
       Survivors are O(frontier), not O(table).
    2. **Exact window** on the survivors: the cumulative-max-over-
       strictly-smaller-price formulation of the 2-D skyline —
       ``MAX(size) OVER (ORDER BY cents RANGE UNBOUNDED PRECEDING TO 1
       PRECEDING)`` (value-based frame excludes price ties) plus a
       same-price max for the tie rule. The global-order window is safe
       *because* stage 1 shrank the input; the oracle runs the same
       window over the full table, proving prune-losslessness at sf.

    Prices are carried as exact integer cents (one ROUND of
    double*100 — identical in both engines); sizes are ints.
    """
    base = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_retailprice",
        "p_size",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    # Stage 1: distributive prune on $5 (500-cent) buckets.
    bucketed = base.withColumn("bucket", F.expr("cents DIV 500"))
    bmax = bucketed.groupBy("bucket").agg(F.max("p_size").alias("msize"))
    wprior = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prior = bmax.select(
        "bucket", F.max("msize").over(wprior).alias("bucket_prior_max")
    )
    survivors = (
        bucketed.join(F.broadcast(prior), "bucket")
        .filter(
            F.col("bucket_prior_max").isNull()
            | (F.col("p_size") > F.col("bucket_prior_max"))
        )
        .drop("bucket", "bucket_prior_max")
    )
    # Stage 2: exact skyline window over the pruned candidates.
    w1 = Window.orderBy("cents").rangeBetween(Window.unboundedPreceding, -1)
    w2 = Window.partitionBy("cents")
    flagged = survivors.select(
        "p_partkey",
        "p_brand",
        "p_retailprice",
        "p_size",
        F.max("p_size").over(w1).alias("prior_max"),
        F.max("p_size").over(w2).alias("same_price_max"),
    )
    return flagged.filter(
        (F.col("prior_max").isNull() | (F.col("p_size") > F.col("prior_max")))
        & (F.col("p_size") == F.col("same_price_max"))
    ).select("p_partkey", "p_brand", "p_retailprice", "p_size")


# ---------------------------------------------------------------------------
# Distribution drift audit: first half vs second half of the event log.
# ---------------------------------------------------------------------------


@register(
    "drift_split_audit",
    oracle="""
    WITH ev AS (
      SELECT event_type, epoch_us(ts) AS us FROM events),
    thr AS (
      SELECT (MIN(us) + MAX(us)) // 2 AS thr FROM ev),
    c AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN us <= thr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_first,
             CAST(SUM(CASE WHEN us > thr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_second
      FROM ev, thr GROUP BY event_type),
    t AS (
      SELECT CAST(SUM(n_first) AS BIGINT) AS tot_first,
             CAST(SUM(n_second) AS BIGINT) AS tot_second
      FROM c)
    SELECT event_type, n_first, n_second,
           CAST(n_first AS DOUBLE) / CAST(tot_first AS DOUBLE)
             AS share_first,
           CAST(n_second AS DOUBLE) / CAST(tot_second AS DOUBLE)
             AS share_second,
           ABS(CAST(n_first AS DOUBLE) / CAST(tot_first AS DOUBLE)
               - CAST(n_second AS DOUBLE) / CAST(tot_second AS DOUBLE))
             AS abs_diff,
           (SQRT(CAST(n_first AS DOUBLE) / CAST(tot_first AS DOUBLE))
            - SQRT(CAST(n_second AS DOUBLE) / CAST(tot_second AS DOUBLE)))
           * (SQRT(CAST(n_first AS DOUBLE) / CAST(tot_first AS DOUBLE))
              - SQRT(CAST(n_second AS DOUBLE) / CAST(tot_second AS DOUBLE)))
             AS hellinger_term
    FROM c, t
    """,
)
def drift_split_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-class distribution drift between the first and second half of
    the event log — the audit a training pipeline runs before trusting
    a temporal train/validation split (did the event mix shift under
    us?). Per event_type: counts in each half, shares, total-variation
    term |p - q|, and Hellinger term (sqrt(p) - sqrt(q))².

    Determinism engineering (why TVD + Hellinger, not PSI/KL): every
    output float is produced by correctly-rounded IEEE-754 ops only —
    one division per share, sqrt (correctly rounded by spec), subtract,
    multiply, abs. PSI/KL need libm ``log``, which is NOT correctly
    rounded and differs in the last ulp between the JVM and DuckDB.
    There is also no cross-row float summation anywhere (the per-class
    terms are the deliverable; a total would sum doubles in engine-
    dependent order). The half-split midpoint is exact integer
    arithmetic on epoch microseconds (``(min+max) DIV 2``).

    Scale: one scan; the scalar threshold is a 1-row broadcast attach;
    the per-class agg is map-side combinable; the totals join is over
    the 5-row class frame. No shuffle touches raw rows except the
    class groupBy.
    """
    ev = _events(spark, sf_dir).select(
        "event_type", F.unix_micros("ts").alias("us")
    )
    thr = ev.agg(
        F.expr("(MIN(us) + MAX(us)) DIV 2").alias("thr")
    )
    # Persisted once: the totals agg and the final projection both
    # read it; tiny (one row per event_type).
    c = pin(
        ev.crossJoin(F.broadcast(thr))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("us") <= F.col("thr"), 1).otherwise(0))
            .cast("long")
            .alias("n_first"),
            F.sum(F.when(F.col("us") > F.col("thr"), 1).otherwise(0))
            .cast("long")
            .alias("n_second"),
        )
    )
    t = c.agg(
        F.sum("n_first").cast("long").alias("tot_first"),
        F.sum("n_second").cast("long").alias("tot_second"),
    )
    p = F.col("n_first").cast("double") / F.col("tot_first").cast("double")
    q = F.col("n_second").cast("double") / F.col("tot_second").cast("double")
    d = F.sqrt(p) - F.sqrt(q)
    return c.crossJoin(F.broadcast(t)).select(
        "event_type",
        "n_first",
        "n_second",
        p.alias("share_first"),
        q.alias("share_second"),
        F.abs(p - q).alias("abs_diff"),
        (d * d).alias("hellinger_term"),
    )


# ---------------------------------------------------------------------------
# Market-basket association: brand pairs co-purchased in one order.
# ---------------------------------------------------------------------------


@register(
    "basket_brand_lift",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    tot AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM ob),
    per AS (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n FROM ob GROUP BY p_brand),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY a.p_brand, b.p_brand)
    SELECT brand_a, brand_b, n_both,
           CAST(n_both AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
           CAST(n_both AS DOUBLE) / CAST(pa.n AS DOUBLE)
             AS confidence_a_to_b,
           CAST(n_both * n_orders AS DOUBLE) / CAST(pa.n * pb.n AS DOUBLE)
             AS lift
    FROM pairs
    JOIN per pa ON pa.p_brand = brand_a
    JOIN per pb ON pb.p_brand = brand_b
    CROSS JOIN tot
    """,
)
def basket_brand_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Market-basket association mining at brand granularity: for every
    pair of brands bought together in at least one order, the support
    (share of orders containing both), directional confidence
    P(b | a), and lift (observed co-occurrence over the independence
    expectation). Lift > 1 ⇒ brands attract, < 1 ⇒ repel.

    Shape: fact-to-dim join for the brand label, DISTINCT to one row
    per (order, brand), then a self-equi-join on the order key with an
    anti-symmetry residual (brand_a < brand_b) so each pair counts
    once (the oracle's formulation). The Spark plan generates pairs
    WITHOUT a self-join: one groupBy(order) collects each order's
    distinct-brand set, and an array expression emits, per order, its
    C(width, 2) sorted pairs PLUS one single-brand marker per brand
    PLUS one order marker — so pair counts, per-brand marginals, and
    the order total all fall out of ONE second groupBy over the
    exploded markers. Two data shuffles total, each over rows linear
    in orders: order width is a per-entity property that does not grow
    with table size (p99 = 9 lines in this corpus at every sf — pinned
    by tests/test_queries_r7c.py), the structural analogue of the
    `max_df` cap the n-gram pair generators need artificially. The
    ≤300-row pair/marginal/total frames then recombine via broadcast
    joins.

    Floats: three divisions, each a single IEEE op over exact BIGINT
    products (n_both·n_orders ≤ 2^40 at any realistic scale — exact in
    BIGINT and as double).
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("brands"))
    )
    # One exploded marker stream: (a, b) = pair, (a, NULL) = brand
    # present in the order, (NULL, NULL) = the order itself.
    markers = ob.select(
        F.explode(
            F.expr(
                """
                concat(
                  flatten(transform(brands, (x, i) ->
                    transform(slice(brands, i + 2, size(brands)),
                              y -> named_struct('a', x, 'b', y)))),
                  transform(brands, x ->
                    named_struct('a', x, 'b', cast(null as string))),
                  array(named_struct('a', cast(null as string),
                                     'b', cast(null as string)))
                )
                """
            )
        ).alias("m")
    )
    # Persisted once: four consumers (pairs, both marginals, the order
    # total) would otherwise each replay the two big shuffles. The
    # frame is tiny (≤ brands² + brands + 1 rows).
    counts = pin(
        markers.groupBy(
            F.col("m.a").alias("a"), F.col("m.b").alias("b")
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = counts.filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    ).select(
        F.col("a").alias("brand_a"),
        F.col("b").alias("brand_b"),
        F.col("n").alias("n_both"),
    )
    pa = counts.filter(
        F.col("a").isNotNull() & F.col("b").isNull()
    ).select(F.col("a").alias("brand_a"), F.col("n").alias("n_a"))
    pb = pa.select(
        F.col("brand_a").alias("brand_b"), F.col("n_a").alias("n_b")
    )
    tot = counts.filter(F.col("a").isNull()).select(
        F.col("n").alias("n_orders")
    )
    return (
        pairs.join(F.broadcast(pa), "brand_a")
        .join(F.broadcast(pb), "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            (
                F.col("n_both").cast("double")
                / F.col("n_orders").cast("double")
            ).alias("support"),
            (
                F.col("n_both").cast("double") / F.col("n_a").cast("double")
            ).alias("confidence_a_to_b"),
            (
                (F.col("n_both") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
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
# Fixed-point PageRank over the nation trade-flow graph.
# ---------------------------------------------------------------------------

_PR_ORACLE = """
    WITH e AS (
      SELECT s_nationkey AS src, c_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY 1, 2),
    o AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS outc FROM e GROUP BY src),
    p AS (SELECT e.src, e.dst, (cnt * 1000000) // outc AS pfp
          FROM e JOIN o ON o.src = e.src),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation),
    r0 AS (SELECT n_nationkey AS node,
                  1000000000000 // n AS r
           FROM nation, nn),
    d1 AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS d
           FROM r0 WHERE node NOT IN (SELECT src FROM o)),
    c1 AS (SELECT dst AS node, CAST(SUM((r * pfp) // 1000000) AS BIGINT) AS s
           FROM r0 JOIN p ON p.src = r0.node GROUP BY dst),
    r1 AS (SELECT n_nationkey AS node,
                  CAST((15 * 1000000000000) // (100 * n)
                       + (85 * (COALESCE(s, 0) + d // n)) // 100 AS BIGINT)
                    AS r
           FROM nation CROSS JOIN nn CROSS JOIN d1
           LEFT JOIN c1 ON c1.node = n_nationkey),
    d2 AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS d
           FROM r1 WHERE node NOT IN (SELECT src FROM o)),
    c2 AS (SELECT dst AS node, CAST(SUM((r * pfp) // 1000000) AS BIGINT) AS s
           FROM r1 JOIN p ON p.src = r1.node GROUP BY dst),
    r2 AS (SELECT n_nationkey AS node,
                  CAST((15 * 1000000000000) // (100 * n)
                       + (85 * (COALESCE(s, 0) + d // n)) // 100 AS BIGINT)
                    AS r
           FROM nation CROSS JOIN nn CROSS JOIN d2
           LEFT JOIN c2 ON c2.node = n_nationkey),
    d3 AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS d
           FROM r2 WHERE node NOT IN (SELECT src FROM o)),
    c3 AS (SELECT dst AS node, CAST(SUM((r * pfp) // 1000000) AS BIGINT) AS s
           FROM r2 JOIN p ON p.src = r2.node GROUP BY dst),
    r3 AS (SELECT n_nationkey AS node,
                  CAST((15 * 1000000000000) // (100 * n)
                       + (85 * (COALESCE(s, 0) + d // n)) // 100 AS BIGINT)
                    AS r
           FROM nation CROSS JOIN nn CROSS JOIN d3
           LEFT JOIN c3 ON c3.node = n_nationkey)
    SELECT n_name, r AS rank_fp,
           CAST(r AS DOUBLE) / 1000000000000.0 AS rank
    FROM r3 JOIN nation ON n_nationkey = node
"""


@register("pagerank_nation_flow", oracle=_PR_ORACLE)
def pagerank_nation_flow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Three damped PageRank iterations (d = 0.85) over the nation
    trade-flow graph: an edge src -> dst weighted by the number of line
    items a supplier in nation src shipped to a customer in nation dst.
    The iterative-relaxation shape (rank vector times sparse transition
    matrix, k times) that CC's min-label propagation does NOT cover —
    PageRank redistributes *mass* through weighted edges rather than
    propagating a min.

    Determinism: the entire iteration runs in FIXED-POINT integer
    arithmetic — ranks in units of 1e-12, transition probabilities in
    units of 1e-6, every division a truncating integer DIV and every
    cross-row reduction an exact BIGINT sum — so three chained
    iterations are bit-identical across engines (a float PageRank
    would accumulate order-dependent summation deltas each hop).
    Bounds: rank mass ≤ 1e12 and pfp ≤ 1e6, so the per-edge product is
    ≤ 1e18 < 2^63 regardless of data scale; edge counts up to 1e12
    rows fit cnt * 1e6 the same way. The only float is the final
    display division by 1e12.

    Scale: the one heavy phase is the edge aggregation — a fact-table
    groupBy after dimension joins (same join graph as q7), shrinking
    100 TB of lineitem to |nations|² = 625 edge rows. Iterations then
    run on the aggregated graph: tiny joins, pinned transition frame,
    each hop's rank vector checkpointed. Dangling nodes (nations with
    no outgoing shipments — 15 of 25 at sf0.001!) get the standard
    treatment: their mass is summed each hop (left-anti against the
    source set) and redistributed uniformly, keeping total mass at 1e12
    up to truncation — without it, dangling mass evaporates and the
    vector decays toward the damping floor.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = e.groupBy("src").agg(F.sum("cnt").alias("outc"))
    # Pinned: the transition matrix is re-read by every iteration.
    p = pin(
        e.join(out, "src").select(
            "src", "dst", F.expr("(cnt * 1000000) DIV outc").alias("pfp")
        )
    )
    nn = na.agg(F.count(F.lit(1)).alias("n"))
    srcs = p.select("src").distinct()
    r = na.crossJoin(F.broadcast(nn)).select(
        F.col("n_nationkey").alias("node"),
        F.expr("1000000000000 DIV n").alias("r"),
    )
    base_nodes = na.crossJoin(F.broadcast(nn)).select(
        F.col("n_nationkey").alias("node"), "n"
    )
    for _ in range(3):
        dang = r.join(
            srcs, r.node == srcs.src, "left_anti"
        ).agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("d"))
        contrib = (
            r.join(p, r.node == p.src)
            .groupBy("dst")
            .agg(F.expr("CAST(SUM((r * pfp) DIV 1000000) AS BIGINT)").alias("s"))
            .withColumnRenamed("dst", "node")
        )
        r = (
            base_nodes.crossJoin(F.broadcast(dang))
            .join(F.broadcast(contrib), "node", "left")
            .select(
                "node",
                F.expr(
                    "CAST((15 * 1000000000000) DIV (100 * n)"
                    " + (85 * (COALESCE(s, 0) + d DIV n)) DIV 100 AS BIGINT)"
                ).alias("r"),
            )
        )
        # Same lineage hygiene as connected_components: each hop's rank
        # vector (|nations| rows) is checkpointed so three chained
        # iterations don't nest the whole prior plan under the next —
        # without this the printed plan re-inlines the pinned
        # transition frame ~5x per hop and the lineage grows
        # geometrically with iteration count.
        r = checkpoint(r)
    return r.join(F.broadcast(na), r.node == na.n_nationkey).select(
        "n_name",
        F.col("r").alias("rank_fp"),
        (F.col("r").cast("double") / F.lit(1000000000000.0)).alias("rank"),
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
# Prefix-filtered exact set-similarity join (AllPairs/PPJoin rule).
# ---------------------------------------------------------------------------

#: Shared with ``incremental_neardup`` (plans/queries_r9.py), which adds
#: a new-batch restriction — the text lives in the leaf module
#: ``oracle_templates`` so every package import order is safe (see its
#: docstring); re-exported here for the pre-existing import surface.
from bcg_contacts_data_pipeline_spark.plans.oracle_templates import (  # noqa: E402
    JACCARD_PAIRS_ORACLE_TEMPLATE,
)


@register(
    "prefix_jaccard_pairs",
    oracle=JACCARD_PAIRS_ORACLE_TEMPLATE.format(extra_where=""),
)
def prefix_jaccard_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.5 pairs via PREFIX FILTERING — the
    third member of the near-dup join family and the second exact one:

    - ``ngram_jaccard``: full inverted-index join (exact baseline,
      every shared shingle generates candidates);
    - ``minhash_recall`` / ``decontaminate``: banded LSH
      (probabilistic, certified by recall floor);
    - this query: candidates ONLY from each document's rarest-first
      prefix (lossless by the pigeonhole/prefix theorem), then exact
      verification — sub-quadratic candidate generation WITHOUT giving
      up recall = 1.

    The oracle is the declarative full O(shared-shingle) join at the
    same threshold, so the driver's hash check IS the losslessness
    proof of the prefix rule at sf (any missed pair would drop a row).
    Determinism per the operator docstring: integer prefix lengths,
    array_intersect counts, one IEEE division.
    """
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        prefix_filter_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return prefix_filter_pairs(
        docs, "doc_id", "text", n=3, t_num=1, t_den=2
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
# Weighted median per group (exact, integer weights).
# ---------------------------------------------------------------------------


@register(
    "lang_weighted_median",
    oracle="""
    WITH toks AS (
      SELECT lang,
             CAST(CASE WHEN length(trim(text)) > 0
                  THEN len(string_split_regex(trim(text), '\\s+'))
                  ELSE 0 END AS BIGINT) AS tc,
             n_chars
      FROM documents),
    g AS (
      SELECT lang, tc, CAST(SUM(n_chars) AS BIGINT) AS w
      FROM toks GROUP BY lang, tc),
    cum AS (
      SELECT lang, tc,
             CAST(SUM(w) OVER (PARTITION BY lang ORDER BY tc
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cw,
             CAST(SUM(w) OVER (PARTITION BY lang) AS BIGINT) AS tw
      FROM g)
    SELECT lang,
           CAST(MIN(tc) AS BIGINT) AS weighted_median_tokens,
           CAST(MIN(tw) AS BIGINT) AS total_weight
    FROM cum WHERE 2 * cw >= tw
    GROUP BY lang
    """,
)
def lang_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median per group: the token count at which the
    cumulative character mass of a language crosses half its total —
    "the doc length where half this language's characters live below"
    — the curation statistic that, unlike the unweighted median
    (``lang_quantiles``), cannot be fooled by a swarm of tiny docs.

    The weighted median has no distributive/sketch shortcut in either
    engine, but it IS one pass of window algebra when the weights are
    integers: pre-aggregate weight per (group, value) — compressing
    duplicate values BEFORE the window, so the window frame is
    |distinct values| not |rows| — then a per-group running weight sum,
    then the smallest value whose doubled running weight reaches the
    group total (``2*cw >= tw``: the half-compare stays in exact
    integer arithmetic, no division anywhere). Lower-median convention,
    deterministic for any weights.

    Scale: both windows partition BY GROUP (no global window); the
    windowed frame is the compressed (lang, token-count) grid.
    """
    from bcg_contacts_data_pipeline_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    g = (
        docs.select(
            "lang", token_count("text").alias("tc"), "n_chars"
        )
        .groupBy("lang", "tc")
        .agg(F.sum("n_chars").cast("long").alias("w"))
    )
    wl = (
        Window.partitionBy("lang")
        .orderBy("tc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("lang")
    cum = g.select(
        "lang",
        "tc",
        F.sum("w").over(wl).cast("long").alias("cw"),
        F.sum("w").over(wt).cast("long").alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("lang")
        .agg(
            F.min("tc").cast("long").alias("weighted_median_tokens"),
            F.min("tw").cast("long").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# UNPIVOT: wide per-column profile -> long (column, metric, value).
# ---------------------------------------------------------------------------


@register(
    "profile_unpivot",
    oracle="""
    WITH s AS (
      SELECT CAST(COUNT(l_quantity) AS BIGINT) AS q_cnt,
             CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS q_null,
             CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS q_dist,
             CAST(COUNT(l_discount) AS BIGINT) AS d_cnt,
             CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS d_null,
             CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS d_dist,
             CAST(COUNT(l_returnflag) AS BIGINT) AS s_cnt,
             CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS s_null,
             CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS s_dist
      FROM lineitem)
    SELECT 'l_quantity' AS col_name, 'count' AS metric, q_cnt AS value FROM s
    UNION ALL SELECT 'l_quantity', 'n_null', q_null FROM s
    UNION ALL SELECT 'l_quantity', 'n_distinct', q_dist FROM s
    UNION ALL SELECT 'l_discount', 'count', d_cnt FROM s
    UNION ALL SELECT 'l_discount', 'n_null', d_null FROM s
    UNION ALL SELECT 'l_discount', 'n_distinct', d_dist FROM s
    UNION ALL SELECT 'l_returnflag', 'count', s_cnt FROM s
    UNION ALL SELECT 'l_returnflag', 'n_null', s_null FROM s
    UNION ALL SELECT 'l_returnflag', 'n_distinct', s_dist FROM s
    """,
)
def profile_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long): a single-pass multi-column profile row
    (count / nulls / distinct for three lineitem columns, one fused
    aggregate job like ``profile_columns``) melted into the tidy
    (col_name, metric, value) triple the metadata-catalog consumers of
    a profiler want. ``stack()`` is the one relational-algebra shape
    (UNPIVOT) the board did not yet exercise; it is a generator
    expression, not a shuffle — the whole query is one scan, one
    aggregate, and a 9-row projection.
    """
    li = _t(spark, sf_dir, "lineitem")
    wide = li.agg(
        F.count("l_quantity").cast("long").alias("q_cnt"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("q_null"),
        F.countDistinct("l_quantity").cast("long").alias("q_dist"),
        F.count("l_discount").cast("long").alias("d_cnt"),
        F.sum(F.when(F.col("l_discount").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("d_null"),
        F.countDistinct("l_discount").cast("long").alias("d_dist"),
        F.count("l_returnflag").cast("long").alias("s_cnt"),
        F.sum(F.when(F.col("l_returnflag").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("s_null"),
        F.countDistinct("l_returnflag").cast("long").alias("s_dist"),
    )
    return wide.select(
        F.expr(
            """
            stack(9,
              'l_quantity', 'count',      q_cnt,
              'l_quantity', 'n_null',     q_null,
              'l_quantity', 'n_distinct', q_dist,
              'l_discount', 'count',      d_cnt,
              'l_discount', 'n_null',     d_null,
              'l_discount', 'n_distinct', d_dist,
              'l_returnflag', 'count',      s_cnt,
              'l_returnflag', 'n_null',     s_null,
              'l_returnflag', 'n_distinct', s_dist)
              AS (col_name, metric, value)
            """
        )
    )


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
# LATERAL correlated subquery: top-k per group as a lateral join.
# ---------------------------------------------------------------------------


@register(
    "lateral_top_parts",
    oracle="""
    WITH ranked AS (
      SELECT p_brand, p_partkey, p_retailprice,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey)
               AS rn
      FROM part)
    SELECT p_brand, p_partkey, p_retailprice
    FROM ranked WHERE rn <= 2
    """,
)
def lateral_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 parts per brand expressed as a LATERAL correlated subquery
    (Spark >= 3.5 SQL): for each brand row, a correlated inner query
    ordered with LIMIT — the form a user ports verbatim from
    Postgres/DuckDB, and the last relational plan feature the board did
    not exercise. Catalyst DECORRELATES it: the optimized plan is the
    ranking-window top-k (no per-row re-execution, no nested loop), and
    the oracle states exactly that window formulation — the hash match
    pins the decorrelation as semantics-preserving, including the
    deterministic (price DESC, partkey) tie order. ``LIMIT`` without
    the ORDER requalification trap: the order lives INSIDE the lateral
    subquery, so ties cannot reshuffle across the limit boundary.
    """
    _t(spark, sf_dir, "part").createOrReplaceTempView("__lat_part")
    return spark.sql(
        """
        SELECT b.p_brand, t.p_partkey, t.p_retailprice
        FROM (SELECT DISTINCT p_brand FROM __lat_part) b,
        LATERAL (SELECT p_partkey, p_retailprice FROM __lat_part p
                 WHERE p.p_brand = b.p_brand
                 ORDER BY p_retailprice DESC, p_partkey
                 LIMIT 2) t
        """
    )


# ---------------------------------------------------------------------------
# Recursive CTE: integer compound-interest recurrence over monthly revenue.
# ---------------------------------------------------------------------------


@register(
    "compound_balance_rcte",
    oracle="""
    WITH RECURSIVE dep AS (
      SELECT r_name,
             CAST(yr - MIN(yr) OVER () AS INTEGER) AS m,
             CAST(ROUND(rev * 100) AS BIGINT) AS dep
      FROM (
        SELECT r_name,
               EXTRACT(YEAR FROM o_orderdate) AS yr,
               SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        FROM orders
        JOIN customer ON c_custkey = o_custkey
        JOIN nation   ON n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = n_regionkey
        GROUP BY r_name, yr)),
    bal(r_name, m, balance) AS (
      SELECT r_name, CAST(-1 AS INTEGER), CAST(0 AS BIGINT) FROM region
      UNION ALL
      SELECT b.r_name, CAST(b.m + 1 AS INTEGER),
             CAST(b.balance + b.balance // 10 + COALESCE(d.dep, 0)
                  AS BIGINT)
      FROM bal b
      JOIN (SELECT MAX(m) AS mx FROM dep) x ON b.m + 1 <= x.mx
      LEFT JOIN dep d ON d.r_name = b.r_name AND d.m = b.m + 1)
    SELECT r_name, m, balance,
           CAST(balance AS DOUBLE) / 100.0 AS balance_usd
    FROM bal WHERE m >= 0
    """,
)
def compound_balance_rcte(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A linear recurrence computed with a RECURSIVE CTE (Spark >= 4.0,
    UNION ALL form): per region, a balance that each year earns 10%
    floor-integer interest on itself and receives that year's order
    revenue as a deposit — ``bal[m+1] = bal[m] + bal[m] DIV 10 +
    dep[m+1]``. Because the interest FLOORS every step, there is no
    closed form and no window-function rewrite: each row genuinely
    needs the previous row's output, the one dependence shape the rest
    of the board's window algebra cannot express. Termination is
    structural (year index bounded by the deposit frame's max — an
    acyclic recursion, which matters because Spark's recursive CTE is
    UNION ALL-only and a cyclic graph would never converge).

    Exactness: deposits are decimal-summed revenue snapped to integer
    cents; the whole recurrence is BIGINT adds and truncating DIVs —
    chained years bit-identical in both engines; the only float is the
    display division. Scale: the recursion runs over the pinned
    |regions| x |years| aggregate (tiny), never the fact table — the
    fact scan happens once with map-side partial aggregation, the same
    aggregate-then-iterate layering as pagerank_nation_flow.
    Iteration economics, measured: Spark's UnionLoop pays plan + job
    latency PER ITERATION (~0.3 s each in local mode, data-size-
    independent here), so the recurrence granularity IS the cost knob —
    the monthly form of this query ran 80 iterations for 26 s; the
    yearly form runs 8 for ~2.5 s. Pick the coarsest granularity the
    semantics allow; window the recurrence if the horizon outgrows
    spark.sql.cteRecursionLevelLimit (default 100).
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            "r_name",
            F.expr("year(o_orderdate)").alias("ym"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"))
    )
    # Pinned: the recursive UnionLoop re-executes its step plan once
    # PER ITERATION — without this persist the 80 iterations re-scan
    # and re-join the fact table 80 times (measured 57 s at sf0.1;
    # ~1 s pinned). The frame is |regions| x |months| rows.
    dep = pin(
        monthly.crossJoin(F.broadcast(monthly.agg(F.min("ym").alias("ym0"))))
        .select(
            "r_name",
            (F.col("ym") - F.col("ym0")).cast("int").alias("m"),
            F.expr("CAST(round(rev * 100) AS BIGINT)").alias("dep"),
        )
        .coalesce(1)
    )
    dep.createOrReplaceTempView("__cb_dep")
    r.select("r_name").createOrReplaceTempView("__cb_regions")
    # Bounded scalar collect (one int): embedding the month horizon as a
    # literal keeps the per-iteration step plan to ONE broadcast join —
    # a subquery bound would re-evaluate inside all 80 iterations. Same
    # bounded-collect budget as the IVF centroids.
    # max() over zero rows is NULL: horizon -1 makes the recursive step's
    # WHERE m+1 <= -1 immediately false, so the anchor-only rows (m = -1)
    # are filtered by the final m >= 0 and an empty input yields 0 rows.
    mx = dep.agg(F.max("m")).collect()[0][0]
    mx = -1 if mx is None else mx
    return spark.sql(
        f"""
        WITH RECURSIVE bal(r_name, m, balance) AS (
          SELECT r_name, CAST(-1 AS INT), CAST(0 AS BIGINT)
          FROM __cb_regions
          UNION ALL
          SELECT /*+ BROADCAST(d) */
                 b.r_name, CAST(b.m + 1 AS INT),
                 CAST(b.balance + b.balance DIV 10 + COALESCE(d.dep, 0)
                      AS BIGINT)
          FROM bal b
          LEFT JOIN __cb_dep d ON d.r_name = b.r_name AND d.m = b.m + 1
          WHERE b.m + 1 <= {int(mx)}
        )
        SELECT r_name, m, balance,
               CAST(balance AS DOUBLE) / 100.0 AS balance_usd
        FROM bal WHERE m >= 0
        """
    )


# ---------------------------------------------------------------------------
# SQL-defined scalar functions (CREATE FUNCTION ... RETURN expr).
# ---------------------------------------------------------------------------


@register(
    "sql_udf_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
             AS revenue,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))
                    * (1 + CAST(l_tax AS DECIMAL(18,4)))) AS DOUBLE)
             AS charge,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_udf_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q1 money math routed through NAMED SQL-defined scalar
    functions (``CREATE FUNCTION ... RETURNS ... RETURN expr``,
    Spark >= 3.5) — the engine's user-extensibility surface that stays
    ENTIRELY JVM-side: a SQL UDF is inlined into the Catalyst plan at
    resolution (plan-asserted: the aggregate still whole-stage-
    codegens, zero Python eval nodes), so unlike a Python UDF it costs
    nothing and loses nothing. The functions carry the same
    decimal-exact signatures the inline board queries use; the oracle
    computes the expressions inline — the hash match proves
    define-then-call is semantically identical to inlining.
    """
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION __disc_price(
            p DECIMAL(18,4), d DECIMAL(18,4))
        RETURNS DECIMAL(38,8)
        RETURN p * (1 - d)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION __charge(
            p DECIMAL(18,4), d DECIMAL(18,4), t DECIMAL(18,4))
        RETURNS DECIMAL(38,12)
        RETURN p * (1 - d) * (1 + t)
        """
    )
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__udf_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(__disc_price(CAST(l_extendedprice AS DECIMAL(18,4)),
                                     CAST(l_discount AS DECIMAL(18,4))))
                    AS DOUBLE) AS revenue,
               CAST(SUM(__charge(CAST(l_extendedprice AS DECIMAL(18,4)),
                                 CAST(l_discount AS DECIMAL(18,4)),
                                 CAST(l_tax AS DECIMAL(18,4))))
                    AS DOUBLE) AS charge,
               COUNT(*) AS n_lines
        FROM __udf_lineitem
        GROUP BY l_returnflag, l_linestatus
        """
    )


# ---------------------------------------------------------------------------
# Collation-aware aggregation (Spark >= 4.0 string collations).
# ---------------------------------------------------------------------------


@register(
    "collation_group_dedup",
    oracle="""
    SELECT lower(et) AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT et) AS BIGINT) AS n_forms
    FROM (SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                      ELSE lower(event_type) END AS et
          FROM events)
    GROUP BY lower(et)
    """,
)
def collation_group_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping under a CASE-INSENSITIVE COLLATION (Spark >= 4.0
    ``COLLATE UTF8_LCASE``) — the declarative form of the reference's
    lower-case-all-headers / case-insensitive matching habit
    (/root/reference/cleaning/validate_fields.py:50,
    merge_contacts_kindaworks.py:56): instead of wrapping every
    comparison in lower(), the COLUMN carries the equality semantics
    and every comparison, group and join against it is
    case-insensitive by type. The fixture deterministically re-cases
    event_type by row parity (upper on even event_ids), so each class
    arrives in exactly two binary-distinct forms; the collated groupBy
    must merge them while the binary-collated COUNT(DISTINCT) inside
    the same aggregate still sees both — one aggregate, two collations.
    Output keys are lower()-normalized (a collated group's
    representative casing is arrival-order-dependent — never expose
    it) and cast back to the default collation for a stable schema.
    """
    _events(spark, sf_dir).selectExpr(
        "CASE WHEN event_id % 2 = 0 THEN upper(event_type)"
        " ELSE lower(event_type) END AS et"
    ).createOrReplaceTempView("__coll_events")
    return spark.sql(
        """
        SELECT CAST(lower(k) AS STRING) AS event_type, n_events, n_forms
        FROM (
          SELECT et COLLATE UTF8_LCASE AS k,
                 COUNT(*) AS n_events,
                 COUNT(DISTINCT et COLLATE UTF8_BINARY) AS n_forms
          FROM __coll_events
          GROUP BY et COLLATE UTF8_LCASE)
        """
    )


# ---------------------------------------------------------------------------
# Relative-rank window functions: percent_rank / cume_dist.
# ---------------------------------------------------------------------------


@register(
    "order_percentile_position",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice))
    SELECT o_orderkey, o_orderpriority, o_totalprice, pr, cd
    FROM ranked WHERE pr >= 0.99
    """,
)
def order_percentile_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every order's RELATIVE rank position within its priority class —
    ``percent_rank`` ((rank-1)/(N-1)) and ``cume_dist`` (rank'/N), the
    two relative-rank window functions the board's ranking queries
    (row_number / rank / ntile) did not yet exercise — filtered to the
    top percentile (pr >= 0.99), the "flag the biggest orders per
    class" report. Exactness: both functions are a single IEEE division
    of exact integer rank/count operands computed identically by both
    engines (ties share a rank, so the outputs are deterministic
    without a tiebreak column). Scale: one partitioned sort per class —
    no global window; the filter cannot push below the window (the
    rank needs the whole partition) but column pruning keeps the
    sorted payload to the three projected columns.
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        .filter(F.col("pr") >= 0.99)
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS with grouping_id.
# ---------------------------------------------------------------------------


@register(
    "grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third grouping-lattice form next to
    the board's ROLLUP (hierarchy prefixes) and CUBE (full lattice):
    an ARBITRARY subset of slices in one pass — here the two
    one-dimensional marginals plus the grand total, skipping the
    (flag, status) cells a CUBE would also pay for. ``grouping_id``
    (recomputed portably as GROUPING(a)*2+GROUPING(b) — Spark and
    DuckDB number grouping_id() differently, the per-column GROUPING
    bit is the standard both agree on) disambiguates which slice a
    NULL key row belongs to — the reason the function exists, since a
    real NULL key and a rolled-up key are otherwise indistinguishable.
    One Expand + one aggregate exchange; decimal-exact money math.
    """
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                    AS BIGINT) AS gid,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(18,4))))
                    AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


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
# try_* error-tolerant functions under ANSI mode.
# ---------------------------------------------------------------------------


@register(
    "try_functions_audit",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN value / NULLIF(CAST(event_id % 5 AS DOUBLE),
                                             0.0) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
           CAST(COUNT(TRY_CAST(
                  CASE WHEN event_id % 3 = 0 THEN 'not-a-date'
                       ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END
                  AS TIMESTAMP)) AS BIGINT) AS n_ts_parsed,
           CAST(COUNT(TRY_CAST(
                  CASE WHEN event_id % 4 = 0 THEN 'abc'
                       ELSE CAST(CAST(value AS DECIMAL(18,4)) AS VARCHAR)
                       END AS DOUBLE)) AS BIGINT) AS n_num_parsed
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)
def try_functions_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``try_`` function family under ANSI mode — the reference's
    pandas ``errors='coerce'`` habit (clean_contacts.py:151
    pd.to_datetime, :50 pd.to_numeric) re-expressed as typed NULLs
    instead of engine errors: the driver runs ANSI ON (Spark 4
    default), where a plain division by zero or a bad cast THROWS;
    ``try_divide`` / ``try_to_timestamp`` / ``try_cast`` return NULL,
    making dirty-input failure a COUNTABLE data-quality fact. Dirt is
    synthesized deterministically (zero divisors on event_id%5, garbage
    timestamps on %3, garbage numerics on %4) so every branch of every
    function exercises on every run. The oracle states the same
    semantics in DuckDB's vocabulary (NULLIF-guarded division,
    TRY_CAST); numeric round-trips go through a decimal snap so the
    string forms match across engines. Counts only — engine-exact.
    """
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dirty_ts = F.when(
        F.col("event_id") % 3 == 0, F.lit("not-a-date")
    ).otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
    dirty_num = F.when(F.col("event_id") % 4 == 0, F.lit("abc")).otherwise(
        F.col("value").cast("decimal(18,4)").cast("string")
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.expr(
                    "try_divide(value, CAST(event_id % 5 AS DOUBLE))"
                ).isNull(),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_div_null"),
        F.count(F.try_to_timestamp(dirty_ts)).alias("n_ts_parsed"),
        F.count(dirty_num.try_cast("double")).alias("n_num_parsed"),
    )


# ---------------------------------------------------------------------------
# Bitmap exact-distinct aggregation (mergeable, two-level).
# ---------------------------------------------------------------------------


@register(
    "bitmap_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through BITMAPS (Spark >= 3.5
    bitmap_construct_agg family) — the third member of the
    distinct-count trilogy: COUNT(DISTINCT) re-shuffles raw values
    (two-phase expand), HLL sketches are mergeable but approximate
    (approx_distinct_users / hll_sketch_rollup); a bitmap partial is
    BOTH — mergeable (bitwise OR) AND exact — whenever the key domain
    is dense integers, the id-shaped case warehouses hit constantly.
    Shape: keys bucket into 32k-bit bitmaps (bitmap_bucket_number /
    bitmap_bit_position), one bitmap per (group, bucket) builds
    map-side and ORs in the combine — state per group is
    |id range| / 8 bits regardless of row count — then bitmap_count
    per bucket and an integer sum collapse to the exact distinct. The
    oracle is plain COUNT(DISTINCT): the hash match proves the bitmap
    path loses nothing. At 100 TB the partial bitmaps are also the
    INCREMENTAL state (OR yesterday's bitmap with today's — the
    incremental_rollup_merge pattern with exact distincts, which
    sum-of-counts partials can never give).
    """
    ev = _events(spark, sf_dir)
    per_bucket = (
        ev.groupBy(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        )
        .agg(
            F.expr(
                "bitmap_count(bitmap_construct_agg("
                "bitmap_bit_position(user_id)))"
            ).alias("cnt")
        )
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n_users")
    )


# ---------------------------------------------------------------------------
# from_csv: delimited-line parsing as an expression.
# ---------------------------------------------------------------------------


@register(
    "csv_line_roundtrip",
    oracle="""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_bal,
           CAST(SUM(CASE WHEN c_name IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_names
    FROM customer
    GROUP BY c_nationkey
    """,
)
def csv_line_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited-line parsing as a pure EXPRESSION (``from_csv``): each
    customer row is serialized to a TSV line (the reference's wire
    format — /root/reference's whole pipeline speaks tab-separated
    text) and parsed straight back by ``from_csv`` with an explicit
    schema and separator, never touching a file reader; the aggregate
    then runs entirely over the PARSED struct's fields. The oracle
    aggregates the original columns — the hash match proves the
    serialize->parse round trip is lossless, including the decimal
    re-parse of the balance. This is the expression-level sibling of
    io/readers.py's file-level TSV surface: the shape that handles
    embedded delimited payloads (a CSV column inside a parquet table)
    without a detour through RDDs or Python.

    NULL handling: concat_ws silently DROPS null arguments, which would
    shift every subsequent field left — so each field is coalesced to
    the empty string first. An empty unquoted field is exactly how the
    reference's TSV wire format carries a missing value, and from_csv
    parses it back to NULL (CSV nullValue defaults to ""), keeping the
    round trip lossless on null-bearing rows too (pinned by a unit
    test with injected NULLs, not just the testdata's dense columns).
    """
    c = _t(spark, sf_dir, "customer")
    line = F.concat_ws(
        "\t",
        F.coalesce(F.col("c_name"), F.lit("")),
        F.coalesce(F.col("c_nationkey").cast("string"), F.lit("")),
        F.coalesce(
            F.col("c_acctbal").cast("decimal(18,4)").cast("string"),
            F.lit(""),
        ),
    )
    parsed = c.select(
        F.from_csv(
            line,
            "name STRING, nationkey BIGINT, acctbal DECIMAL(18,4)",
            {"sep": "\t"},
        ).alias("r")
    )
    return (
        parsed.groupBy(F.col("r.nationkey").alias("c_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("r.acctbal").cast("double").alias("sum_bal"),
            F.sum(F.when(F.col("r.name").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_names"),
        )
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
