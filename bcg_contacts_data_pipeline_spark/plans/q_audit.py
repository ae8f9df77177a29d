"""Audit family: profiling and data-quality checks.

Exact and sketch column profiles, histograms, outliers, Benford and
functional-dependency screens, FK orphans, split drift and leakage,
semi-structured (JSON/Variant) property stats, distinct-count sketches
and bitmaps, and the try_* error-as-data audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.pins import pin
from bcg_contacts_data_pipeline_spark.plans.registry import (
    _events,
    _t,
    capped_edges_sql,
    neardup_pairs,
    register,
)


@register(
    "numeric_profile",
    oracle="""
    SELECT 'l_extendedprice' AS col,
           CAST(COUNT(l_extendedprice) AS BIGINT) AS n,
           round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS p50,
           round(CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE), 4) AS p90,
           round(CAST(quantile_cont(l_extendedprice, 0.99) AS DOUBLE), 4) AS p99
    FROM lineitem
    UNION ALL
    SELECT 'value', CAST(COUNT(value) AS BIGINT),
           round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4),
           round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4),
           round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 4)
    FROM events
    """,
)
def q_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90/p99) over fact columns —
    the data-profiling stat the approx HLL profile (profile_columns)
    doesn't cover. Spark `percentile` and DuckDB `quantile_cont` share
    the interpolation definition; results round to 4 decimals because
    the two engines' interpolation arithmetic differs in the last ulp.
    At 100 TB use the sketch twin `numeric_profile_approx` (registered
    below) — this query pins the exact baseline the sketch is judged
    against, and the twin's in-band booleans do that judging in-query."""
    def prof(df, col, label):
        pct = F.percentile(F.col(col), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
        return df.agg(
            F.count(F.col(col)).alias("n"),
            pct.alias("__p"),
        ).select(
            F.lit(label).alias("col"),
            "n",
            F.round(F.col("__p")[0], 4).alias("p50"),
            F.round(F.col("__p")[1], 4).alias("p90"),
            F.round(F.col("__p")[2], 4).alias("p99"),
        )

    li = _t(spark, sf_dir, "lineitem")
    ev = _events(spark, sf_dir)
    return prof(li, "l_extendedprice", "l_extendedprice").unionByName(
        prof(ev, "value", "value")
    )


@register(
    "numeric_profile_approx",
    oracle="""
    SELECT 'l_extendedprice' AS col,
           CAST(COUNT(l_extendedprice) AS BIGINT) AS n,
           true AS p50_in_band, true AS p90_in_band, true AS p99_in_band
    FROM lineitem
    UNION ALL
    SELECT 'value', CAST(COUNT(value) AS BIGINT), true, true, true
    FROM events
    """,
)
def q_numeric_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of numeric_profile: `approx_percentile` (the
    Greenwald-Khanna sketch — bounded memory, map-side mergeable, no
    single aggregation buffer holding a column's every value) instead of
    exact `percentile`.

    Sketch outputs aren't bit-stable across engines, so the oracle
    contract is a TOLERANCE BAND enforced through the exact-hash gate:
    the Spark side computes, in the same single aggregate, both the
    sketch percentiles (accuracy=10000, guaranteed rank error
    <= n/10000) and the EXACT percentiles at q +/- 10x that rank slack,
    then emits `approx between lo and hi` booleans. The oracle pins the
    booleans TRUE (and the count exact): a sketch outside its guaranteed
    band flips a boolean and fails the value-hash compare. The exact
    bounds are the local-verification harness only — production callers
    use the sketch columns; numeric_profile remains the exact baseline.
    """
    qs = [0.5, 0.9, 0.99]
    acc = 10_000
    slack = 10.0 / acc

    def prof(df, col, label):
        c = F.col(col)
        ap = F.percentile_approx(
            c, F.array(*[F.lit(q) for q in qs]), F.lit(acc)
        )
        # ONE exact-percentile aggregate for all 6 band edges (lo+hi per
        # q): each `percentile` call keeps its own buffer of the
        # column's values, so splitting lo/hi into two calls doubles the
        # harness's memory and sort cost for nothing.
        edges = [max(qs[0] - slack, 0.0), min(qs[0] + slack, 1.0),
                 max(qs[1] - slack, 0.0), min(qs[1] + slack, 1.0),
                 max(qs[2] - slack, 0.0), min(qs[2] + slack, 1.0)]
        band = F.percentile(c, F.array(*[F.lit(e) for e in edges]))
        row = df.agg(
            F.count(c).alias("n"),
            ap.alias("__ap"),
            band.alias("__band"),
        )
        return row.select(
            F.lit(label).alias("col"),
            "n",
            *[
                (
                    (F.col("__ap")[i] >= F.col("__band")[2 * i])
                    & (F.col("__ap")[i] <= F.col("__band")[2 * i + 1])
                ).alias(f"p{int(q * 100)}_in_band")
                for i, q in enumerate(qs)
            ],
        )

    li = _t(spark, sf_dir, "lineitem")
    ev = _events(spark, sf_dir)
    return prof(li, "l_extendedprice", "l_extendedprice").unionByName(
        prof(ev, "value", "value")
    )


@register(
    "profile_columns",
    oracle="""
    SELECT 'c_acctbal' AS col, COUNT(*) AS n_rows,
           COUNT(c_acctbal) AS n_nonnull,
           CAST(COUNT(DISTINCT c_acctbal) AS BIGINT) AS n_distinct,
           CAST(MIN(CAST(c_acctbal AS DOUBLE)) AS DOUBLE) AS min_v,
           CAST(MAX(CAST(c_acctbal AS DOUBLE)) AS DOUBLE) AS max_v
    FROM customer
    UNION ALL
    SELECT 'c_nationkey', COUNT(*), COUNT(c_nationkey),
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT),
           CAST(MIN(CAST(c_nationkey AS DOUBLE)) AS DOUBLE),
           CAST(MAX(CAST(c_nationkey AS DOUBLE)) AS DOUBLE)
    FROM customer
    """,
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling rollup (the stat-logging the reference sprinkles
    through clean_contacts.py:105-147, as one single-pass multi-aggregate
    per column). Exact count-distinct here for the oracle; the operator
    takes approx=True at real scale (HLL sketch, no extra shuffle)."""
    from bcg_contacts_data_pipeline_spark.operators.profile import profile_columns

    cust = _t(spark, sf_dir, "customer")
    return profile_columns(cust, ["c_acctbal", "c_nationkey"], approx=False)


# ---------------------------------------------------------------------------
# Semi-structured extraction + sketch-distinct twin
# ---------------------------------------------------------------------------


@register(
    "json_props_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
           CAST(COUNT(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_distinct
    FROM events GROUP BY 1
    """,
)
def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from a JSON payload column with a DECLARED schema
    (`from_json(props, 'k BIGINT')` — no inference scan, no string
    round-trips downstream; the parse runs once in the projection and
    Catalyst prunes it to the single referenced field). Integer sums stay
    in LONG (exact, order-free) so no decimal staging is needed."""
    ev = _events(spark, sf_dir)
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count_distinct(F.col("k")).alias("k_distinct"),
        )
    )


@register(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           true AS hll_in_band
    FROM events GROUP BY 1
    """,
)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-distinct twin (same contract as numeric_profile_approx):
    `approx_count_distinct` (HyperLogLog++, fixed-size mergeable state —
    the 100 TB path for cardinality) computed NEXT TO the exact distinct
    in one aggregate; the oracle pins the exact count and a boolean that
    the sketch landed within 3x its 5% standard error. At scale callers
    drop the exact column; here it is the in-query verification harness."""
    rsd = 0.05
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.approx_count_distinct("user_id", rsd).alias("__hll"),
    )
    lo = F.col("n_users") * (1 - 3 * rsd)
    hi = F.col("n_users") * (1 + 3 * rsd)
    return agg.select(
        "event_type",
        "n_users",
        ((F.col("__hll") >= lo) & (F.col("__hll") <= hi)).alias("hll_in_band"),
    )


@register(
    "variant_props_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_sum,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_max
    FROM events GROUP BY 1
    """,
)
def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCHEMALESS twin of json_props_stats: Spark 4 VariantType.
    `parse_json` ingests the payload once into the binary variant
    encoding — no declared struct, so heterogeneous/ragged payloads
    (the reality of scraped event streams) don't need a unioned schema
    up front — and `variant_get(v, '$.k', 'bigint')` does typed,
    shredded path access per field. Against `from_json` with a declared
    schema (json_props_stats), variant trades schema rigidity for
    per-field extraction cost; both parse once per row inside the
    projection, stay JVM-side, and aggregate identically. Same oracle
    surface as the declared-schema twin, so the two queries
    cross-check each other through DuckDB."""
    ev = _events(spark, sf_dir)
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
    )


# ---------------------------------------------------------------------------
# Variant, deepened: nested paths, array elements, missing keys.
# ---------------------------------------------------------------------------


@register(
    "variant_nested_extract",
    oracle="""
    WITH payload AS (
      SELECT event_type,
             '{"meta": {"k": ' || CAST(json_extract(props, '$.k') AS VARCHAR)
               || ', "tags": [3, '
               || CAST(CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS VARCHAR)
               || ']}, "type": "' || event_type || '"}' AS doc
      FROM events),
    ext AS (
      SELECT event_type,
             CAST(json_extract(doc, '$.meta.k') AS BIGINT) AS meta_k,
             CAST(json_extract(doc, '$.meta.tags[1]') AS BIGINT) AS tag1,
             CAST(json_extract(doc, '$.meta.absent') AS BIGINT) AS missing_k
      FROM payload)
    SELECT event_type,
           CAST(SUM(meta_k) AS BIGINT) AS k_sum,
           CAST(SUM(tag1) AS BIGINT) AS tag1_sum,
           CAST(COUNT(missing_k) AS BIGINT) AS n_missing_nonnull,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM ext
    GROUP BY event_type
    """,
)
def variant_nested_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant extraction beyond one scalar path (the
    ``variant_props_stats`` baseline): a NESTED object path
    (``$.meta.k``), an ARRAY element (``$.meta.tags[1]``), and a
    missing key (``$.meta.absent`` -> NULL, counted to prove the
    missing-key semantics, not error, on both engines). The nested
    document is constructed from the flat ``props`` column with
    identical string concatenation in both engines (the driver corpus
    carries flat JSON only), then parsed ONCE per row into a Spark 4
    VariantType value feeding all three ``variant_get`` extractions —
    parse-once/extract-many, all JVM-side, no Python in the row path.
    At 100 TB this is the shredded-access pattern: one binary variant
    decode per row regardless of how many paths a query pulls."""
    ev = _events(spark, sf_dir)
    k_str = F.get_json_object(F.col("props"), "$.k")
    doc = F.concat(
        F.lit('{"meta": {"k": '),
        k_str,
        F.lit(', "tags": [3, '),
        (k_str.cast("bigint") * 2).cast("string"),
        F.lit(']}, "type": "'),
        F.col("event_type"),
        F.lit('"}'),
    )
    v = F.parse_json(doc)
    ext = ev.select(
        "event_type",
        F.variant_get(v, "$.meta.k", "bigint").alias("meta_k"),
        F.variant_get(v, "$.meta.tags[1]", "bigint").alias("tag1"),
        F.variant_get(v, "$.meta.absent", "bigint").alias("missing_k"),
    )
    return ext.groupBy("event_type").agg(
        F.sum("meta_k").alias("k_sum"),
        F.sum("tag1").alias("tag1_sum"),
        F.count("missing_k").alias("n_missing_nonnull"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Mergeable-sketch rollup: HLL partials per shard, unioned later.
# ---------------------------------------------------------------------------


@register(
    "hll_sketch_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           true AS merged_in_band
    FROM events GROUP BY event_type
    """,
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable distinct-count rollup: a Datasketches HLL
    sketch per (event_type, day) shard (``hll_sketch_agg``), then the
    DAILY BINARY SKETCHES — not the raw rows — union-merged per type
    (``hll_union_agg``) and estimated. This is the capability
    ``approx_count_distinct`` (the ``approx_distinct_users`` twin)
    doesn't have: its HLL++ state is consumed inside one aggregate,
    while these sketches are storable values — at 100 TB you persist
    one ~2.5 KB sketch per partition-day and answer ANY date-window
    distinct query by merging sketches, never rescanning history.

    In-band verification (the approx_distinct_users contract): the
    exact distinct runs alongside, and the oracle pins a boolean that
    the MERGED estimate landed within 5% (~3x the lgK=12 standard
    error of 1.6%). At scale callers drop the exact column.
    """
    ev = _events(spark, sf_dir)
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users")
    )
    lo = F.col("n_users") * 0.95
    hi = F.col("n_users") * 1.05
    return merged.join(exact, "event_type").select(
        "event_type",
        "n_days",
        "n_users",
        ((F.col("__est") >= lo) & (F.col("__est") <= hi)).alias(
            "merged_in_band"
        ),
    )


# ---------------------------------------------------------------------------
# Adaptive equi-width histogram: runtime min/max, scalar-attached bounds.
# ---------------------------------------------------------------------------


@register(
    "value_histogram",
    oracle="""
    WITH stats AS (
      SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
      WHERE value IS NOT NULL),
    bucketed AS (
      -- hi = lo (degenerate constant column) would make width 0 and
      -- 0/0 -> NaN; pin every row to bucket 0 instead (same as Spark)
      SELECT CASE WHEN hi = lo THEN 0
                  ELSE LEAST(CAST(floor((value - lo) / ((hi - lo) / 20.0))
                                  AS BIGINT), 19) END AS bucket,
             lo, hi
      FROM events, stats WHERE value IS NOT NULL)
    SELECT bucket,
           lo + bucket * ((hi - lo) / 20.0) AS bucket_lo,
           lo + (bucket + 1) * ((hi - lo) / 20.0) AS bucket_hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM bucketed
    GROUP BY bucket, lo, hi
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive equi-width histogram of ``events.value``: bounds come
    from the DATA (a first min/max pass), not a config constant — the
    profiling shape for a column you haven't seen before. Physical
    pattern: the 1-row (min, max) aggregate BROADCASTS onto the scan
    (the q11 scalar-attach idiom — a broadcast nested-loop of exactly
    one row, not a data shuffle), bucket index is
    ``least(floor((v - lo) / width), nb-1)`` computed in whole-stage
    codegen, then ONE aggregation. Two passes over the column total —
    the minimum for adaptive bounds — vs ``approx_percentile``-based
    equi-DEPTH bucketing which the ``numeric_profile_approx`` family
    already covers.

    Determinism: subtraction, division, floor, and the edge
    reconstruction are the same IEEE ops in the same order on both
    engines (bit-identical doubles in, bit-identical out); the max
    value lands in the top bucket via the LEAST clamp on both sides.
    Degenerate guard: a constant column makes hi = lo, width = 0, and
    the bucket expression 0/0 -> NaN (floor(NaN) casts to NULL, or
    errors under ANSI mode) — exactly the input a profiling query
    meets on an all-equal column, so both engines pin that case to
    bucket 0 with a CASE before the division."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    stats = ev.agg(
        F.min("value").alias("__lo"), F.max("value").alias("__hi")
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(20.0)
    bucket = F.when(
        F.col("__hi") == F.col("__lo"), F.lit(0).cast("long")
    ).otherwise(
        F.least(
            F.floor((F.col("value") - F.col("__lo")) / width).cast("long"),
            F.lit(19).cast("long"),
        )
    )
    return (
        ev.crossJoin(F.broadcast(stats))
        .select(
            bucket.alias("bucket"),
            (F.col("__lo") + bucket * width).alias("bucket_lo"),
            (F.col("__lo") + (bucket + F.lit(1)) * width).alias("bucket_hi"),
        )
        .groupBy("bucket", "bucket_lo", "bucket_hi")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Robust outlier detection: median / MAD, the z-score's heavy-tail twin.
# ---------------------------------------------------------------------------


@register(
    "value_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             round(quantile_cont(value, 0.5), 4) AS median_value
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, abs(e.value - m.median_value) AS d
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, round(quantile_cont(d, 0.5), 4) AS mad_value
      FROM dev GROUP BY event_type),
    outliers AS (
      SELECT d.event_type, COUNT(*) AS n_outliers
      FROM dev d JOIN mad m USING (event_type)
      WHERE d.d > 3 * m.mad_value
      GROUP BY d.event_type)
    SELECT m.event_type, m.n_events, m.median_value, a.mad_value,
           CAST(COALESCE(o.n_outliers, 0) AS BIGINT) AS n_outliers
    FROM med m
    JOIN mad a USING (event_type)
    LEFT JOIN outliers o USING (event_type)
    """,
)
def value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier detection per event type — the
    heavy-tail-safe twin of ``event_rate_anomaly``'s z-score: mean and
    stddev are themselves dragged by the outliers they're meant to
    find, while the median and the median-absolute-deviation have a
    50% breakdown point. Three passes over the fact (median -> absolute
    deviations -> MAD threshold count), each a grouped aggregate with
    the tiny per-type stats BROADCAST back — the irreducible shape for
    median-based statistics (they are holistic: no single-pass
    mergeable state, which is also why the ``approx_percentile`` twin
    family exists for the 100 TB path).

    Cross-engine determinism: interpolated medians may differ in the
    last ulp between engines, so the median and MAD are ROUNDED to 4
    decimals (the ``lang_quantiles`` convention) BEFORE they feed the
    deviation and threshold arithmetic — every downstream comparison
    then runs on bit-identical doubles and the outlier counts are
    engine-exact (events carry 2-decimal values, so the rounding
    itself can never sit on a tie)."""
    ev = _events(spark, sf_dir)
    # both stats frames are 5 rows and feed 2+ consumers each; unpinned
    # every consumer re-runs the full-table aggregate that builds them
    med = pin(
        ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.percentile(F.col("value"), F.lit(0.5)), 4).alias(
                "median_value"
            ),
        )
    )
    dev = ev.join(
        F.broadcast(med.select("event_type", "median_value")), "event_type"
    ).select(
        "event_type",
        F.abs(F.col("value") - F.col("median_value")).alias("d"),
    )
    mad = pin(
        dev.groupBy("event_type").agg(
            F.round(F.percentile(F.col("d"), F.lit(0.5)), 4).alias(
                "mad_value"
            )
        )
    )
    outliers = (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("d") > F.lit(3) * F.col("mad_value"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        med.join(mad, "event_type")
        .join(outliers, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            "median_value",
            "mad_value",
            F.coalesce("n_outliers", F.lit(0)).cast("long").alias(
                "n_outliers"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit: FK orphan counts across the whole schema.
# ---------------------------------------------------------------------------


@register(
    "fk_orphan_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey -> orders' AS relationship,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
               AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey -> part',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
               AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_suppkey -> supplier',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                   WHERE s.s_suppkey = l.l_suppkey))
               AS BIGINT)
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
               AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
               AS BIGINT)
    """,
)
def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit for the whole star schema in ONE
    query: per foreign-key relationship, total rows and orphan rows
    (fact keys with no matching dimension row) — the pre-flight check
    every warehouse load runs before trusting join results (an inner
    join silently DROPS orphans; this query makes the loss visible
    first). Physical shape: each relationship is a LEFT ANTI join
    counted to one row — the dimension side builds the hash table
    (broadcast for the small dims, shuffle for orders at scale) and
    nothing materializes the orphan rows themselves; the five audit
    rows union. Counts are integers — engine-exact."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")

    # ONE pass per fact table (r14, guide §2.4): the per-relationship
    # anti-join form scanned lineitem SIX times (3 totals + 3 antis).
    # Each fact now left-joins the DISTINCT key projection of its dims
    # (distinct so a hypothetically duplicated dim key cannot multiply
    # fact rows — preserving the anti-join's exact row accounting) and
    # a single aggregate emits the total plus every per-FK orphan
    # count: NULL-keyed fact rows match nothing, exactly as the
    # anti-join counted them.
    def keyed(dim, dim_key):
        return dim.select(F.col(dim_key)).distinct()

    li_row = (
        li.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(keyed(o, "o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .join(keyed(p, "p_partkey"), F.col("l_partkey") == F.col("p_partkey"), "left")
        .join(keyed(s, "s_suppkey"), F.col("l_suppkey") == F.col("s_suppkey"), "left")
        .agg(
            F.count(F.lit(1)).alias("li_n"),
            F.count_if(F.col("o_orderkey").isNull()).alias("orph_o"),
            F.count_if(F.col("p_partkey").isNull()).alias("orph_p"),
            F.count_if(F.col("s_suppkey").isNull()).alias("orph_s"),
        )
    )
    o_row = (
        o.select("o_custkey")
        .join(keyed(c, "c_custkey"), F.col("o_custkey") == F.col("c_custkey"), "left")
        .agg(
            F.count(F.lit(1)).alias("o_n"),
            F.count_if(F.col("c_custkey").isNull()).alias("orph_c"),
        )
    )
    c_row = (
        c.select("c_nationkey")
        .join(keyed(n, "n_nationkey"), F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .agg(
            F.count(F.lit(1)).alias("c_n"),
            F.count_if(F.col("n_nationkey").isNull()).alias("orph_n"),
        )
    )
    return (
        li_row.crossJoin(o_row)
        .crossJoin(c_row)
        .selectExpr(
            "stack(5, "
            "'lineitem.l_orderkey -> orders', li_n, orph_o, "
            "'lineitem.l_partkey -> part', li_n, orph_p, "
            "'lineitem.l_suppkey -> supplier', li_n, orph_s, "
            "'orders.o_custkey -> customer', o_n, orph_c, "
            "'customer.c_nationkey -> nation', c_n, orph_n"
            ") AS (relationship, n_rows, n_orphans)"
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit over order totals.
# ---------------------------------------------------------------------------


def _benford_probs() -> dict[int, float]:
    """log10(1 + 1/d) computed ONCE in Python and embedded as literals
    in BOTH engines — Math.log10 is not guaranteed correctly rounded,
    so neither engine computes it at query time."""
    import math

    return {d: math.log10(1 + 1 / d) for d in range(1, 10)}


def _benford_oracle() -> str:
    case = " ".join(
        f"WHEN {d} THEN {p!r}" for d, p in _benford_probs().items()
    )
    return f"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1),
    tot AS (SELECT COUNT(*) AS n FROM digits)
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE) / CAST(tot.n AS DOUBLE) AS observed_p,
           CASE digit {case} END AS benford_p,
           abs(CAST(COUNT(*) AS DOUBLE) / CAST(tot.n AS DOUBLE)
               - CASE digit {case} END) AS abs_dev
    FROM digits, tot
    GROUP BY digit, tot.n
    """


@register("benford_digit_audit", oracle=_benford_oracle())
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    forensic screen for fabricated or re-binned monetary data (natural
    multi-scale amounts follow P(d) = log10(1 + 1/d); human-invented
    numbers don't). First digit extracts through INTEGER string form
    (floor -> bigint -> substring) — never by formatting a double,
    whose text rendering is engine-specific. The nine Benford
    expectations are computed once in Python and embedded as literals
    in both plans (Math.log10 is not correctly-rounded-guaranteed, so
    neither engine computes logs at query time). One scan, the 1-row
    total broadcast-attached, one aggregate; observed share is a
    single division of identical operands — engine-exact."""
    o = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    digits = o.filter(F.col("o_totalprice") >= 1).select(digit.alias("digit"))
    tot = digits.agg(F.count(F.lit(1)).alias("__n"))
    benford = None
    for d, p in _benford_probs().items():
        benford = (
            F.when(F.col("digit") == d, F.lit(p))
            if benford is None
            else benford.when(F.col("digit") == d, F.lit(p))
        )
    obs = F.col("n").cast("double") / F.col("__n").cast("double")
    return (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            obs.alias("observed_p"),
            benford.alias("benford_p"),
            F.abs(obs - benford).alias("abs_dev"),
        )
    )


# ---------------------------------------------------------------------------
# Split-leakage audit: near-dup pairs crossing the train/val/test boundary.
# ---------------------------------------------------------------------------


@register(
    "split_leakage_audit",
    oracle=f"""
    WITH {capped_edges_sql("documents")},
    splits AS (
      SELECT doc_id,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   CAST(CAST(('0x' || substring(md5('corpus-v1:'
                        || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                        % 100 AS BIGINT) AS b
            FROM documents)),
    labeled AS (
      SELECT LEAST(sa.split, sb.split) AS split_a,
             GREATEST(sa.split, sb.split) AS split_b
      FROM edges e
      JOIN splits sa ON sa.doc_id = e.id_a
      JOIN splits sb ON sb.doc_id = e.id_b)
    SELECT split_a, split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           split_a <> split_b AS is_leakage
    FROM labeled GROUP BY split_a, split_b
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: near-duplicate pairs (the SAME capped
    ngram-Jaccard edge set ``neardup_prune`` dedups on, one definition
    in ``similarity.ngram_jaccard_pairs``) classified by whether they
    CROSS the deterministic 80/10/10 hash-split boundary
    (``hash_split``'s assignment, same salt). A near-dup of a training
    doc sitting in the test split inflates eval — the audit a release
    runs after splitting and before publishing benchmarks. Pair labels
    are order-normalized (least/greatest of the two split names) so
    (train, test) and (test, train) count as one cell. Composes two
    already-certified deterministic pieces, so the pair set and the
    split assignment — and therefore every count — are engine-exact."""
    from bcg_contacts_data_pipeline_spark.functions.sampling import (
        assign_split,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = neardup_pairs(docs).select("id_a", "id_b")
    # assign_split is a PURE deterministic expression of the id
    # (hash_bucket of the value + seed), and every pair endpoint is a
    # doc_id from the same frame — so the former splits-frame joins
    # were identity lookups of a value the expression computes in
    # place. Evaluating it directly on the endpoints removes two joins
    # and two document scans from the plan (r14, guide §2.4); results
    # are bit-identical because the join key WAS the expression input.
    sa = assign_split(F.col("id_a"), seed="corpus-v1")
    sb = assign_split(F.col("id_b"), seed="corpus-v1")
    labeled = pairs.select(
        F.least(sa, sb).alias("split_a"),
        F.greatest(sa, sb).alias("split_b"),
    )
    return labeled.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.col("split_a") != F.col("split_b")).alias("is_leakage"),
    )


# ---------------------------------------------------------------------------
# Functional-dependency violation audit (schema profiling).
# ---------------------------------------------------------------------------


@register(
    "fd_violation_audit",
    oracle="""
    WITH fd1 AS (
      SELECT 'orders: o_orderkey -> o_orderstatus' AS dependency,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_keys
      FROM (SELECT o_orderkey, COUNT(DISTINCT o_orderstatus) AS d
            FROM orders GROUP BY o_orderkey)),
    fd2 AS (
      SELECT 'lineitem: l_partkey -> l_suppkey',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS d
            FROM lineitem GROUP BY l_partkey)),
    fd3 AS (
      SELECT 'lineitem: l_orderkey -> l_returnflag',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS d
            FROM lineitem GROUP BY l_orderkey))
    SELECT * FROM fd1 UNION ALL SELECT * FROM fd2 UNION ALL SELECT * FROM fd3
    """,
)
def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate dependency
    A -> B, how many A-values map to MORE than one B — zero means the
    dependency holds (a normalization / join-safety invariant); a
    breached count localizes dirty keys before they fan out through a
    join. The profiling query behind schema discovery tools
    (o_orderkey -> o_orderstatus must hold — key; l_partkey ->
    l_suppkey must NOT — parts ship from many suppliers; l_orderkey ->
    l_returnflag is the interesting middle: order lines usually share
    a flag but are not constrained to). Shape per dependency: grouped
    distinct-count (two-phase expand, map-side partial) collapsed to a
    2-number audit row; the three rows union. Integer counts,
    engine-exact."""

    def audit(name, df, a, b):
        per_key = df.groupBy(a).agg(F.count_distinct(F.col(b)).alias("d"))
        return per_key.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_keys"),
        ).select(F.lit(name).alias("dependency"), "n_keys", "n_violating_keys")

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    frames = [
        audit("orders: o_orderkey -> o_orderstatus", o, "o_orderkey", "o_orderstatus"),
        audit("lineitem: l_partkey -> l_suppkey", li, "l_partkey", "l_suppkey"),
        audit("lineitem: l_orderkey -> l_returnflag", li, "l_orderkey", "l_returnflag"),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


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
