"""TPC-H family: the warehouse plan shapes over the TPC-H tables.

The 22 TPC-H plan features expressible in the shipped schema (no
partsupp table, no receipt/commit dates — adaptations noted per query),
plus the analytic shapes built on the same tables: ROLLUP/CUBE/GROUPING
SETS, semi/anti joins, skyline and market-basket, fixed-point PageRank
over nation trade flow, a recursive CTE, SQL UDFs, LATERAL top-k and
global ranking. Money math is decimal-exact before any double cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.pins import checkpoint, pin
from bcg_contacts_data_pipeline_spark.plans.registry import _dec, _t, register


# ---------------------------------------------------------------------------
# TPC-H-style analytics (scan + filter + agg; the bench headliners)
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) * (1 + CAST(l_tax AS DECIMAL(18,4)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: full-scan aggregate with exact decimal arithmetic.
    Catalyst gets partial aggregation + whole-stage codegen for free."""
    l = _t(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    charge = disc_price * (F.lit(1) + _dec("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(_dec("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Join-heavy analytics (bench headliners)
# ---------------------------------------------------------------------------

@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           o.o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters pushed to scans, two shuffled
    joins, agg, total-ordered top-10."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle="""
    SELECT r.r_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: star join — nation/region explicitly broadcast (dimension
    tables never shuffle the fact side)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "topk_parts_per_brand",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand, l.l_partkey,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, l.l_partkey),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY revenue DESC, l_partkey) AS rk_global,
             row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, l_partkey) AS rk
      FROM rev)
    SELECT p_brand, l_partkey AS partkey, revenue, CAST(rk AS BIGINT) AS brand_rank
    FROM ranked WHERE rk <= 3
    """,
)
def q_topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k via ranking window over an aggregated frame (SURVEY
    §2.6 — windows the reference lacks). Total order = (revenue desc, key)."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    rev = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc(), F.col("l_partkey"))
    return (
        rev.withColumn("brand_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("brand_rank") <= 3)
        .select("p_brand", F.col("l_partkey").alias("partkey"), "revenue", "brand_rank")
    )


# ---------------------------------------------------------------------------
# Beyond-reference §2.4/§2.7 widening: rollup aggregates, union-then-dedup
# (the idiomatic redesign of the whole reference pipeline), and the extra
# text-analysis modes the training-data brief names (BPE-ish token counts,
# rolling-hash fingerprints).
# ---------------------------------------------------------------------------

@register(
    "rollup_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
               AS grouping_id
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (flag -> flag+status -> grand total) in one
    pass — the grouping-sets surface the reference lacked (SURVEY §2.4
    'absent'); Catalyst expands + partially aggregates it like any other
    groupBy."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().cast("long").alias("grouping_id"),
        )
    )


@register(
    "skew_salted_agg",
    oracle="""
    WITH skewed AS (
      SELECT CASE WHEN l_orderkey % 3 = 0 THEN 'HOT' 
                  ELSE CAST(l_suppkey AS VARCHAR) END AS k,
             l_quantity AS v
      FROM lineitem)
    SELECT k, COUNT(*) AS n,
           CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS total,
           CAST(MAX(CAST(v AS DOUBLE)) AS DOUBLE) AS mx
    FROM skewed GROUP BY k
    """,
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a deliberately skewed key (a
    third of lineitem collapses onto one 'HOT' key — the engineered twin
    of the reference's empty-dedup-key pile-up). Identical semantics to
    the plain GROUP BY oracle; the salt only reshapes the shuffle."""
    from bcg_contacts_data_pipeline_spark.operators.skew import salted_agg

    l = _t(spark, sf_dir, "lineitem")
    skewed = l.select(
        F.when(F.col("l_orderkey") % 3 == 0, F.lit("HOT"))
        .otherwise(F.col("l_suppkey").cast("string"))
        .alias("k"),
        F.col("l_quantity").alias("v"),
    )
    return salted_agg(
        skewed,
        ["k"],
        {
            "n": (F.count, F.sum, F.lit(1)),
            "total": (
                lambda c: F.sum(c.cast("decimal(18,4)")),
                F.sum,
                F.col("v"),
            ),
            "mx": (
                lambda c: F.max(c.cast("double")),
                F.max,
                F.col("v"),
            ),
        },
        salt_buckets=16,
    ).select("k", "n", F.col("total").cast("double").alias("total"), "mx")


@register(
    "semi_anti_orders",
    oracle="""
    SELECT 'with_orders' AS cohort, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
    FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders', COUNT(*),
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
    FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_semi_anti_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins (SURVEY §2.3 'absent join types' — free
    in Spark, exposed here): customer cohorts by order existence. The
    orders side is reduced to its join key before the semi/anti probe."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    on = cust.c_custkey == orders.o_custkey
    parts = []
    for cohort, how in (("with_orders", "left_semi"), ("without_orders", "left_anti")):
        parts.append(
            cust.join(orders, on, how).agg(
                F.lit(cohort).alias("cohort"),
                F.count(F.lit(1)).alias("n_customers"),
                F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
            ).select("cohort", "n_customers", "total_bal")
        )
    return parts[0].unionByName(parts[1])

# ---------------------------------------------------------------------------
# TPC-H-shape widening: Q6 (pushdown showcase) and Q18 (having-subquery)
# ---------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global aggregate. The point at scale
    is that every predicate reaches the parquet scan (PushedFilters) and
    only 4 columns are read — `tests/test_plans.py` pins the pushdown."""
    li = _t(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_dec("l_extendedprice") * _dec("l_discount"))
        .cast("double")
        .alias("revenue"),
    )


@register(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 250)
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(b.qty AS DOUBLE) AS sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): aggregate-then-join. The
    lineitem aggregate shrinks to qualifying orderkeys BEFORE any join —
    at 100 TB the `big` side is tiny post-HAVING, so AQE converts both
    probe joins to broadcasts at runtime; no hint needed or wanted."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_qty"))
        .filter(F.col("_qty") > 250)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("_qty").cast("double").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Pivot + quantile binning + funnel (operators/analytics.py)
# ---------------------------------------------------------------------------


@register(
    "order_status_pivot",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS month,
           CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM orders GROUP BY 1
    """,
)
def q_order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order-status pivot. The pivot values are DECLARED (not
    discovered), which matters twice at scale: no extra distinct-scan
    job to find them, and the output schema is static so downstream
    plans compile. One shuffle (groupBy month); counts are map-side
    partial."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.select(
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
            "o_orderstatus",
        )
        .groupBy("month")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    n_f = F.coalesce(F.col("F"), F.lit(0)).cast("long")
    n_o = F.coalesce(F.col("O"), F.lit(0)).cast("long")
    n_p = F.coalesce(F.col("P"), F.lit(0)).cast("long")
    return p.select(
        "month",
        n_f.alias("n_f"),
        n_o.alias("n_o"),
        n_p.alias("n_p"),
        (n_f + n_o + n_p).alias("n_total"),
    )


@register(
    "q17_small_qty_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
               AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#11'
      AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: a CORRELATED scalar subquery (per-part average
    threshold) written as-is in SQL — Catalyst decorrelates it into an
    aggregate + join automatically, so the executed plan computes each
    part's average once, not once per probing row (plan-asserted: no
    subquery node survives). The brand filter reaches the part scan and
    shrinks the join's build side before the fact table is touched.
    Quantities are integer-valued doubles, so AVG is order-exact and
    the threshold compare is engine-deterministic."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("q17_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("q17_part")
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
                   AS avg_yearly,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM q17_lineitem l JOIN q17_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#11'
          AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                              FROM q17_lineitem l2
                              WHERE l2.l_partkey = l.l_partkey)
        """
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: a CORRELATED EXISTS predicate (orders with at
    least one lineitem shipped > 30 days after the order date; the
    reference schema has no commit/receipt dates, so late shipping
    stands in for the late-commit predicate — the plan shape is the
    point). Catalyst rewrites the subquery to a LEFT SEMI join on
    l_orderkey — each qualifying order counted once no matter how many
    late lineitems it has, no subquery node and no distinct needed
    (plan-asserted in tests/test_plans.py). The quarter filter prunes
    the probe side at the orders scan before the semi join runs; the
    correlated non-equi condition (l_shipdate > o_orderdate + 30d)
    rides along as the semi join's secondary predicate."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q4_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("q4_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS order_count
        FROM q4_orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM q4_lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        GROUP BY o_orderpriority
        """
    )


@register(
    "q16_supplier_counts",
    oracle="""
    SELECT p_brand, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45'
      AND p_size IN (1, 4, 7)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN exclusion subquery + COUNT(DISTINCT) per
    group (distinct suppliers per brand/size, excluding a blocklist of
    suppliers — negative account balance stands in for the comment
    pattern the reference schema lacks). Catalyst compiles the NOT IN
    to a null-aware LEFT ANTI join; both key columns are non-null here
    so it executes as a plain anti join against the tiny blocklist
    (broadcast under AQE), and no subquery node survives
    (plan-asserted). The distinct aggregate runs as the standard
    two-shuffle expand: partial distinct on (group, l_suppkey), then
    the count — no per-group set materializes on any single task."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("q16_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("q16_part")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("q16_supplier")
    return spark.sql(
        """
        SELECT p_brand, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM q16_lineitem JOIN q16_part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#45'
          AND p_size IN (1, 4, 7)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM q16_supplier
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_size
        """
    )

# ---------------------------------------------------------------------------
# TPC-H plan-shape widening (reference parity is already complete; these
# prove the engine on the remaining *plan features* the earlier board
# didn't exercise: Q13/Q11/Q15/Q21/Q19/Q22 shapes adapted to the driver
# schema — no partsupp/phone/comment columns, so each docstring states
# the stand-in predicate).
# ---------------------------------------------------------------------------


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) per_cust
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: count-of-counts over a PRESERVED outer join.
    The filter (``o_orderpriority <> '1-URGENT'``, standing in for the
    comment-pattern exclusion the driver schema lacks) lives in the JOIN
    condition, not a WHERE — pushing it to WHERE would turn the outer
    join inner and silently drop zero-order customers, the exact rows
    the histogram's ``c_count = 0`` bucket exists for. ``COUNT(o_orderkey)``
    counts non-null matches only, so those customers land in bucket 0.
    Two aggregations, each a single hash shuffle; the second input is
    one row per customer, already tiny."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != F.lit("1-URGENT")),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "q11_part_value_threshold",
    oracle="""
    WITH v AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * CAST(l_quantity AS DECIMAL(18,4))) AS pv
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      WHERE s_nationkey = 7
      GROUP BY l_partkey)
    SELECT l_partkey, CAST(pv AS DOUBLE) AS part_value
    FROM v
    WHERE pv > (SELECT CAST(SUM(pv) AS DECIMAL(28,8)) FROM v)
               * CAST(0.001 AS DECIMAL(7,6))
    """,
)
def q11_part_value_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a global-total threshold —
    per-part inventory value within one nation's suppliers, kept only
    when it exceeds 0.1% of that nation's total (lineitem value stands
    in for partsupp, which the driver schema lacks). Written as ONE
    aggregation rather than the textbook CTE-referenced-twice SQL: that
    form executes the join+agg (and both scans under it) twice — the
    canonically identical exchanges go unreused by both physical
    planning and AQE (same verified finding as q15). The per-part
    aggregate is pinned (one row per part — the small frame), the total
    is a partial-sum gather over it, and the threshold filter compares
    against the broadcast 1-row total. One lineitem scan total,
    plan-asserted. Decimal discipline: the total is cast to
    DECIMAL(28,8) before the 0.001 multiply so the product stays inside
    38 digits — Spark would otherwise ROUND the threshold to scale 6
    (allowPrecisionLoss) while DuckDB keeps the exact wider type; with
    the cast both engines compute it exactly (and ANSI fails loudly on
    a corpus overflowing 20 integer digits instead of silently
    rounding)."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 7)
    d = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    v = pin(
        li.join(su, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(d("l_extendedprice") * d("l_quantity")).alias("pv"))
    )
    tot = v.agg(F.sum("pv").cast("decimal(28,8)").alias("__tot"))
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(
            F.col("pv") > F.col("__tot") * F.expr("CAST(0.001 AS DECIMAL(7,6))")
        )
        .select("l_partkey", F.col("pv").cast("double").alias("part_value"))
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: argmax over an aggregated view — the supplier(s)
    whose quarterly revenue equals the global max. Written as ONE
    aggregation, not the textbook view-referenced-twice SQL: measured on
    this engine, the CTE/scalar-subquery form executes the revenue
    aggregation (and the fact scan under it) TWICE — neither physical
    planning nor AQE runtime stage reuse deduplicates the canonically
    identical exchanges (verified on the executed plan; no
    ReusedExchange appears). Instead the per-supplier aggregate — one
    row per supplier, the small frame — is pinned, the max is a
    partial-max gather over it (32 partial rows to one task, never the
    data), and the equality probe joins the broadcast 1-row max back.
    One fact scan total, plan-asserted. The pin is released with the
    caller's open ``PinScope`` (operators/pins.py); revenue is an exact
    decimal sum so the equality compare is engine-deterministic and
    ties return every tied supplier on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    d = lambda col: F.col(col).cast("decimal(18,4)")  # noqa: E731
    rev = pin(
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(d("l_extendedprice") * (F.lit(1) - d("l_discount"))).alias(
                "total_rev"
            )
        )
    )
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_rev") == F.col("__mx"))
        .join(su, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: correlated EXISTS *and* NOT EXISTS against the
    same fact table — suppliers who were the SOLE late shipper on a
    multi-supplier finished order (shipping > 60 days after order date
    stands in for the receipt/commit lag the driver schema lacks).
    Catalyst compiles the pair into a LEFT SEMI then a LEFT ANTI join
    on l_orderkey, each carrying its non-equi secondary condition
    (supplier inequality; the anti side also correlates on
    o_orderdate from the OUTER join's row — a two-table correlation).
    No subquery node survives and nothing is evaluated per-row
    (plan-asserted in tests/test_plans.py)."""
    for t in ("lineitem", "supplier", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"q21_{t}")
    return spark.sql(
        """
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM q21_supplier, q21_lineitem l1, q21_orders
        WHERE s_suppkey = l1.l_suppkey
          AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM q21_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM q21_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
        """
    )


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of conjunctive predicates spanning BOTH
    join sides. The naive plan joins everything then filters; the right
    plan (and what Catalyst produces via CNF conversion) extracts the
    join key plus per-table residuals — ``p_brand IN (...)`` and the
    size bound prune the part scan, the quantity bound prunes the
    lineitem scan — BEFORE the join, leaving only the cross-branch
    disjunction as the join residual. Plan-asserted: both scans carry
    pushed filters and the join is a broadcast hash join, not a
    filtered cartesian."""
    for t in ("lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"q19_{t}")
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                   AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM q19_lineitem JOIN q19_part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
        """
    )


@register(
    "q22_dormant_balance",
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS totacctbal
    FROM customer JOIN nation ON n_nationkey = c_nationkey
    WHERE CAST(c_acctbal AS DECIMAL(18,2))
          * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
          > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2)))
             FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name
    """,
)
def q22_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: anti join + a global-average threshold —
    above-average-balance customers with no recent orders, rolled up by
    nation (nation stands in for the phone country code the driver
    schema lacks; "dormant since 2000" stands in for "no orders at
    all", which this dataset doesn't contain). The average compare is
    written multiplicatively — ``bal * count > sum`` — because decimal
    SUM and COUNT are exact on both engines while AVG's divide rounds
    under each engine's own scale rules; same predicate, zero float
    ambiguity. Catalyst evaluates the two scalar subqueries once each
    and compiles NOT EXISTS to a left anti join on o_custkey with the
    date bound pushed to the orders scan."""
    for t in ("customer", "nation", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"q22_{t}")
    return spark.sql(
        """
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS totacctbal
        FROM q22_customer JOIN q22_nation ON n_nationkey = c_nationkey
        WHERE CAST(c_acctbal AS DECIMAL(18,2))
              * (SELECT COUNT(*) FROM q22_customer WHERE c_acctbal > 0)
              > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                 FROM q22_customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM q22_orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY n_name
        """
    )


@register(
    "q2_min_price_supplier",
    oracle="""
    SELECT p_partkey, p_name, s_suppkey, s_name,
           CAST(l_extendedprice AS DOUBLE) AS min_price
    FROM part, lineitem, supplier
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND p_size < 10
      AND l_extendedprice = (SELECT MIN(l2.l_extendedprice)
                             FROM lineitem l2
                             JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
                             WHERE l2.l_partkey = p_partkey
                               AND s2.s_acctbal >= 0)
    """,
)
def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: a correlated scalar MIN subquery whose body is
    itself a JOIN (cheapest-offer-per-part over qualified suppliers —
    acctbal >= 0 stands in for the region restriction, lineitem price
    for partsupp supplycost). This is the decorrelation case q17
    doesn't cover: Catalyst must pull the two-table subquery into a
    grouped aggregate OVER THE JOIN and probe it back by p_partkey —
    no per-row subquery execution survives (plan-asserted). Price
    values are exact doubles from the source (no arithmetic), so the
    equality probe is engine-deterministic; ties return every tied
    (part, supplier) row on both engines."""
    for t in ("part", "lineitem", "supplier"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"q2_{t}")
    return spark.sql(
        """
        SELECT p_partkey, p_name, s_suppkey, s_name,
               CAST(l_extendedprice AS DOUBLE) AS min_price
        FROM q2_part, q2_lineitem, q2_supplier
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND p_size < 10
          AND l_extendedprice = (SELECT MIN(l2.l_extendedprice)
                                 FROM q2_lineitem l2
                                 JOIN q2_supplier s2
                                   ON s2.s_suppkey = l2.l_suppkey
                                 WHERE l2.l_partkey = p_partkey
                                   AND s2.s_acctbal >= 0)
        """
    )


@register(
    "q20_heavy_shippers",
    oracle="""
    SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'blue%'
      GROUP BY l_suppkey
      HAVING SUM(l_quantity) > 2000)
    """,
)
def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: IN over an AGGREGATED subquery with its own
    join — suppliers who shipped more than a volume threshold of
    'blue%' parts (the prefix LIKE stands in for the forest% part
    filter; the volume HAVING for the 50%-of-availqty correlation the
    driver schema can't express without partsupp). The plan feature:
    the IN compiles to a LEFT SEMI join whose build side is itself a
    join + grouped aggregate + HAVING — the semi probe runs against an
    aggregate, not a table — and the prefix LIKE reaches the part scan
    as a StartsWith pushdown. Quantities are integer-valued doubles,
    so the HAVING sum is order-exact on both engines."""
    for t in ("supplier", "lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"q20_{t}")
    return spark.sql(
        """
        SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
        FROM q20_supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey
          FROM q20_lineitem JOIN q20_part ON p_partkey = l_partkey
          WHERE p_name LIKE 'blue%'
          GROUP BY l_suppkey
          HAVING SUM(l_quantity) > 2000)
        """
    )

# ---------------------------------------------------------------------------
# TPC-H Q12: conditional aggregation over a join — CASE inside SUM.
# ---------------------------------------------------------------------------


@register(
    "q12_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: two CASE-conditional SUMs in ONE grouped
    aggregate over a fact-fact join. ``l_linestatus`` stands in for the
    ``l_shipmode`` column the driver schema lacks; the 1996 ship-year
    band stands in for the receipt-date window. The plan feature under
    test: both priority classes are counted in a single pass — one
    join, one aggregation, ONE shuffle for the grouping (plan-asserted
    in tests/test_plans.py); the naive two-query/self-join form would
    double the fact scan. The CASE branches are integer literals, so
    both counts are exact BIGINTs on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q14: promo-revenue ratio — CASE inside SUM feeding one division.
# ---------------------------------------------------------------------------


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(100.0 * (CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                              THEN CAST(l_extendedprice AS DECIMAL(18,4))
                                   * (1 - CAST(l_discount AS DECIMAL(18,4)))
                              ELSE 0 END) AS DOUBLE)
                / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                           * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE))
               AS DOUBLE) AS promo_revenue_pct,
           CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN 1 ELSE 0 END)
               AS BIGINT) AS promo_lines,
           CAST(COUNT(*) AS BIGINT) AS total_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01'
      AND l_shipdate < TIMESTAMP '1995-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: a global scalar aggregate whose numerator is a
    CASE-guarded subset of its denominator — the promo-revenue share of
    one ship month. One broadcast join (part is the dim side), one
    scalar aggregation, one shuffle to the single reducer — the CASE
    adds no plan nodes beyond the projection (plan-asserted). Money math
    is decimal-exact until the final division, which is written as
    ``100.0 * (promo_double / total_double)`` in BOTH engines so the
    IEEE rounding sequence is identical."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), disc_price).otherwise(
        F.lit(0)
    )
    agg = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.sum(promo).alias("__promo"),
            F.sum(disc_price).alias("__total"),
            F.sum(F.when(F.col("p_type").like("PROMO%"), 1).otherwise(0))
            .cast("long")
            .alias("promo_lines"),
            F.count(F.lit(1)).alias("total_lines"),
        )
    )
    return agg.select(
        (
            F.lit(100.0)
            * (F.col("__promo").cast("double") / F.col("__total").cast("double"))
        ).alias("promo_revenue_pct"),
        "promo_lines",
        "total_lines",
    )


# ---------------------------------------------------------------------------
# TPC-H Q10: ranked top-k after join+agg — LIMIT pushed into
# TakeOrderedAndProject (no global sort materialization).
# ---------------------------------------------------------------------------


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name, c_mktsegment,
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name, c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE)
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer in one
    quarter, ranked, top 20. The plan feature under test: the ORDER BY
    + LIMIT after join+agg must compile to ``TakeOrderedAndProject``
    (each partition keeps a 20-row heap, the driver merges k·P rows) —
    a global ``Sort`` before the limit would shuffle the full aggregate
    output, which at 100 TB is millions of customer rows for a 20-row
    answer. Plan-asserted in tests/test_plans.py. ``c_custkey`` is the
    unique tiebreak, so the selected 20-row SET is deterministic on
    both engines even under revenue ties. Revenue is decimal-exact
    before the double cast; ``acctbal`` is rounded to its storage
    precision (2 decimals) on both engines so the group key is
    bit-identical."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(
            li.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            "n_name",
            "c_mktsegment",
            _dec("c_acctbal", 2).cast("double").alias("acctbal"),
        )
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# CUBE: the full grouping-set lattice — rollup covers the hierarchy
# prefix; cube adds the cross slices ((), (a), (b), (a,b)) in one pass.
# ---------------------------------------------------------------------------


@register(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_price,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
               AS BIGINT) AS grouping_id
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grouping-set lattice over (status, priority): every slice a
    dashboard pivots on — per-status, per-priority, the cross, and the
    grand total — in ONE Expand + aggregate pass instead of four
    queries (4 scans at 100 TB). grouping_id disambiguates synthesized
    NULLs from data NULLs, same convention as rollup_pricing. Expand
    multiplies rows 4x BEFORE the shuffle, but partial aggregation
    collapses each grouping set map-side, so the exchange still carries
    one row per (set, group) per map task."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        F.grouping_id().cast("long").alias("grouping_id"),
    )

# ---------------------------------------------------------------------------
# TPC-H Q7: volume shipping between two nations — a disjunctive predicate
# over columns from TWO different dimension joins.
# ---------------------------------------------------------------------------


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, yr,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
               AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS yr,
                 l_extendedprice, l_discount
          FROM lineitem
          JOIN orders   ON o_orderkey = l_orderkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON n1.n_nationkey = s_nationkey
          JOIN nation n2 ON n2.n_nationkey = c_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01') shipping
    GROUP BY supp_nation, cust_nation, yr
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue shipped between a nation PAIR in either
    direction, by year. The plan feature under test: the disjunctive
    pair predicate references columns from two DIFFERENT dimension
    joins (supplier's nation and customer's nation), so it cannot be
    pushed below either join — it must run as a post-join filter while
    each nation lookup itself stays an equi-join (NOT a nested-loop:
    plan-asserted no BroadcastNestedLoopJoin). At 100 TB the win is
    that both nation dims broadcast and the residual filter drops
    ~(23/25)² of rows before the aggregation shuffle.

    The classic query restricts each nation join to the two named
    nations; we keep the joins generic and filter after, which is the
    harder planning case — Catalyst must still infer IsNotNull and keep
    the filter above both broadcasts. Year band 1996–1997 stands in for
    the spec's 1995–1996 (driver data starts 1995 but sparsely).
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("yr"),
        )
        .agg(
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q8: national market share — CASE numerator over total denominator,
# per year, with the nation dimension joined in TWO distinct roles.
# ---------------------------------------------------------------------------


@register(
    "q8_market_share",
    oracle="""
    SELECT yr,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_2'
                              THEN volume ELSE 0 END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN 1 ELSE 0 END)
               AS BIGINT) AS subject_lines,
           CAST(COUNT(*) AS BIGINT) AS total_lines
    FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS yr,
                 CAST(l_extendedprice AS DECIMAL(18,4))
                   * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume,
                 n2.n_name AS supp_nation
          FROM lineitem
          JOIN orders   ON o_orderkey = l_orderkey
          JOIN part     ON p_partkey = l_partkey AND p_type = 'ECONOMY'
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON n1.n_nationkey = c_nationkey
          JOIN region   ON r_regionkey = n1.n_regionkey AND r_name = 'ASIA'
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation n2 ON n2.n_nationkey = s_nationkey
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1998-01-01') all_nations
    GROUP BY yr
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of ECONOMY-part revenue sold
    into the ASIA region, per order year. The widest join tree on the
    board — lineitem against FIVE dimensions plus orders — with the
    nation table joined in two distinct roles (customer's nation gates
    the region filter and is then DISCARDED; supplier's nation feeds
    the CASE numerator). Plan features under test: the BOUNDED
    dimensions broadcast (filtered part, nation x2, filtered region —
    tables that stay small or shrink under their filters at any
    scale), while customer and supplier — which GROW with the fact
    table in TPC-H and would OOM a forced broadcast at 100 TB — carry
    no hint: AQE picks broadcast at bench SF (both fit) and degrades
    to shuffle joins at scale instead of failing, which a hard hint
    would (the hint overrides AQE's size check). The share is
    computed in the SAME single aggregate as the denominator (CASE
    inside SUM, the Q14 pattern lifted from scalar to grouped).
    Decimal-exact volume; one IEEE division per row written identically
    in both engines. ``subject_lines``/``total_lines`` pin the CASE
    branch cardinalities so a silently-empty numerator can't hash-pass.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    volume = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    subject = F.col("supp_nation") == "NATION_2"
    return (
        li.join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            F.broadcast(p.filter(F.col("p_type") == "ECONOMY")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("c_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("r_regionkey") == F.col("n1_region"),
        )
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(F.when(subject, volume).otherwise(F.lit(0))).alias("__subj"),
            F.sum(volume).alias("__total"),
            F.sum(F.when(subject, 1).otherwise(0))
            .cast("long")
            .alias("subject_lines"),
            F.count(F.lit(1)).alias("total_lines"),
        )
        .select(
            "yr",
            (F.col("__subj").cast("double") / F.col("__total").cast("double"))
            .cast("double")
            .alias("mkt_share"),
            "subject_lines",
            "total_lines",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9: product-type profit — arithmetic across fact AND dim columns
# inside one aggregate, LIKE-filtered build side.
# ---------------------------------------------------------------------------


@register(
    "q9_product_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS yr,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))
                    - CAST(0.4 AS DECIMAL(18,4))
                      * CAST(p_retailprice AS DECIMAL(18,4))
                      * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               AS profit,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey AND p_name LIKE '%red%'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    GROUP BY n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on 'red' parts by supplier nation and
    order year. Plan features under test: (a) the profit expression
    mixes columns from the fact (price, discount, quantity) and a
    joined dimension (retail price) inside ONE sum — partial
    aggregation must still apply because the expression is resolved
    before the agg; (b) the '%red%' infix LIKE cannot become a scan
    StartsWith pushdown, so it must run as the broadcast build side's
    filter, shrinking the hash table ~6× before the probe; (c) no date
    filter at all — the scan is full, which is exactly when broadcast
    dims and a single agg shuffle matter most.

    Adaptation: the driver schema has no partsupp, so the spec's
    ``ps_supplycost * l_quantity`` becomes ``0.4 * p_retailprice *
    l_quantity`` — same shape (dim-price × fact-quantity), decimal-
    exact, and the 0.4 literal is a DECIMAL(18,4) on both engines so
    the products stay exact before the final double cast.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    profit = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")) - (
        F.lit("0.4").cast("decimal(18,4)")
        * _dec("p_retailprice")
        * _dec("l_quantity")
    )
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_name").like("%red%"))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.sum(profit).cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Global contiguous ranking as a standalone certified op.
# ---------------------------------------------------------------------------


@register(
    "orders_global_rank",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS BIGINT) AS seqno,
           o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
               AS o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def orders_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global contiguous 1..N ranking of finished orders by price —
    the O2 SEQNO operator (``dedup.renumber``) certified standalone
    rather than only inside the contacts pipeline. The single-partition
    ``row_number() OVER (ORDER BY ...)`` the oracle runs is exactly the
    plan that DOESN'T scale (one task sees every row); the Spark side
    instead runs the two-pass partition-offset pattern:
    ``repartitionByRange`` on the sort keys (partition i holds globally
    ordered slice i), a per-partition count collected to the driver
    (#partitions rows — bounded), then partition-local row_number plus
    the broadcast offset. No stage ever holds more than one partition's
    rows, yet the assigned sequence is IDENTICAL to the oracle's global
    window because the order (price desc, orderkey) is total. Price is
    rounded to storage precision on both sides (the q10 acctbal
    convention)."""
    from bcg_contacts_data_pipeline_spark.operators.dedup import renumber

    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey", _dec("o_totalprice", 2).cast("double").alias("o_totalprice")
        )
    )
    ranked = renumber(
        o,
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        seq_name="seqno",
    )
    return ranked.select(
        F.col("seqno").cast("long").alias("seqno"),
        "o_orderkey",
        "o_totalprice",
    )


# ---------------------------------------------------------------------------
# Ratio-to-parent rollup: window over an aggregate, two hierarchy levels.
# ---------------------------------------------------------------------------


@register(
    "revenue_share_rollup",
    oracle="""
    WITH nat AS (
      SELECT r_name AS region, n_name AS nation,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS rev,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      GROUP BY r_name, n_name)
    SELECT region, nation,
           CAST(rev AS DOUBLE) AS revenue,
           n_lines,
           CAST(CAST(rev AS DOUBLE)
                / CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE)
               AS DOUBLE) AS share_of_region
    FROM nat
    """,
)
def revenue_share_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent: each supplier nation's share of its REGION's
    revenue — the two-level hierarchy share every BI rollup needs
    (ratio_to_report in Oracle dialect). Physical shape: ONE grouped
    aggregate at the leaf level (nation), then a window SUM over the
    25-row aggregate partitioned by region — the parent total is
    derived from the child aggregate, never a second fact scan, and
    the window runs over an aggregate-sized frame, not the fact.
    Dimensions broadcast; one data shuffle (the leaf groupBy) plus the
    tiny window exchange.

    Determinism: the share divides the DECIMAL-exact child revenue by
    the DECIMAL-exact parent total (decimal window sums are
    order-insensitive), cast to double only at the division — one IEEE
    op of identical operands per row."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    nat = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
            ).alias("__rev"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    w = Window.partitionBy("region")
    return nat.select(
        "region",
        "nation",
        F.col("__rev").cast("double").alias("revenue"),
        "n_lines",
        (
            F.col("__rev").cast("double")
            / F.sum("__rev").over(w).cast("double")
        ).alias("share_of_region"),
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
