"""Round-6 query surface: the remaining distinct TPC-H plan shapes
(outer-join count histogram, scalar-agg HAVING, max-over-view,
EXISTS+NOT-EXISTS combo, disjunctive join pushdown, anti+threshold),
plus transitive embedding clusters and time-series gap-fill.

Registered into the same ``plans.queries`` registry (imported at the
bottom of that module). Same determinism rules as every other entry:
decimal-exact money math, integer-exact thresholds (multiplication
instead of division where an average would round), identical aliases
on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.plans.queries import (
    _DOT_SQL,
    _events,
    _t,
    register,
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
    from bcg_contacts_data_pipeline_spark.operators.pins import pin

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
    from bcg_contacts_data_pipeline_spark.operators.pins import pin

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


# ---------------------------------------------------------------------------
# Semantic dedup: transitive cosine clusters over embeddings — the
# embedding-space analogue of `dedup_components` (which clusters on
# n-gram Jaccard). Composition of two existing scale-safe operators:
# blocked exact pair generation + min-label propagation.
# ---------------------------------------------------------------------------

@register(
    "embedding_components",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
            / (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')})
               * sqrt({_DOT_SQL.format(a='b.embedding', b='b.embedding')}))
            >= 0.35),
    sym AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      WITH RECURSIVE r(node, lab) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT s.v, r.lab FROM r JOIN sym s ON s.u = r.node)
      SELECT node, MIN(lab) AS comp FROM r GROUP BY node)
    SELECT CAST(node AS BIGINT) AS vec_id, CAST(comp AS BIGINT) AS component,
           CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT)
               AS component_size
    FROM reach
    """,
)
def q_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive semantic-duplicate clusters: cosine >= 0.35 pairs
    (blocked exact scoring, `embedding_pairs`) closed under
    connectivity via min-label propagation. This is the cluster-level
    view `embedding_neardup`'s greedy one-hop canonicalization can't
    give: A~B, B~C with A!~C still lands all three in one cluster, the
    policy used when near-dup groups must be sampled (keep one PER
    CLUSTER) rather than greedily pruned. Duplicate edges from diagonal
    block cells are absorbed by the propagation's min-agg — no distinct
    shuffle spent on them. The oracle recomputes the closure with a
    recursive CTE; cosine scores fold dimension-sequentially on both
    engines, so even threshold-boundary pairs agree bitwise."""
    from pyspark.sql import Window

    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components,
    )
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_pairs(emb, "vec_id", "embedding", threshold=0.35)
    comp = connected_components(
        pairs, "id_a", "id_b", nodes=emb, node_col="vec_id"
    )
    w = Window.partitionBy("comp")
    return comp.select(
        F.col("node").alias("vec_id"),
        F.col("comp").alias("component"),
        F.count(F.lit(1)).over(w).alias("component_size"),
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


def _components_ann_oracle(
    dim: int = 64, num_planes: int = 4, threshold: float = 0.35, seed: int = 42
) -> str:
    """DuckDB twin of embedding_components_ann: seeded hyperplanes as
    SQL literals (repr round-trips doubles exactly), the same sign
    bucket, the same exact in-bucket cosine verify, closure via a
    recursive CTE."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        _hyperplanes,
    )

    planes = _hyperplanes(dim, num_planes, seed)
    terms = []
    for i, plane in enumerate(planes):
        lits = ", ".join(repr(x) for x in plane)
        d = _DOT_SQL.format(a="embedding", b=f"[{lits}]")
        terms.append(f"(CASE WHEN {d} >= 0 THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(terms)
    cos = (
        _DOT_SQL.format(a="a.embedding", b="b.embedding")
        + f" / (a.nrm * b.nrm)"
    )
    return f"""
    WITH bk AS (
      SELECT vec_id, embedding, {bucket} AS bucket,
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {cos} >= {threshold}),
    sym AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      WITH RECURSIVE r(node, lab) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT s.v, r.lab FROM r JOIN sym s ON s.u = r.node)
      SELECT node, MIN(lab) AS comp FROM r GROUP BY node)
    SELECT CAST(node AS BIGINT) AS vec_id, CAST(comp AS BIGINT) AS component,
           CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT)
               AS component_size
    FROM reach
    """


@register("embedding_components_ann", oracle=_components_ann_oracle())
def q_embedding_components_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sub-quadratic twin of `embedding_components`: candidate pairs
    come from same-sign-LSH-bucket neighbors only (exact cosine verify
    inside the bucket), then the same min-label closure. This is the
    exact-baseline + scale-twin pairing the profiling queries use
    (numeric_profile / _approx): the exact form is ground truth, the
    banded form is what runs at corpus scale, and BOTH are oracle-exact
    because the seeded hyperplanes embed as SQL literals on the DuckDB
    side. `num_planes` is pinned at 4 only for that literal embedding;
    production callers use the operator's "auto" sizing
    (`lsh_num_planes`). Missing cross-bucket edges lower recall — the
    documented LSH trade — but both engines prune identically, so the
    comparison stays hash-exact."""
    from pyspark.sql import Window

    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components,
    )
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_pairs_lsh,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_pairs_lsh(
        emb, "vec_id", "embedding", dim=64, threshold=0.35, num_planes=4
    )
    comp = connected_components(
        pairs, "id_a", "id_b", nodes=emb, node_col="vec_id"
    )
    w = Window.partitionBy("comp")
    return comp.select(
        F.col("node").alias("vec_id"),
        F.col("comp").alias("component"),
        F.count(F.lit(1)).over(w).alias("component_size"),
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
