"""Round-7 continuation surface.

1. The last three TPC-H plan shapes the board lacked — Q7 (disjunctive
   nation-pair predicate over a 6-way join), Q8 (market-share ratio:
   CASE numerator / total denominator per year over an 8-way join with
   one dimension in two roles), Q9 (profit arithmetic across fact AND
   dim columns inside one aggregate, infix-LIKE build side). With
   these, all 22 TPC-H *plan features* expressible in the driver
   schema are covered (no partsupp table, no receipt/commit dates —
   adaptations noted per query).
2. The curation-audit family: per-doc n-gram contamination scoring,
   train/test split-leakage, temperature (p^0.5) language rebalancing
   with data-derived rates, quality-weighted soft sampling.
3. The vector family: JL random projection (exact literal-matrix
   oracle), distributed per-label centroids (dyadic 2^-40 quantization
   for cross-engine-exact float means), a k-means assignment step, and
   a triangle census of the LSH near-neighbor graph.
4. The warehouse-audit family: schema-wide FK orphan counts, Benford
   first-digit screening, median/MAD robust outliers, weekly retention
   cohorts, an adaptive equi-width histogram, mergeable HLL sketch
   rollups, and the O2 global contiguous ranking certified standalone.
5. The stream-stream LEFT OUTER join (watermark-gated null emission
   with the finite-drain cutoff stated exactly by its oracle) lives in
   streaming/ops.py; its query registration is here.

Registered into the same ``plans.queries`` registry. Determinism rules
as everywhere else: decimal-exact money math before any double cast,
single IEEE division written identically in both engines, year
extraction cast to INT on both sides — plus two new tricks recorded in
their docstrings: dyadic quantization where a float->decimal cast would
hit rounding-tie divergence, and round-before-reuse for interpolated
medians.

Reference parity note: the reference pipeline
(/root/reference/clean_contacts.py) has none of this analytics surface —
this module is part of the beyond-reference surface SURVEY.md §2
commits to, proving the plan shapes a 100 TB warehouse-plus-curation
workload hits daily.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.plans.queries import (
    _dec,
    _t,
    _TOKS_SQL,
    register,
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
# Eval-set contamination scoring: per-doc n-gram overlap fraction.
# ---------------------------------------------------------------------------


@register(
    "contamination_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_transform({_TOKS_SQL}, t -> lower(t)) AS t
      FROM documents WHERE length(trim(text)) > 0),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      FROM toks WHERE len(t) >= 3),
    train AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 <> 0),
    ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 = 0)
    SELECT ev.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN train.shingle IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hit,
           CAST(SUM(CASE WHEN train.shingle IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS contamination
    FROM ev LEFT JOIN train ON ev.shingle = train.shingle
    GROUP BY ev.doc_id
    """,
)
def contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc contamination: the fraction of each held-out doc's
    distinct 3-gram shingles that occur ANYWHERE in the train split
    (doc_id % 10 != 0; every 10th doc is the eval set, the
    ``decontaminate`` convention). Where ``decontaminate`` proves the
    pair-FINDER (LSH join recall), this is the pair-free QUANTIFIER —
    diffuse overlap spread across many train docs still scores, which
    no single near-dup pair would flag. Spark side joins 8-byte hashed
    shingles (``similarity.ngram_contamination``); the oracle joins the
    shingle STRINGS — hash-of-hashes is injective on token windows up
    to 2^-64, the same equivalence ``ngram_jaccard`` certifies."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        ngram_contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    return ngram_contamination(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        "doc_id",
        "text",
        n=3,
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
    from bcg_contacts_data_pipeline_spark.plans.queries import _events

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
# JL random projection: dimensionality reduction as a narrow projection.
# ---------------------------------------------------------------------------


def _projection_oracle(dim: int = 64, k: int = 16, seed: int = 7) -> str:
    """DuckDB twin of embedding_project: the seeded +-1 matrix embeds as
    SQL literals (repr round-trips doubles exactly); each output dim is
    the same sequential left-fold dot product * the same exact scale,
    so projected values are bit-identical across engines."""
    from bcg_contacts_data_pipeline_spark.functions.vectors import (
        rademacher_matrix,
    )
    from bcg_contacts_data_pipeline_spark.plans.queries import _DOT_SQL

    matrix = rademacher_matrix(dim, k, seed)
    scale = repr(1.0 / (k**0.5))
    dims = ", ".join(
        f"({_DOT_SQL.format(a='embedding', b='[' + ', '.join(repr(x) for x in row) + ']')}) * {scale}"
        for row in matrix
    )
    sq = "list_reduce(list_transform(proj, p -> p * p), (acc, v) -> acc + v)"
    # pos is 0-based to match Spark's posexplode; the parallel unnests
    # zip element-wise in DuckDB, unrolling the list into scalar rows so
    # the driver's sort-based canonicalizer can hash the output.
    return f"""
    WITH projected AS (
      SELECT vec_id, embedding, [{dims}] AS proj FROM embeddings),
    scored AS (
      SELECT vec_id, proj,
           {sq} / {_DOT_SQL.format(a='embedding', b='embedding')} AS norm_ratio
      FROM projected)
    SELECT vec_id,
           unnest(range(0, len(proj))) AS pos,
           unnest(proj) AS value,
           norm_ratio
    FROM scored
    """


@register("embedding_project", oracle=_projection_oracle())
def embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims (seeded
    Rademacher matrix, ``vectors.random_projection``) plus the per-row
    norm-preservation ratio ||y||^2/||x||^2 — the JL quantity itself,
    carried in-band. Dimensionality reduction is the standard pre-step
    before ANN indexing when input width is the cost driver: 4x fewer
    floats into every downstream distance computation.

    Plan shape: a single narrow projection — k*dim multiply-adds in
    whole-stage codegen, ZERO shuffles, no Python — the kind of op that
    runs at 100 TB at scan speed. Output is EXPLODED to scalar
    ``(vec_id, pos, value, norm_ratio)`` rows (posexplode is narrow: no
    shuffle) so the result is plain-scalar hashable; downstream callers
    wanting the array form project it back with one collect_list.
    Oracle is EXACT, not statistical: the matrix embeds as literals and
    both engines run the identical sequential left-fold, so even the
    float ratios hash-match. The JL concentration property (ratios near
    1) is pinned separately by a unit test; this query pins the
    arithmetic."""
    from bcg_contacts_data_pipeline_spark.functions.vectors import (
        dot_sql,
        rademacher_matrix,
        random_projection_sql,
    )

    emb = _t(spark, sf_dir, "embeddings")
    matrix = rademacher_matrix(64, 16, seed=7)
    # SQL-string build (the normalize_sql treatment): the Column form of
    # this 16x64 projection measured 6371 py4j round-trips / ~2.7 s of
    # pure driver wall per BUILD — the plan-construction bottleneck class
    # tests/test_plans.py's build-time gate pins. Values bit-identical
    # (twin equivalence pinned in tests/test_properties_r7.py).
    projected = emb.selectExpr(
        "vec_id",
        "embedding",
        f"{random_projection_sql('embedding', matrix)} AS proj",
    )
    scored = projected.selectExpr(
        "vec_id",
        "proj",
        f"{dot_sql('proj', 'proj')} / {dot_sql('embedding', 'embedding')}"
        " AS norm_ratio",
    )
    return scored.select(
        "vec_id",
        F.posexplode("proj").alias("pos", "value"),
        "norm_ratio",
    )


# ---------------------------------------------------------------------------
# Distributed vector aggregation: per-label embedding centroids.
# ---------------------------------------------------------------------------


def _centroid_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, pos, mean_val) per-dimension centroid means — the
    distributed core shared by ``embedding_centroids`` (scalar output)
    and ``centroid_arrays`` (array form for k-means). pos is 0-based
    (posexplode). See ``embedding_centroids`` for the determinism
    argument behind the dyadic quantization."""
    emb = _t(spark, sf_dir, "embeddings")
    two40 = F.lit(1099511627776.0)
    flat = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    return flat.groupBy("label", "pos").agg(
        (
            (
                F.sum(
                    F.floor(F.col("val").cast("double") * two40).cast(
                        "decimal(28,0)"
                    )
                ).cast("double")
                / two40
            )
            / F.count(F.lit(1))
        ).alias("mean_val"),
    )


def centroid_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, centroid: array<double>) — the reassembled per-label
    centroid vectors, for callers that need the array form (the k x d
    broadcast table in ``kmeans_assign_step``). k x d rows reassemble
    into k arrays; the collect_list group is one centroid (d elements),
    never a whole label's worth of input vectors."""
    dims = _centroid_dims(spark, sf_dir)
    return dims.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s["mean_val"],
        ).alias("centroid")
    )


@register(
    "embedding_centroids",
    oracle="""
    WITH flat AS (
      -- parallel unnests in one SELECT zip element-wise in DuckDB,
      -- giving 0-based (pos, value) rows like Spark's posexplode
      SELECT label,
             unnest(range(0, len(embedding))) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings),
    dims AS (
      SELECT label, pos,
             (CAST(SUM(CAST(floor(val * 1099511627776.0) AS DECIMAL(28,0)))
                   AS DOUBLE) / 1099511627776.0) / COUNT(*) AS mean_val
      FROM flat GROUP BY label, pos),
    sizes AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label)
    SELECT d.label,
           CAST(s.n_vectors AS BIGINT) AS n_vectors,
           d.pos,
           d.mean_val
    FROM dims d JOIN sizes s USING (label)
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the vector
    aggregation every clustering / class-prototype / dataset-cartography
    pass needs. The DISTRIBUTED shape, not the collect shape: posexplode
    to (label, dim, value) rows, ONE groupBy (label, dim) with map-side
    partial aggregation. Output stays in that scalar shape —
    ``(label, n_vectors, pos, mean_val)``, one row per centroid
    dimension — so the result hashes as plain scalars; callers wanting
    the k x d array form use ``centroid_arrays``. Nothing ever
    materializes a whole group of vectors in one task
    (``collect_list(embedding)`` would — the memory cliff at 100 TB
    when a label holds millions of rows); state per reducer key is a
    single running (sum, count).

    Determinism: the mean is over DYADICALLY QUANTIZED values —
    ``floor(val * 2^40)`` is EXACT double arithmetic on float32 inputs
    (a 24-bit mantissa times a power of two: no rounding anywhere),
    summed as an exact integer decimal, so Spark's arbitrary reduce
    order and DuckDB's sequential order cannot diverge; then two
    IEEE divisions in pinned order (by 2^40, then by the count). A
    plain float -> DECIMAL(p,12) cast is NOT engine-stable: it hits
    decimal rounding TIES (Spark HALF_UP vs DuckDB HALF_EVEN —
    observed once across the 32k casts at sf0.01). Quantization error
    is < 2^-40 per element; DECIMAL(28,0) gives the integer sum
    headroom past 10^15 rows per group.
    """
    emb = _t(spark, sf_dir, "embeddings")
    dims = _centroid_dims(spark, sf_dir)
    sizes = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    return dims.join(F.broadcast(sizes), "label").select(
        "label", "n_vectors", "pos", "mean_val"
    )


# ---------------------------------------------------------------------------
# K-means assignment step: broadcast centroids, argmin by squared L2.
# ---------------------------------------------------------------------------

_SQDIST_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE)), "
    "(acc, v) -> acc + v)"
)


@register(
    "kmeans_assign_step",
    oracle="""
    WITH flat AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings),
    dims AS (
      SELECT label, pos,
             (CAST(SUM(CAST(floor(val * 1099511627776.0) AS DECIMAL(28,0)))
                   AS DOUBLE) / 1099511627776.0) / COUNT(*) AS mean_val
      FROM flat GROUP BY label, pos),
    cents AS (
      SELECT label AS c_label, list(mean_val ORDER BY pos) AS centroid
      FROM dims GROUP BY label),
    scored AS (
      SELECT e.vec_id, e.label, c.c_label,
             list_reduce(list_transform(list_zip(e.embedding, c.centroid),
                 x -> (x[1]::DOUBLE - x[2]::DOUBLE)
                      * (x[1]::DOUBLE - x[2]::DOUBLE)),
                 (acc, v) -> acc + v) AS dist
      FROM embeddings e CROSS JOIN cents c),
    assigned AS (
      SELECT vec_id, label, c_label,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, c_label) AS rk
      FROM scored)
    SELECT label, c_label AS assigned_label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM assigned WHERE rk = 1
    GROUP BY label, c_label
    """,
)
def kmeans_assign_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd assignment step: every vector assigned to its nearest
    label-centroid (squared L2, ties broken by centroid id), output as
    the (true label x assigned label) contingency table — the purity
    check after a clustering pass, and the inner loop of distributed
    k-means. Physical shape: the k x d centroid table (bytes) BROADCASTS
    to every executor; assignment is then one scan of the vectors with
    k sequential-fold distance expressions and a ``min_by`` argmin —
    per-iteration cost is exactly one pass over the data, the property
    that makes Lloyd iterations feasible at 100 TB.

    Cross-engine determinism chain: centroids are the dyadic-exact
    means of ``embedding_centroids`` (bit-identical), the squared-L2
    fold runs in identical element order, so distances are
    bit-identical doubles and the argmin (with the c_label tiebreak)
    picks the same centroid on both engines — integer counts then
    compare exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = centroid_arrays(spark, sf_dir).select(
        F.col("label").alias("c_label"), "centroid"
    )
    sqdist = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("centroid"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "label", "c_label", sqdist.alias("dist")
    )
    assigned = scored.groupBy("vec_id", "label").agg(
        F.min_by("c_label", F.struct("dist", "c_label")).alias(
            "assigned_label"
        )
    )
    return assigned.groupBy("label", "assigned_label").agg(
        F.count(F.lit(1)).alias("n_vectors")
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
    from bcg_contacts_data_pipeline_spark.plans.queries import _events

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
# Temperature-based language rebalancing: DATA-DERIVED sampling rates.
# ---------------------------------------------------------------------------


@register(
    "lang_rebalance_temperature",
    oracle="""
    WITH langs AS (
      SELECT lang, COUNT(*) AS n_docs,
             sqrt(CAST(COUNT(*) AS DOUBLE)) AS w
      FROM documents GROUP BY lang),
    tot AS (
      SELECT list_reduce(list(w ORDER BY lang), (a, b) -> a + b) AS totw,
             SUM(n_docs) AS n
      FROM langs),
    rates AS (
      SELECT lang, n_docs,
             LEAST(1.0, ((0.5 * n) * (w / totw)) / n_docs) AS rate
      FROM langs, tot),
    kept AS (
      SELECT d.lang
      FROM documents d JOIN rates r USING (lang)
      WHERE CAST(CAST(('0x' || substring(md5('temp-v1:'
                || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                % 10000 AS BIGINT)
            < CAST(floor(r.rate * 10000) AS BIGINT))
    SELECT r.lang,
           CAST(r.n_docs AS BIGINT) AS n_docs,
           CAST(COUNT(k.lang) AS BIGINT) AS n_kept,
           r.rate
    FROM rates r LEFT JOIN kept k ON r.lang = k.lang
    GROUP BY r.lang, r.n_docs, r.rate
    """,
)
def lang_rebalance_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (the multilingual-corpus
    mixing rule: sample language l proportional to p_l^alpha, here
    alpha = 0.5 so the weight is ``sqrt`` — chosen because sqrt is
    IEEE-correctly-rounded in every engine while ``pow(x, 0.7)`` is
    not, so the rates stay bit-identical). Unlike ``stratified_sample``
    (CONFIG-constant rates), the rates here are DERIVED FROM THE DATA:
    one language-stats aggregate, weights folded in pinned lang order
    (five doubles — order-pinned so the two engines cannot disagree on
    the sum), target budget 50% of the corpus, per-lang rate clamped at
    1.0, thresholds via ``floor`` (never ``round`` — no tie semantics),
    then the same growth-stable salted-md5 keep filter. Dominant
    languages are squeezed toward the budget; rare ones keep more of
    their mass — the standard alpha-temperature curve.

    Output is the rebalancing audit table: per language, corpus count,
    kept count, and the applied rate (bit-identical double).

    The 5-row language-stats aggregate is PINNED (q15/q11 pattern):
    it feeds three consumers (the weight total, the rate table, and
    through it the keep filter), and unpinned each one would recompute
    it with its own full documents scan — 2 scans instead of 5.
    """
    from bcg_contacts_data_pipeline_spark.functions.sampling import (
        hash_bucket,
    )
    from bcg_contacts_data_pipeline_spark.operators.pins import pin

    docs = _t(spark, sf_dir, "documents")
    langs = pin(
        docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    langs = langs.select(
        "lang", "n_docs", F.sqrt(F.col("n_docs").cast("double")).alias("w")
    )
    tot = langs.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lang", "w"))),
            F.lit(0.0),
            lambda acc, s: acc + s["w"],
        ).alias("totw"),
        F.sum("n_docs").alias("n"),
    )
    rates = langs.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.least(
            F.lit(1.0),
            ((F.lit(0.5) * F.col("n")) * (F.col("w") / F.col("totw")))
            / F.col("n_docs"),
        ).alias("rate"),
    )
    keep = hash_bucket("doc_id", 10_000, seed="temp-v1") < F.floor(
        F.col("rate") * 10_000
    ).cast("long")
    kept = (
        docs.join(F.broadcast(rates.select("lang", "rate")), "lang")
        .filter(keep)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            "rate",
        )
    )


# ---------------------------------------------------------------------------
# Quality-weighted sampling: per-DOC data-derived keep probability.
# ---------------------------------------------------------------------------

from bcg_contacts_data_pipeline_spark.plans.queries import _STOPLIST_SQL  # noqa: E402


@register(
    "quality_weighted_sample",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, lang,
             CAST(CASE WHEN length(trim(text)) > 0 THEN len({_TOKS_SQL}) ELSE 0 END AS DOUBLE) AS nt,
             CAST(length(text) AS DOUBLE) AS nc,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS pc,
             CAST(CASE WHEN length(trim(text)) > 0
                  THEN len(list_filter({_TOKS_SQL}, t -> list_contains({_STOPLIST_SQL}, lower(t))))
                  ELSE 0 END AS DOUBLE) AS st
      FROM documents),
    scored AS (
      SELECT doc_id, lang,
             CASE WHEN nt > 0 THEN
               0.4 * least(nt / 100.0, 1.0)
               + 0.3 * least(st / nt * 3.0, 1.0)
               + 0.3 * (1.0 - least(pc / nc * 10.0, 1.0))
             ELSE 0.0 END AS quality
      FROM counts),
    kept AS (
      SELECT doc_id, lang, quality
      FROM scored
      WHERE CAST(CAST(('0x' || substring(md5('qual-v1:'
                || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                % 10000 AS BIGINT)
            < CAST(floor(quality * 10000) AS BIGINT))
    SELECT doc_id, lang, quality FROM kept
    """,
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling (the DCLM/FineWeb-style soft
    filter): each document survives with probability equal to its OWN
    quality score, rather than a hard threshold — high-quality docs
    almost surely stay, mid-quality docs are thinned proportionally,
    junk almost surely drops, preserving a gradient the hard cutoff
    (``filter_cascade``) destroys. The keep decision is the salted-md5
    uniform against ``floor(quality * 10000)`` — deterministic,
    growth-stable, engine-portable, per-DOC data-derived probability
    (``lang_rebalance_temperature`` derives per-GROUP rates; this is
    the row-level analogue). One narrow projection + filter: no
    shuffle, no RNG state, composes under any downstream plan.
    Quality is the exact-integer-component score of ``lang_quality``
    (bit-identical doubles), so the kept SET is identical on both
    engines."""
    from bcg_contacts_data_pipeline_spark.functions import text as T
    from bcg_contacts_data_pipeline_spark.functions.sampling import (
        hash_bucket,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", T.quality_score("text").alias("quality")
    )
    keep = hash_bucket("doc_id", 10_000, seed="qual-v1") < F.floor(
        F.col("quality") * 10_000
    ).cast("long")
    return scored.filter(keep)


# ---------------------------------------------------------------------------
# Triangle counting over the LSH near-neighbor graph.
# ---------------------------------------------------------------------------


def _lsh_pairs_prefix(threshold: float, num_planes: int) -> str:
    """The bk/pairs CTE prefix of the LSH pair graph, reused verbatim
    from the ``embedding_components_ann`` oracle builder so the edge
    set has exactly ONE definition across all graph queries (split at
    the closure CTE; a shape change there fails these queries loudly,
    which is the point)."""
    from bcg_contacts_data_pipeline_spark.plans.queries_r6 import (
        _components_ann_oracle,
    )

    full = _components_ann_oracle(threshold=threshold, num_planes=num_planes)
    return full.split("sym AS")[0].rstrip().rstrip(",")


@register(
    "triangle_count",
    oracle=_lsh_pairs_prefix(0.2, 4)
    + """
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM pairs e1 JOIN pairs e2 ON e2.id_a = e1.id_b) AS n_wedges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM pairs e1 JOIN pairs e2 ON e2.id_a = e1.id_b
            JOIN pairs e3 ON e3.id_a = e1.id_a
                         AND e3.id_b = e2.id_b) AS n_triangles
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the LSH near-neighbor graph (edges = the
    same deterministic cosine>=0.2 same-bucket pairs the
    ``embedding_components_ann`` family uses): edges, wedges (2-paths),
    and closed triangles — the clustering-coefficient numerator, the
    standard density diagnostic for a near-dup graph before committing
    to transitive closure (a triangle-poor pair graph means clusters
    are chains of borderline matches; triangle-rich means genuine
    clique-like duplicate groups).

    The distributed-join formulation (node-iterator): with every edge
    oriented id_a < id_b, a wedge is e1 JOIN e2 ON e1.id_b = e2.id_a
    and a triangle is a wedge whose closing edge (e1.id_a, e2.id_b)
    exists — three hash joins on edge endpoints, each shuffleable by
    key, no adjacency list ever materialized in one task. At real
    scale the orientation should be by DEGREE (low-degree node first,
    the Cohen/GraphX trick bounding wedges by sum of min-degree^2);
    with the band-bucket-capped pair generators feeding this, the
    id-orientation's wedge count is already bounded by the caps.
    Counts are integers — engine-exact."""
    from bcg_contacts_data_pipeline_spark.operators.pins import pin
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_pairs_lsh,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # pinned: the edge list feeds FOUR consumers (both wedge sides, the
    # closing-edge probe, and the edge count) and each recompute would
    # re-run the Python bucket-scoring stage — the opposite trade from
    # the ngram no-persist case (large narrow explode); here the frame
    # is SMALL (pairs only) and the recompute is the expensive part
    e = pin(
        embedding_pairs_lsh(
            emb, "vec_id", "embedding", dim=64, threshold=0.2, num_planes=4
        )
    )
    e1 = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = e.select(F.col("id_a").alias("b2"), F.col("id_b").alias("c"))
    wedges = e1.join(e2, F.col("b") == F.col("b2"))
    closing = e.select(
        F.col("id_a").alias("a3"), F.col("id_b").alias("c3")
    )
    # ONE pass over the wedge frame for both counts (r14, guide §2.4):
    # the former shape aggregated `wedges` once for n_wedges and joined
    # it against `closing` again for n_triangles — the wedge join (the
    # largest frame here) executed twice. A LEFT join preserves every
    # wedge row exactly once when unmatched, and the pair generator
    # guarantees (id_a, id_b) distinct, so count(*) is still the wedge
    # count and count(a3) is exactly the inner-join triangle count.
    closed = wedges.join(
        closing,
        (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        "left",
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    wt = closed.agg(
        F.count(F.lit(1)).alias("n_wedges"),
        F.count("a3").alias("n_triangles"),
    )
    return n_edges.crossJoin(wt)


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
    from bcg_contacts_data_pipeline_spark.operators.pins import pin
    from bcg_contacts_data_pipeline_spark.plans.queries import _events

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
    from bcg_contacts_data_pipeline_spark.plans.queries import _events

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
    from pyspark.sql import Window

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
# Split-leakage audit: near-dup pairs crossing the train/val/test boundary.
# ---------------------------------------------------------------------------


@register(
    "split_leakage_audit",
    oracle="""
    WITH sh_all AS (
      SELECT doc_id,
             unnest(list_distinct([lower(t[i]) || ' ' || lower(t[i+1]) || ' ' || lower(t[i+2])
                    for i in range(1, greatest(len(t)-1, 1))])) AS s
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents WHERE length(trim(text)) > 0)),
    hot AS (SELECT s FROM sh_all GROUP BY s HAVING COUNT(*) > 100),
    sh AS (SELECT * FROM sh_all WHERE s NOT IN (SELECT s FROM hot)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    edges AS (
      SELECT id_a, id_b FROM shared
      JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2),
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
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, max_df=100
    ).select("id_a", "id_b")
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
    from pyspark.sql import Window

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
    from pyspark.sql import Window

    from bcg_contacts_data_pipeline_spark.plans.queries import _events

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


# ---------------------------------------------------------------------------
# Incremental rollup merge: partial aggregates merged, history never rescanned.
# ---------------------------------------------------------------------------


@register(
    "incremental_rollup_merge",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_revenue,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS avg_revenue
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-rollup maintenance pattern, certified: yesterday's
    rollup (orders before 1999) and today's batch (the rest) are
    aggregated SEPARATELY and then MERGED — sum of sums, sum of counts,
    average derived at the end — and the result is bit-identical to the
    oracle's single full-table aggregate. This is the exact-counter
    analogue of ``hll_sketch_rollup``: sums and counts are mergeable
    partials, so a 100 TB warehouse stores per-day partial rows
    (day x status) and answers any date range by merging partials,
    never rescanning history. Works BECAUSE the money sums are decimal
    (exact, associative — merging partials cannot round differently
    than aggregating directly); the average is derived from merged
    exact operands with one final IEEE division, never averaged from
    partial averages (the classic wrong-merge).

    Both 'phases' here read one table split by a date predicate — in
    production they'd be separate stored partial tables; the merge
    arithmetic is what's under certification."""
    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp")

    def partial(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(_dec("o_totalprice")).alias("__rev"),
        )

    old = partial(o.filter(F.col("o_orderdate") < cutoff))
    new = partial(o.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        old.unionByName(new)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("__n").cast("long").alias("n_orders"),
            F.sum("__rev").alias("__total"),
        )
    )
    return merged.select(
        "o_orderstatus",
        "n_orders",
        F.col("__total").cast("double").alias("total_revenue"),
        (F.col("__total").cast("double") / F.col("n_orders")).alias(
            "avg_revenue"
        ),
    )


# ---------------------------------------------------------------------------
# Timeout-driven streaming sessionization (emit-on-close).
# ---------------------------------------------------------------------------


#: Shared with ``statestore_open_sessions`` (plans/queries_r9.py), which
#: needs the EXACT complement cutoff — the text lives in the leaf module
#: ``oracle_templates`` so every package import order is safe (see its
#: docstring); re-exported here for the pre-existing import surface.
from bcg_contacts_data_pipeline_spark.plans.oracle_templates import (  # noqa: E402
    SESSIONS_ORACLE_TEMPLATE,
)


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
    from bcg_contacts_data_pipeline_spark.plans.queries import _events

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
