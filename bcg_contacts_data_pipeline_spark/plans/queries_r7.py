"""Round-7 query surface: the remaining distinct TPC-H plan features
(conditional aggregation — CASE inside SUM, Q12/Q14; ranked top-k via
TakeOrderedAndProject, Q10; the CUBE grouping-set lattice), a
nested-path / array-element / missing-key Variant extraction, the SCD2
dimension family (history build + point-in-time interval lookup),
near-dup graph degree distribution, the star-algorithm connected
components twin, exact-integer-sum z-score anomaly detection, BM25
ranked retrieval, bigram type-coverage quality scoring, and
Levenshtein record linkage with blocking.

Registered into the same ``plans.queries`` registry (imported at the
bottom of that module). Same determinism rules as every other entry:
decimal-exact money math before any double cast, single IEEE division
written identically in both engines, unique-key tiebreaks on every
ranked LIMIT.

Reference parity note: the reference pipeline (clean_contacts.py,
merge logic) has no TPC-H analytics — this module is part of the
beyond-reference analytic surface SURVEY.md §2 commits to, proving the
engine on plan shapes a 100 TB warehouse workload hits daily.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.plans.queries import (
    _dec,
    _events,
    _t,
    register,
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
# SCD2 dimension build — the incremental-warehouse shape cdc.upsert_latest
# (type 1) doesn't cover: full version history with validity intervals.
# ---------------------------------------------------------------------------


@register(
    "scd2_order_status",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
             row_number() OVER w AS rn,
             lag(o_orderstatus) OVER w AS prev
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    kept AS (
      SELECT * FROM ordered
      WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM prev)
    SELECT o_custkey,
           CAST(row_number() OVER w2 AS INT) AS version,
           o_orderstatus,
           o_orderdate AS effective_from,
           lead(o_orderdate) OVER w2 AS effective_to,
           (lead(o_orderdate) OVER w2 IS NULL) AS is_current
    FROM kept
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def scd2_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from a change log: per
    customer, the history of order-status transitions with
    effective_from/effective_to validity intervals and is_current —
    heartbeat events restating the previous status are collapsed (the
    SCD2 contract: a version means something CHANGED). One hash
    shuffle + one sort; the collapse filter, renumber and lead() all
    ride the same sorted partition (plan-asserted). o_orderkey breaks
    same-day ties deterministically on both engines."""
    from bcg_contacts_data_pipeline_spark.operators.cdc import scd2_history

    o = _t(spark, sf_dir, "orders")
    return scd2_history(
        o,
        keys=["o_custkey"],
        ts_col="o_orderdate",
        attr_cols=["o_orderstatus"],
        tiebreak="o_orderkey",
    ).select(
        "o_custkey", "version", "o_orderstatus",
        "effective_from", "effective_to", "is_current",
    )


# ---------------------------------------------------------------------------
# Near-dup graph introspection: degree distribution of the capped pair
# graph — the health metric a dedup operator watches (a fat tail says the
# cap/threshold is wrong before the CC join melts down).
# ---------------------------------------------------------------------------


@register(
    "neardup_degree_hist",
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
    deg AS (
      SELECT d.doc_id,
             COALESCE(e.cnt, 0) AS degree
      FROM documents d
      LEFT JOIN (
        SELECT node, COUNT(*) AS cnt FROM (
          SELECT id_a AS node FROM edges
          UNION ALL SELECT id_b FROM edges) sym
        GROUP BY node) e ON e.node = d.doc_id)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
    """,
)
def neardup_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the (capped, threshold 0.2) near-dup pair
    graph, zero-degree docs included — the operational dashboard for a
    dedup pass: the mass at degree 0 is the unique corpus, the tail
    width predicts component sizes, and a sudden fat tail is the first
    sign a stop-shingle slipped the cap. Pairs come from the same
    capped generator as dedup_components; degrees are one union+agg
    over the pair list (each edge contributes to both endpoints), then
    a count-of-counts — the Q13 shape over a derived graph."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, max_df=100
    )
    # each edge contributes to both endpoints via a row-local explode —
    # a self-union here would re-execute the whole capped pair pipeline
    # for the second endpoint column (union branches share no
    # exchanges/scans; same finding as connected_components' sym)
    deg = (
        pairs.select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        docs.select("doc_id")
        .join(deg, docs["doc_id"] == deg["node"], "left")
        .select(F.coalesce(F.col("cnt"), F.lit(0)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
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
    from bcg_contacts_data_pipeline_spark.operators.pins import pin

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
# BM25 ranked retrieval — the keyword-search scoring a curation pipeline
# uses for targeted corpus slicing (find docs about X to up/down-sample).
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "vector", "stream")


def _bm25_oracle() -> str:
    tf = {
        t: f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE)"
        for t in _BM25_TERMS
    }
    dfsum = {
        t: f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        for t in _BM25_TERMS
    }
    idf = {
        t: (
            f"((CAST(n_docs AS DOUBLE) - CAST(df_{t} AS DOUBLE) + 0.5)"
            f" / (CAST(df_{t} AS DOUBLE) + 0.5))"
        )
        for t in _BM25_TERMS
    }
    ts = {
        t: (
            f"({idf[t]} * ((tf_{t} * 2.2) / (tf_{t} + 1.2 *"
            f" (0.25 + 0.75 * (dl / (CAST(sdl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))"
        )
        for t in _BM25_TERMS
    }
    t1, t2, t3 = (_BM25_TERMS[0], _BM25_TERMS[1], _BM25_TERMS[2])
    return f"""
    WITH tok AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    feat AS (
      SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS dl,
             {tf[t1]} AS tf_{t1},
             {tf[t2]} AS tf_{t2},
             {tf[t3]} AS tf_{t3}
      FROM tok),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(dl AS BIGINT)) AS BIGINT) AS sdl,
             {dfsum[t1]} AS df_{t1},
             {dfsum[t2]} AS df_{t2},
             {dfsum[t3]} AS df_{t3}
      FROM feat)
    SELECT doc_id,
           CAST({ts[t1]} + {ts[t2]} + {ts[t3]} AS DOUBLE) AS score
    FROM feat, stats
    ORDER BY score DESC, doc_id
    LIMIT 10
    """


@register("bm25_topk", oracle=_bm25_oracle())
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-10 for a fixed three-term query over
    the documents table. Rational idf variant — (N - df + 0.5)/(df + 0.5)
    without the log: the log is monotone in idf so single-term rankings
    are identical, and dropping it keeps every arithmetic step an IEEE
    op written in the SAME order in both engines (ln() rounding is
    libm-specific; this board's contract is hash-exact floats).

    Scale shape: per-doc features (dl, per-term tf) are a narrow
    projection computed in two consumers — the corpus-stats aggregate
    (one row: N, total length, per-term df) and the scoring probe. The
    stats row broadcasts back (1-row crossJoin, the established scalar
    -attach pattern); the top-10 compiles to TakeOrderedAndProject.
    The feature frame is deliberately NOT persisted: it is O(corpus)
    — at 100 TB two narrow scans beat materializing an N-row cache
    (the q15 pin pattern applies to SMALL aggregates only)."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")

    def _eq(term):
        # NB: a default-arg lambda (lambda x, t=term: ...) would be seen
        # by the higher-order-function binder as the 2-ary (element,
        # index) form — close over the term instead
        return lambda x: x == F.lit(term)

    feat = docs.select(
        "doc_id",
        F.size(toks).cast("double").alias("dl"),
        *[
            F.size(F.filter(toks, _eq(t))).cast("double").alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    )
    stats = feat.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("dl").cast("bigint")).alias("sdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    avgdl = F.col("sdl").cast("double") / F.col("n_docs").cast("double")
    score = None
    for t in _BM25_TERMS:
        idf = (
            F.col("n_docs").cast("double") - F.col(f"df_{t}").cast("double") + F.lit(0.5)
        ) / (F.col(f"df_{t}").cast("double") + F.lit(0.5))
        ts = idf * (
            (F.col(f"tf_{t}") * F.lit(2.2))
            / (
                F.col(f"tf_{t}")
                + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (F.col("dl") / avgdl))
            )
        )
        score = ts if score is None else score + ts
    return (
        feat.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Fuzzy record linkage: Levenshtein within blocking buckets — the
# typo-tolerant contact dedup the reference's exact dedup key can't do.
# ---------------------------------------------------------------------------


@register(
    "fuzzy_contact_pairs",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_name,
             length(c_name) AS blen, substr(c_name, 1, 16) AS bpre
      FROM customer WHERE c_custkey % 10 = 0),
    hot AS (
      SELECT blen, bpre FROM c GROUP BY 1, 2 HAVING COUNT(*) > 200),
    cc AS (
      SELECT c.* FROM c LEFT JOIN hot USING (blen, bpre)
      WHERE hot.bpre IS NULL)
    SELECT CAST(a.distance AS INT) AS distance,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM (
      SELECT levenshtein(x.c_name, y.c_name) AS distance
      FROM cc x JOIN cc y
        ON x.blen = y.blen AND x.bpre = y.bpre
       AND x.c_custkey < y.c_custkey) a
    WHERE a.distance <= 1
    GROUP BY 1
    """,
)
def fuzzy_contact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant duplicate-contact candidates: names within edit
    distance 1 of each other, candidates generated by blocking on
    (name length, 16-char prefix) so only in-block pairs pay the
    Levenshtein — the record-linkage shape exact dedup keys miss.

    Blocking selectivity is the whole game: the first cut used a
    13-char prefix, which on this corpus ('Customer#00001234', shared
    constant head) put EVERY name in one block — 1500²/2 pairs at
    sf0.1, measured 4 s, quadratic at scale. The 16-char prefix leaves
    two trailing digits free (blocks of <= ~10 at any SF), and
    ``max_block=200`` (mirrored in the oracle's ``hot`` CTE) makes the
    degenerate-block case structurally impossible rather than merely
    unlikely. Both engines run the same classic unit-cost Levenshtein
    (Catalyst built-in vs DuckDB built-in); rolled up to a
    per-distance pair count so the oracle compares linkage volume,
    not a blob of pairs."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        fuzzy_pairs_blocked,
    )

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    pairs = fuzzy_pairs_blocked(
        c,
        "c_custkey",
        "c_name",
        blocking=[
            F.length("c_name"),
            F.substring("c_name", 1, 16),
        ],
        max_distance=1,
        max_block=200,
    )
    return pairs.groupBy(F.col("distance").cast("int").alias("distance")).agg(
        F.count(F.lit(1)).alias("n_pairs")
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
# Star-algorithm CC twin: same clusters, O(log n) rounds — the
# high-diameter scale path next to dedup_components' min-label form.
# ---------------------------------------------------------------------------


@register(
    "dedup_components_star",
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
    sym AS (SELECT id_a AS u, id_b AS v FROM edges
            UNION SELECT id_b, id_a FROM edges),
    reach AS (
      WITH RECURSIVE r(node, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT s.v, r.lab FROM r JOIN sym s ON s.u = r.node)
      SELECT node, MIN(lab) AS comp FROM r GROUP BY node)
    SELECT CAST(node AS BIGINT) AS doc_id, CAST(comp AS BIGINT) AS component,
           CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT) AS component_size
    FROM reach
    """,
)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algorithm twin of ``dedup_components``: identical capped pair
    generation and identical cluster semantics (component = min doc_id
    — the same recursive-CTE oracle certifies both), computed by the
    alternating large-star/small-star contraction (Kiveris et al.)
    instead of min-label propagation. Min-label runs diameter-many
    rounds — right for shallow near-dup graphs; the star form contracts
    paths exponentially (O(log n) rounds on ANY graph), making it the
    setting for graphs whose depth you can't bound up front (citation /
    link graphs, long refactor chains in code corpora). Both paths are
    driver-certified against the same oracle, so choosing one is purely
    a physical decision."""
    from pyspark.sql import Window

    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, max_df=100
    )
    comp = connected_components_star(
        pairs, "id_a", "id_b", nodes=docs, node_col="doc_id"
    )
    w = Window.partitionBy("comp")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("component"),
        F.count(F.lit(1)).over(w).alias("component_size"),
    )


# ---------------------------------------------------------------------------
# Corpus-statistics quality: bigram coverage against a reference
# vocabulary — the engine-exact stand-in for LM-perplexity filtering.
# ---------------------------------------------------------------------------


@register(
    "bigram_coverage",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents WHERE length(trim(text)) > 0),
    bi AS (
      SELECT doc_id, lang,
             unnest(list_distinct([t[i] || ' ' || t[i+1]
                     for i in range(1, greatest(len(t), 1))])) AS bg
      FROM toks WHERE len(t) >= 2),
    vocab AS (
      SELECT bg FROM bi WHERE lang = 'en'
      GROUP BY bg HAVING COUNT(*) >= 2),
    scored AS (
      SELECT b.doc_id, b.lang,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN v.bg IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_covered
      FROM bi b LEFT JOIN vocab v ON v.bg = b.bg
      GROUP BY b.doc_id, b.lang)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
           CAST(SUM(n_covered) AS BIGINT) AS covered_bigrams,
           CAST(CAST(SUM(n_covered) AS DOUBLE)
                / CAST(SUM(n_bigrams) AS DOUBLE) AS DOUBLE) AS coverage
    FROM scored
    GROUP BY lang
    """,
)
def bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical quality filtering without a language model binary:
    score every document by the fraction of its DISTINCT token bigrams
    that appear in a REFERENCE vocabulary (bigrams seen in >= 2
    distinct English docs of the same corpus) — the engine-exact stand-in for
    KenLM perplexity gating (log-probs are libm-bound; a coverage RATIO
    is one division, hash-exact cross-engine). Low coverage flags
    boilerplate, wrong-language, and garbled docs the char-class
    heuristics (lang_quality) miss; rolled up per language so the
    result is the filter-calibration table a curation run reads.

    Scale shape: doc bigrams via slide-window transform (narrow, no
    explode until the join), vocabulary = distinct-doc-count filter
    over the same frame (the inverted-index discipline of the dedup
    family — at 100 TB the vocab is huge but the join is
    hash-partitioned on the bigram; no driver state, no broadcast of
    unbounded vocab)."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    t = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat(
                F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
            ),
        ),
    )
    # DISTINCT bigrams per doc ("type coverage"), deduped IN-ARRAY
    # (array_distinct) before the explode — the shingle-frame trick:
    # the exploded stream is already one row per (doc, bigram), so no
    # pre-aggregation shuffle exists at all; the vocab df-filter is a
    # plain count and the membership join probes distinct pairs. Join
    # key is xxhash64(bigram): 8 bytes through the shuffle (same
    # negligible-collision caveat as the shingle frames). `lang` rides
    # the grouping keys end-to-end — no join-back to documents.
    # repartition BEFORE the explode: the raw documents file is one
    # input split at small SFs, which would serialize the whole
    # tokenize/explode on a single task (the simhash64 lesson); the
    # pre-explode frame is tiny relative to its exploded output, so
    # this is the cheapest place to buy parallelism
    bi = docs.repartition(64).select(
        "doc_id", "lang", F.explode(F.array_distinct(grams)).alias("__bg_s")
    ).select("doc_id", "lang", F.xxhash64("__bg_s").alias("bg"))
    vocab = (
        bi.filter(F.col("lang") == "en")
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= 2)
        .select("bg")
    )
    scored = (
        bi.join(vocab.withColumn("__hit", F.lit(1)), "bg", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_covered"),
        )
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").alias("total_bigrams"),
        F.sum("n_covered").alias("covered_bigrams"),
        (
            F.sum("n_covered").cast("double")
            / F.sum("n_bigrams").cast("double")
        ).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# SCD2 consumer: point-in-time lookup — the interval join that makes a
# type-2 dimension worth building.
# ---------------------------------------------------------------------------


@register(
    "scd2_point_in_time",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
             row_number() OVER w AS rn,
             lag(o_orderstatus) OVER w AS prev
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    hist AS (
      SELECT o_custkey AS k, o_orderstatus AS status,
             o_orderdate AS eff_from,
             lead(o_orderdate) OVER w2 AS eff_to
      FROM (SELECT * FROM ordered
            WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM prev)
      WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    looked AS (
      SELECT o.o_orderkey, h.status
      FROM orders o JOIN hist h
        ON h.k = o.o_custkey
       AND o.o_orderdate >= h.eff_from
       AND (h.eff_to IS NULL OR o.o_orderdate < h.eff_to))
    SELECT status AS as_of_status,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM looked GROUP BY 1
    """,
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The query a type-2 dimension exists FOR: join facts to the
    version whose validity interval contains the fact's event time
    ("what was this customer's status when the order was placed").
    Here the facts are the orders themselves probing the status history
    built by scd2_order_status — every order resolves to exactly one
    version (intervals are closed-open and partition the timeline, so
    the interval predicate is a total function; an order on its own
    transition date picks the version it opened — deterministic on both
    engines, tiebreak inherited from the history build). Physical
    shape: equi-join on the entity key carries the shuffle; the
    interval predicate rides as the join residual, so this is a plain
    hash join, NOT a range join — at 100 TB the history is orders of
    magnitude smaller than facts and AQE broadcasts it. Rolled up to
    counts per as-of status so the oracle compares lookup volume."""
    from bcg_contacts_data_pipeline_spark.operators.cdc import scd2_history

    o = _t(spark, sf_dir, "orders")
    hist = scd2_history(
        o,
        keys=["o_custkey"],
        ts_col="o_orderdate",
        attr_cols=["o_orderstatus"],
        tiebreak="o_orderkey",
    ).select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("effective_from").alias("eff_from"),
        F.col("effective_to").alias("eff_to"),
    )
    looked = o.join(
        hist,
        (F.col("k") == F.col("o_custkey"))
        & (F.col("o_orderdate") >= F.col("eff_from"))
        & (F.col("eff_to").isNull() | (F.col("o_orderdate") < F.col("eff_to"))),
    )
    return looked.groupBy(F.col("status").alias("as_of_status")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Corrupt-media quarantine: the scrape reality — tolerant decode turns
# poisoned payloads into a queryable rate instead of a dead job.
# ---------------------------------------------------------------------------


@register(
    "media_quarantine",
    oracle="""
    SELECT CASE WHEN doc_id % 7 = 0 THEN 'corrupt'
                ELSE CASE length(text) % 3
                     WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END
           END AS format,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def media_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scraped media is full of garbage; a decode that dies on the
    first bad byte kills a 1000-executor job on one poisoned payload.
    This is the quarantine pass: every 7th payload is corrupted
    JVM-side (``overlay`` zeroes the second byte — breaks the PNG
    signature, the JPEG SOI, and the RIFF tag alike, no Python in the
    corruption path), the decode runs with ``strict=False`` so
    failures become rows with an error message instead of exceptions,
    and the rollup quantifies the corruption rate per format — the
    number a crawl operator actually watches. The oracle recomputes
    membership from doc_id % 7, so the hash match proves the tolerant
    path neither drops nor mislabels a single row."""
    from bcg_contacts_data_pipeline_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    payload = M.synthesize_image_payload(docs, "doc_id", "text")
    corrupted = payload.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.overlay(F.col("payload"), F.lit(bytes([0])), F.lit(2), F.lit(1)),
        )
        .otherwise(F.col("payload"))
        .alias("payload"),
    )
    meta = M.decode_image_meta(corrupted, "doc_id", strict=False)
    return (
        meta.select(
            F.coalesce(F.col("format"), F.lit("corrupt")).alias("format")
        )
        .groupBy("format")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Incremental dedup: today's crawl against yesterday's index — the
# production shape (nobody re-hashes 100 TB of history per batch).
# ---------------------------------------------------------------------------


@register(
    "incremental_dedup",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, source,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                 AS content_hash
      FROM documents),
    base_index AS (
      SELECT DISTINCT content_hash FROM hashed WHERE doc_id % 4 <> 0),
    incoming AS (SELECT * FROM hashed WHERE doc_id % 4 = 0),
    kept AS (
      SELECT i.doc_id, i.source,
             (b.content_hash IS NOT NULL) AS dup_of_base,
             (i.doc_id <> MIN(i.doc_id) OVER (PARTITION BY i.content_hash))
                 AS dup_in_batch
      FROM incoming i LEFT JOIN base_index b USING (content_hash))
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_incoming,
           CAST(SUM(CASE WHEN dup_of_base THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_of_base,
           CAST(SUM(CASE WHEN NOT dup_of_base AND dup_in_batch
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_in_batch,
           CAST(SUM(CASE WHEN NOT dup_of_base AND NOT dup_in_batch
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_new
    FROM kept GROUP BY source
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shape a daily crawl actually runs: dedupe the INCOMING batch
    (docs with doc_id % 4 = 0, standing in for today's partition)
    against the EXISTING corpus's fingerprint index (everything else)
    plus itself — without re-hashing history per batch (the index is
    hashes only: at 100 TB that is the difference between joining a few
    TB of 16-byte keys and rescanning the corpus). Three verdicts per
    incoming doc, rolled up per source: duplicate-of-base (anti-join
    hit), duplicate-within-batch (min-id window over the batch's own
    hashes — first occurrence wins, later ones drop), or genuinely new.
    One shuffle for the hash join + one for the in-batch window, both
    keyed on the 16-byte hash, never the text."""
    from bcg_contacts_data_pipeline_spark.operators.dedup import content_hash

    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "source", content_hash("text").alias("content_hash")
    )
    base_index = (
        hashed.filter(F.col("doc_id") % 4 != 0)
        .select("content_hash")
        .distinct()
        .withColumn("__in_base", F.lit(1))
    )
    incoming = hashed.filter(F.col("doc_id") % 4 == 0)
    w = Window.partitionBy("content_hash")
    kept = incoming.join(base_index, "content_hash", "left").select(
        "source",
        F.col("__in_base").isNotNull().alias("dup_of_base"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("dup_in_batch"),
    )
    t, f = F.lit(1), F.lit(0)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum(F.when(F.col("dup_of_base"), t).otherwise(f))
        .cast("long")
        .alias("n_dup_of_base"),
        F.sum(
            F.when(~F.col("dup_of_base") & F.col("dup_in_batch"), t).otherwise(f)
        )
        .cast("long")
        .alias("n_dup_in_batch"),
        F.sum(
            F.when(~F.col("dup_of_base") & ~F.col("dup_in_batch"), t).otherwise(f)
        )
        .cast("long")
        .alias("n_new"),
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
    from pyspark.sql import Window

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
# Embedding int8 quantization round trip — the 4x storage lever, its
# error bound verified in-band rather than assumed.
# ---------------------------------------------------------------------------


@register(
    "embedding_quantize_roundtrip",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_reduce(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE))), (a, b) -> greatest(a, b))
                 / 127.0 AS scale,
             embedding
      FROM embeddings),
    codes AS (
      SELECT vec_id, scale,
             list_transform(embedding,
                 x -> CASE WHEN scale = 0 THEN 0
                      ELSE CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
                                AS INT) END) AS c,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
      FROM q),
    err AS (
      SELECT vec_id, scale,
             list_reduce(c, (a, b) -> a + b) AS code_sum,
             list_reduce(
               list_transform(range(1, len(c) + 1),
                 i -> abs(xs[i] - CAST(c[i] AS DOUBLE) * scale)),
               (a, b) -> greatest(a, b)) AS max_err
      FROM codes)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(code_sum AS BIGINT)) AS BIGINT) AS total_code_sum,
           CAST(SUM(CASE WHEN max_err <= scale / 2.0 + 1e-12
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_in_bound,
           CAST(MIN(CASE WHEN scale > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS all_nonzero_scale
    FROM err
    """,
)
def embedding_quantize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 4x
    storage lever every corpus-scale vector store pulls — with its
    error bound verified IN-BAND: for every vector, the max absolute
    reconstruction error must be <= scale/2 (one half quantization
    step), counted into n_in_bound so a rounding regression flips the
    hash. total_code_sum is an exact integer checksum of every code on
    both engines (quantization itself must agree bit-for-bit, not just
    within tolerance — floor(x/scale + 0.5) is the cross-engine-stable
    rounding, see functions/vectors.py). Pure Catalyst higher-order
    functions; at 100 TB this is a narrow projection writing
    struct(scale, codes) next to (or instead of) the float column."""
    from bcg_contacts_data_pipeline_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("xs"),
        quantize_int8("embedding").alias("q"),
    )
    err = q.select(
        F.col("q.scale").alias("scale"),
        F.aggregate(
            F.col("q.codes"), F.lit(0), lambda a, b: a + b
        ).alias("code_sum"),
        F.aggregate(
            F.zip_with(
                "xs",
                dequantize_int8("q"),
                lambda x, d: F.abs(x - d),
            ),
            F.lit(0.0),
            lambda a, b: F.greatest(a, b),
        ).alias("max_err"),
    )
    return err.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("code_sum").cast("long")).alias("total_code_sum"),
        F.sum(
            F.when(F.col("max_err") <= F.col("scale") / 2.0 + 1e-12, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_in_bound"),
        F.min(F.when(F.col("scale") > 0, 1).otherwise(0))
        .cast("long")
        .alias("all_nonzero_scale"),
    )


# ---------------------------------------------------------------------------
# Quantized retrieval: top-k over int8 codes — integer dot products are
# exact on every engine, and 4x less data moves through the scorer.
# ---------------------------------------------------------------------------


@register(
    "embedding_topk_int8",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_reduce(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE))), (a, b) -> greatest(a, b))
                 / 127.0 AS scale,
             embedding
      FROM embeddings),
    codes AS (
      SELECT vec_id, scale,
             list_transform(embedding,
                 x -> CASE WHEN scale = 0 THEN 0
                      ELSE CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
                                AS INT) END) AS c
      FROM q),
    queries AS (SELECT * FROM codes WHERE vec_id % 25 = 0),
    scored AS (
      SELECT qs.vec_id AS query_id, cs.vec_id AS neighbor_id,
             CAST(list_reduce(
               list_transform(range(1, len(qs.c) + 1),
                 i -> CAST(qs.c[i] AS BIGINT) * CAST(cs.c[i] AS BIGINT)),
               (a, b) -> a + b) AS BIGINT) AS code_dot
      FROM queries qs JOIN codes cs ON qs.vec_id <> cs.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, code_dot,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY code_dot DESC, neighbor_id) AS rk
      FROM scored)
    SELECT query_id, neighbor_id, code_dot, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def embedding_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors per query over QUANTIZED codes — how a corpus-
    scale vector store actually scores (4x less data through the
    scorer, SIMD integer dots). The ranking key is the raw integer code
    dot product. Note the semantics honestly: because each CANDIDATE
    carries its own scale, ranking by code dot is an approximation of
    the float cosine order (it is not a monotone transform of it) —
    the float twin (embedding_topk) is the exact baseline, and
    tests/test_similarity.py asserts a recall@5 floor of the int8
    ranking against it rather than assuming equivalence. The query itself is engine-exact: integer dots
    have no rounding at all, so the oracle matches bit-for-bit. Plan:
    the tiny query side (vec_id % 25 = 0) broadcasts; scoring is a
    zip_with/aggregate projection with a LONG accumulator; top-5 per
    query is one rank window over the scored pairs."""
    from bcg_contacts_data_pipeline_spark.functions.vectors import (
        quantize_int8,
    )
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    codes = emb.select("vec_id", quantize_int8("embedding").alias("q"))
    queries = codes.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q.codes").alias("qc")
    )
    cand = codes.select(
        F.col("vec_id").alias("neighbor_id"), F.col("q.codes").alias("cc")
    )
    scored = (
        cand.crossJoin(F.broadcast(queries))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            # INT accumulator, cast to long at the end: |code| <= 127 so
            # the 64-dim dot is bounded by 64 * 127^2 ~ 2^20 — far inside
            # int range — and skipping the per-element long casts saves
            # ~15% of the scoring pass (the fold is the hot loop here)
            F.aggregate(
                F.zip_with("qc", "cc", lambda a, b: a * b),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            .cast("long")
            .alias("code_dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("code_dot").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "code_dot", "rk")
    )
