"""Round-5 query surface: lakehouse CDC, corpus curation, and
event-sequence analytics.

Registered into the same ``plans.queries`` registry (imported at the
bottom of that module so the driver contract sees one dict). Same
determinism rules: decimal-exact money math, total orders with unique
tiebreaks, identical aliases on both engines.
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


@register(
    "lang_quantiles",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 4) AS p25,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 4) AS p50,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 4) AS p75
    FROM documents GROUP BY 1
    """,
)
def q_lang_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length quartiles — exact linear-interpolated
    percentile per group, the grouped analogue of `numeric_profile`.
    Same scale contract as that pair: the exact form is the oracle
    baseline (its per-group buffer is the documented cost), and the
    sketch path for 100 TB is the registered, oracle-checked twin
    `lang_quantiles_approx` below — same band-check contract as
    `numeric_profile_approx`, applied per group."""
    docs = _t(spark, sf_dir, "documents")
    pct = F.percentile(
        F.col("n_chars").cast("double"),
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
    )
    return (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), pct.alias("__p"))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("__p")[0], 4).alias("p25"),
            F.round(F.col("__p")[1], 4).alias("p50"),
            F.round(F.col("__p")[2], 4).alias("p75"),
        )
    )


@register(
    "lang_quantiles_approx",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           true AS p25_in_band, true AS p50_in_band, true AS p75_in_band
    FROM documents GROUP BY 1
    """,
)
def q_lang_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of lang_quantiles: GROUPED `approx_percentile`
    (Greenwald-Khanna sketch — bounded memory per group, map-side
    mergeable) instead of exact `percentile`, whose per-group buffer
    holds every value of the group (docs-per-language: effectively
    unbounded at corpus scale).

    The verification harness is RANK-based rather than the value-band
    numeric_profile_approx uses: an interpolated band at q +/- slack is
    narrower than one element's spacing once groups are small, while
    the sketch always returns an actual element — so instead we join
    the per-group sketch values back (broadcast — one row per
    language) and count each group's values strictly below / at-or-
    below the sketch value. The sketch output occupies ranks
    (cnt_lt, cnt_le]; it is in-band iff that interval intersects
    q*n +/- (10*n/accuracy + 1) — the sketch's guaranteed rank error
    at 10x slack, plus one rank for discreteness. The oracle pins the
    per-group counts exact and the booleans TRUE, so a sketch outside
    its rank guarantee fails the value-hash compare. Every stage is
    mergeable aggregates + one broadcast join — unlike the exact-band
    harness, even the verification path has no unbounded buffer.
    Production callers keep the sketch columns and drop the check;
    lang_quantiles remains the exact baseline."""
    qs = [0.25, 0.5, 0.75]
    acc = 10_000
    docs = _t(spark, sf_dir, "documents")
    c = F.col("n_chars").cast("double")
    sk = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile_approx(
            c, F.array(*[F.lit(q) for q in qs]), F.lit(acc)
        ).alias("__ap"),
    )
    # null-safe join back: a USING join would drop a NULL-lang group,
    # diverging from both the oracle's GROUP BY (which keeps it) and
    # the exact twin — latent until the testdata ships NULL langs, but
    # a harness artifact is the wrong reason for a red row
    joined = (
        docs.select(F.col("lang").alias("__l"), c.alias("__v"))
        .join(F.broadcast(sk), F.col("__l").eqNullSafe(F.col("lang")))
        .drop("__l")
    )
    ranks = joined.groupBy("lang").agg(
        F.first("n_docs").alias("n_docs"),
        F.first("__ap").alias("__ap"),
        *[
            agg
            for i in range(len(qs))
            for agg in (
                F.sum(
                    (F.col("__v") < F.col("__ap")[i]).cast("long")
                ).alias(f"__lt{i}"),
                F.sum(
                    (F.col("__v") <= F.col("__ap")[i]).cast("long")
                ).alias(f"__le{i}"),
            )
        ],
    )
    n = F.col("n_docs").cast("double")
    tol = n * (10.0 / acc) + F.lit(1.0)
    return ranks.select(
        "lang",
        "n_docs",
        *[
            (
                (F.col(f"__lt{i}") + 1 <= F.lit(q) * n + tol)
                & (F.col(f"__le{i}") >= F.lit(q) * n - tol)
            ).alias(f"p{int(q * 100)}_in_band")
            for i, q in enumerate(qs)
        ],
    )


# ---------------------------------------------------------------------------
# Training-corpus curation: chunking, stratified sampling, epoch mixing
# ---------------------------------------------------------------------------


@register(
    "doc_chunks",
    oracle="""
    WITH offs AS (
      SELECT doc_id, text,
             unnest(generate_series(0, greatest(length(text) - 1, 0), 100)) AS off
      FROM documents)
    SELECT doc_id,
           CAST(off // 100 AS BIGINT) AS chunk_id,
           CAST(off + 1 AS BIGINT) AS chunk_start,
           CAST(length(substring(text, CAST(off + 1 AS INT), 120)) AS BIGINT) AS chunk_len,
           md5(substring(text, CAST(off + 1 AS INT), 120)) AS chunk_md5
    FROM offs
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 120-char windows every 100 chars over every document
    (operators/chunking.py) — the shard step between corpus and
    tokenizer. Narrow plan: sequence+posexplode, no shuffle, no UDF;
    the md5 fingerprint makes the chunk content itself hash-checkable
    without shipping text through the compare."""
    from bcg_contacts_data_pipeline_spark.operators.chunking import (
        chunk_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", size=120, stride=100)


@register(
    "stratified_sample",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST(CAST(('0x' || substring(md5('mix-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 10000 AS BIGINT)
          < CASE WHEN lang = 'en' THEN 2500 ELSE 6000 END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing as a pure filter: downsample the dominant
    language (en → 25 %) and keep the rest at 60 %, decided by salted
    md5 bucket — deterministic, engine-portable, growth-stable (adding
    docs never flips existing decisions). No shuffle, no RNG, no state;
    the filter composes with any downstream plan."""
    from bcg_contacts_data_pipeline_spark.functions.sampling import (
        stratified_keep,
    )

    docs = _t(spark, sf_dir, "documents")
    keep = stratified_keep(
        "doc_id", "lang", {"en": 0.25}, default_rate=0.6, seed="mix-v1"
    )
    return docs.filter(keep).select("doc_id", "lang", "source")


@register(
    "corpus_mix",
    oracle="""
    SELECT doc_id, lang,
           CAST(unnest(generate_series(1,
                CASE lang WHEN 'zh' THEN 3 WHEN 'fr' THEN 2
                          WHEN 'de' THEN 2 WHEN 'es' THEN 2
                          ELSE 1 END)) AS BIGINT) AS epoch
    FROM documents
    """,
)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted training mixture by epoch upsampling: rare languages
    repeat 2-3x per pass, the dominant one once — an exploded sequence
    (narrow, no shuffle, output exactly the mixture size), identical on
    every run and engine, unlike a random sampler."""
    from bcg_contacts_data_pipeline_spark.functions.sampling import (
        epoch_repeat,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    mixed = epoch_repeat(
        docs, "lang", {"zh": 3, "fr": 2, "de": 2, "es": 2}, default_epochs=1
    )
    return mixed.select(
        "doc_id", "lang", F.col("epoch").cast("long").alias("epoch")
    )


# ---------------------------------------------------------------------------
# Lakehouse maintenance: CDC merge and snapshot diff (operators/cdc.py)
# ---------------------------------------------------------------------------


@register(
    "cdc_upsert_orders",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice, 1 AS version, false AS is_deleted
      FROM orders),
    upd AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, 2 AS version,
             (o_orderkey % 21 = 0) AS is_deleted
      FROM orders WHERE o_orderkey % 3 = 0),
    merged AS (
      SELECT o_orderkey,
             arg_max(o_totalprice, version) AS o_totalprice,
             arg_max(is_deleted, version) AS del,
             CAST(MAX(version) AS INT) AS version
      FROM (SELECT * FROM base UNION ALL SELECT * FROM upd)
      GROUP BY 1)
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, version
    FROM merged WHERE NOT del
    """,
)
def q_cdc_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins CDC MERGE (operators/cdc.py:upsert_latest): a change
    batch (every 3rd key re-priced at version 2, every 21st a tombstone)
    merged into the base snapshot. One hash-shuffle with map-side
    partial max_by — the incremental replacement for the reference's
    full-rebuild refresh (run.py picks latest file and recomputes
    everything)."""
    from bcg_contacts_data_pipeline_spark.operators.cdc import upsert_latest

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_totalprice",
        F.lit(1).alias("version"),
        F.lit(False).alias("is_deleted"),
    )
    upd = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit(2).alias("version"),
        (F.col("o_orderkey") % 21 == 0).alias("is_deleted"),
    )
    merged = upsert_latest(
        base, upd, ["o_orderkey"], "version", delete_col="is_deleted"
    )
    return merged.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "version",
    )


@register(
    "snapshot_diff_orders",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM orders WHERE o_orderkey % 11 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 17 = 0),
    diff AS (
      SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                   AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                       THEN 'unchanged'
                  ELSE 'changed' END AS status,
             CAST(o.o_totalprice AS DOUBLE) AS old_o_totalprice,
             CAST(n.o_totalprice AS DOUBLE) AS new_o_totalprice,
             o.o_orderstatus AS old_o_orderstatus,
             n.o_orderstatus AS new_o_orderstatus
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
    SELECT * FROM diff WHERE status <> 'unchanged'
    """,
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff of two table snapshots (operators/cdc.py:
    snapshot_diff): null-safe compares classify every key as added /
    removed / changed, unchanged rows drop before the compare output.
    Both sides prune to key + compared columns before the full outer
    join, so diffing 2 columns of a 100-column table moves 3 columns."""
    from bcg_contacts_data_pipeline_spark.operators.cdc import snapshot_diff

    o = _t(spark, sf_dir, "orders")
    old = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
    new = (
        o.filter(F.col("o_orderkey") % 11 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 2
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 17 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    diff = snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )
    return diff.filter(F.col("status") != "unchanged")


# ---------------------------------------------------------------------------
# End-to-end near-dup pruning: LSH pairs -> components -> keep one per
# cluster — the composition a curation pipeline actually ships.
# ---------------------------------------------------------------------------


@register(
    "neardup_prune",
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
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r.comp = r.node THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN r.comp = r.node THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
    FROM reach r JOIN documents d ON d.doc_id = r.node
    GROUP BY 1
    """,
)
def q_neardup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline a curation job ships: near-dup pairs
    (ngram Jaccard >= 0.2, posting lists frequency-capped at df <= 100
    so a stop-shingle can never make the inverted-index join quadratic)
    -> transitive clusters -> keep the min-id representative per cluster
    -> per-source survival accounting. Every stage is the scalable form
    (capped exact pair generation — the cap is mirrored in the oracle
    and skew-tested in tests/test_skew.py; checkpointed label
    propagation); the keep rule `node == comp` needs no extra join
    because a component's label IS its min member."""
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components,
    )
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, max_df=100
    )
    comp = connected_components(
        pairs, "id_a", "id_b", nodes=docs, node_col="doc_id"
    )
    kept = F.when(F.col("comp") == F.col("node"), 1).otherwise(0)
    return (
        comp.join(
            docs.select("doc_id", "source"),
            comp["node"] == F.col("doc_id"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.sum(F.lit(1) - kept).cast("long").alias("n_removed"),
        )
    )


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


# ---------------------------------------------------------------------------
# Quality filter cascade: per-stage survival accounting in ONE pass
# ---------------------------------------------------------------------------


def _cascade_oracle() -> str:
    from bcg_contacts_data_pipeline_spark.plans.queries import _PII_EMAIL

    return f"""
    WITH synth AS (
      SELECT doc_id, n_chars,
             CASE WHEN doc_id % 7 = 0
               THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@corp.example now'
               ELSE text END AS t
      FROM documents),
    flags AS (
      SELECT n_chars >= 150 AS b1,
             len(regexp_split_to_array(trim(t), '\\s+')) >= 30 AS b2,
             CAST(len(list_distinct(regexp_split_to_array(lower(trim(t)), '\\s+'))) AS DOUBLE)
               / len(regexp_split_to_array(trim(t), '\\s+')) >= 0.5 AS b3,
             NOT regexp_matches(t, '{_PII_EMAIL}') AS b4
      FROM synth)
    SELECT 0 AS stage, 'total' AS name, CAST(COUNT(*) AS BIGINT) AS survivors FROM flags
    UNION ALL
    SELECT 1, 'min_length', CAST(SUM(CASE WHEN b1 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
    UNION ALL
    SELECT 2, 'min_words', CAST(SUM(CASE WHEN b1 AND b2 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
    UNION ALL
    SELECT 3, 'distinct_ratio', CAST(SUM(CASE WHEN b1 AND b2 AND b3 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
    UNION ALL
    SELECT 4, 'no_email_pii', CAST(SUM(CASE WHEN b1 AND b2 AND b3 AND b4 THEN 1 ELSE 0 END) AS BIGINT) FROM flags
    """


@register("filter_cascade", oracle=_cascade_oracle())
def q_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter cascade with per-stage survival accounting in ONE
    scan and ONE tiny aggregate: every stage's boolean is a sibling
    column, cumulative survival is boolean AND-chains, and the per-stage
    counts are conditional sums in a single agg — NOT four filtered
    re-scans (the naive form reads the corpus once per stage). Email PII
    is synthesized into every 7th doc (same construction as pii_scan)
    so the last stage demonstrably drops rows."""
    from bcg_contacts_data_pipeline_spark.plans.queries import _PII_EMAIL

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = F.when(
        d % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            d.cast("string"),
            F.lit("@corp.example now"),
        ),
    ).otherwise(F.col("text"))
    words = F.split(F.trim(t), r"\s+")
    b1 = F.col("n_chars") >= 150
    b2 = F.size(words) >= 30
    b3 = (
        F.size(F.array_distinct(F.split(F.lower(F.trim(t)), r"\s+"))).cast("double")
        / F.size(words)
    ) >= 0.5
    b4 = ~(t.rlike(_PII_EMAIL))
    flags = docs.select(
        b1.alias("b1"), b2.alias("b2"), b3.alias("b3"), b4.alias("b4")
    )
    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    agg = flags.agg(
        F.count(F.lit(1)).alias("_n0"),
        cnt(F.col("b1")).alias("_n1"),
        cnt(F.col("b1") & F.col("b2")).alias("_n2"),
        cnt(F.col("b1") & F.col("b2") & F.col("b3")).alias("_n3"),
        cnt(F.col("b1") & F.col("b2") & F.col("b3") & F.col("b4")).alias("_n4"),
    )
    names = ["total", "min_length", "min_words", "distinct_ratio", "no_email_pii"]
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("stage"),
                F.lit(nm).alias("name"),
                F.col(f"_n{i}").alias("survivors"),
            )
            for i, nm in enumerate(names)
        ]
    )
    return agg.select(F.inline(rows))


# ---------------------------------------------------------------------------
# The curation pipeline, end-to-end: the LLM-data twin of
# contacts_pipeline_e2e — quality gates -> near-dup prune -> split ->
# chunk -> shard accounting, as ONE lazy plan over raw documents.
# ---------------------------------------------------------------------------

_CURATION_ORACLE = """
WITH flags AS (
  SELECT doc_id, text,
         n_chars >= 100 AS b1,
         len(regexp_split_to_array(trim(text), '\\s+')) >= 20 AS b2,
         CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS DOUBLE)
           / len(regexp_split_to_array(trim(text), '\\s+')) >= 0.45 AS b3
  FROM documents),
kept AS (SELECT doc_id, text FROM flags WHERE b1 AND b2 AND b3),
sh_all AS (
  SELECT doc_id,
         unnest(list_distinct([lower(t[i]) || ' ' || lower(t[i+1]) || ' ' || lower(t[i+2])
                for i in range(1, greatest(len(t)-1, 1))])) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM kept WHERE length(trim(text)) > 0)),
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
    SELECT doc_id, doc_id FROM kept
    UNION
    SELECT s.v, r.lab FROM r JOIN sym s ON s.u = r.node)
  SELECT node, MIN(lab) AS comp FROM r GROUP BY node),
pruned AS (
  SELECT k.doc_id, k.text FROM kept k
  JOIN reach r ON r.node = k.doc_id AND r.comp = r.node),
chunks AS (
  SELECT doc_id,
         off // 200 AS chunk_id,
         CAST(length(substring(text, CAST(off + 1 AS INT), 200)) AS BIGINT) AS chunk_len
  FROM (SELECT doc_id, text,
               unnest(generate_series(0, greatest(length(text) - 1, 0), 200)) AS off
        FROM pruned)),
labeled AS (
  SELECT CASE
           WHEN CAST(CAST(('0x' || substring(md5('cur-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS BIGINT) < 80 THEN 'train'
           WHEN CAST(CAST(('0x' || substring(md5('cur-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS BIGINT) < 90 THEN 'val'
           ELSE 'test' END AS split,
         doc_id, chunk_id, chunk_len
  FROM chunks)
SELECT split,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(chunk_len) AS BIGINT) AS total_chars,
       CAST((SUM(chunk_len) - arg_max(chunk_len, doc_id * 1000000 + chunk_id)) // 5000 + 1 AS BIGINT) AS n_shards
FROM labeled GROUP BY 1
"""


@register("curation_pipeline_e2e", oracle=_CURATION_ORACLE)
def curation_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete training-data curation pipeline as one composed
    plan — the LLM-data twin of contacts_pipeline_e2e: quality gates
    (length, word count, distinct-word ratio; single narrow projection)
    -> transitive near-dup pruning (df-capped exact pair generation —
    posting lists with document frequency > 100 are dropped before the
    inverted-index self-join, so no stop-shingle can make it quadratic;
    the cap is mirrored in the oracle SQL — plus label propagation,
    keep the min-id representative) -> deterministic 80/10/10 hash
    split -> disjoint 200-char chunking -> per-split shard accounting
    under a 5000-char budget (contiguous packing in (doc_id, chunk_id)
    order: n_shards = exclusive-prefix of the last chunk div budget +
    1, computed from aggregates — no per-split 1-task cumsum window).
    NOT fully lazy, by design: the label propagation inside
    connected_components checkpoints eagerly per round (iterative
    lineage must be cut — same contract dedup_components documents), so
    building this frame runs those rounds. The gated `kept` subtree
    feeds three consumers (pair generation, CC vertex set, the semi
    join) and is persisted once rather than re-running the regex gates
    per consumer."""
    from bcg_contacts_data_pipeline_spark.functions.sampling import (
        assign_split,
    )
    from bcg_contacts_data_pipeline_spark.operators.chunking import (
        chunk_documents,
    )
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components,
    )
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    words = F.split(F.trim(t), r"\s+")
    ratio = (
        F.size(F.array_distinct(F.split(F.lower(F.trim(t)), r"\s+"))).cast("double")
        / F.size(words)
    )
    from bcg_contacts_data_pipeline_spark.operators.pins import pin

    # Persisted once: three consumers below (pair generation, the CC
    # vertex set, the final semi join) would otherwise each re-scan
    # documents and re-run the regex gates.
    kept = pin(
        docs.filter(
            (F.col("n_chars") >= 100) & (F.size(words) >= 20) & (ratio >= 0.45)
        ).select("doc_id", "text")
    )

    pairs = ngram_jaccard_pairs(
        kept, "doc_id", "text", n=3, threshold=0.2, max_df=100
    )
    comp = connected_components(
        pairs, "id_a", "id_b", nodes=kept, node_col="doc_id"
    )
    reps = comp.filter(F.col("comp") == F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    pruned = kept.join(reps, "doc_id", "left_semi")

    chunks = chunk_documents(pruned, "doc_id", "text", size=200, stride=200)
    labeled = chunks.withColumn(
        "split", assign_split("doc_id", seed="cur-v1")
    )
    agg = labeled.groupBy("split").agg(
        F.count_distinct(F.col("doc_id")).alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_len").alias("total_chars"),
        F.max_by(
            F.col("chunk_len"), F.struct(F.col("doc_id"), F.col("chunk_id"))
        ).alias("_last"),
    )
    return agg.select(
        "split",
        "n_docs",
        "n_chunks",
        F.col("total_chars").cast("long").alias("total_chars"),
        F.expr("(total_chars - _last) div 5000 + 1").cast("long").alias("n_shards"),
    )


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
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
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
