"""Contacts family: the reference pipeline's record-level operators.

Most-complete-record merge, scalar normalization, k-of-n enrichment and
its change log, rule validation and the error histogram, the complete
contacts pipeline (``plans/contacts.py``) as one query, fuzzy record
linkage, source unions, CDC upserts and snapshot diffs, SCD2 history,
collation-aware grouping and the TSV/CSV/JDBC edges (quarantine, line
round-trip, staging round-trip).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators import dedup as dedup_ops
from bcg_contacts_data_pipeline_spark.plans import contacts as C
from bcg_contacts_data_pipeline_spark.plans.registry import (
    _dec,
    _events,
    _t,
    register,
)


# ---------------------------------------------------------------------------
# Dedup-merge (SURVEY §2.4 A1/A2) — the flagship
# ---------------------------------------------------------------------------

@register(
    "dedup_merge",
    oracle="""
    SELECT CAST(c_nationkey AS VARCHAR) || '-' || c_mktsegment AS dedup_key,
           arg_max(c_name, length(c_name) * 100000000 - c_custkey) AS c_name,
           CAST(arg_max(c_acctbal, length(CAST(c_acctbal AS VARCHAR)) * 100000000 - c_custkey) AS DOUBLE) AS c_acctbal,
           COUNT(*) AS group_size
    FROM customer
    GROUP BY 1
    """,
)
def q_dedup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-complete-record merge (clean_contacts.py:194-223 semantics) over
    a derived composite key. One shuffle; map-side partial max_by."""
    cust = _t(spark, sf_dir, "customer")
    key = F.concat_ws(
        "-", F.col("c_nationkey").cast("string"), F.col("c_mktsegment")
    )
    merged = dedup_ops.most_complete_merge(
        cust,
        key,
        value_cols=["c_name", "c_acctbal"],
        order_by=-F.col("c_custkey"),
    )
    return merged.select(
        "dedup_key",
        "c_name",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        F.col("group_size").cast("long").alias("group_size"),
    )


# ---------------------------------------------------------------------------
# Scalar normalization (SURVEY §2.5 F1-F13) over synthesized dirty fields
# ---------------------------------------------------------------------------

@register(
    "norm_scalars",
    oracle="""
    WITH synth AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 13 = 0 THEN 'no-at-sign'
                  ELSE lower(c_name) || '@' || lower(c_mktsegment) || '.example' END AS raw_email,
             '+61-' || CAST(c_custkey * 7919 AS VARCHAR) AS raw_phone,
             CASE c_custkey % 5 WHEN 0 THEN 'y' WHEN 1 THEN ' N ' WHEN 2 THEN 'yes'
                  WHEN 3 THEN '' ELSE NULL END AS raw_flag,
             CASE c_custkey % 4 WHEN 0 THEN 'nan' WHEN 1 THEN 'None' WHEN 2 THEN ''
                  ELSE c_name END AS raw_sentinel,
             c_mktsegment AS raw_title
      FROM customer)
    SELECT c_custkey,
           CASE WHEN regexp_matches(lower(trim(raw_email)), '^[^@]+@[^@]+\\.[^@]+')
                THEN lower(trim(raw_email)) END AS email,
           CASE WHEN length(regexp_replace(raw_phone, '[^0-9]', '', 'g')) >= 10
                THEN right(regexp_replace(raw_phone, '[^0-9]', '', 'g'), 10)
                WHEN length(regexp_replace(raw_phone, '[^0-9]', '', 'g')) > 0
                THEN regexp_replace(raw_phone, '[^0-9]', '', 'g') END AS phone,
           CASE WHEN upper(trim(raw_flag)) IN ('Y','N') THEN upper(trim(raw_flag)) END AS flag,
           CASE WHEN trim(raw_sentinel) IN ('', 'nan', 'None', 'NaN') THEN NULL
                ELSE raw_sentinel END AS clean_value,
           upper(substr(raw_title, 1, 1)) || lower(substr(raw_title, 2)) AS title_cased
    FROM synth
    """,
)
def q_norm_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F3/F7/F13/F5 applied to synthesized dirty fields. All-expression
    projection — zero shuffle, fully codegen'd."""
    from bcg_contacts_data_pipeline_spark.functions import normalize as N

    cust = _t(spark, sf_dir, "customer")
    synth = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 13 == 0, F.lit("no-at-sign"))
        .otherwise(
            F.concat(
                F.lower("c_name"), F.lit("@"), F.lower("c_mktsegment"), F.lit(".example")
            )
        )
        .alias("raw_email"),
        F.concat(F.lit("+61-"), (F.col("c_custkey") * 7919).cast("string")).alias(
            "raw_phone"
        ),
        F.when(F.col("c_custkey") % 5 == 0, "y")
        .when(F.col("c_custkey") % 5 == 1, " N ")
        .when(F.col("c_custkey") % 5 == 2, "yes")
        .when(F.col("c_custkey") % 5 == 3, "")
        .alias("raw_flag"),
        F.when(F.col("c_custkey") % 4 == 0, "nan")
        .when(F.col("c_custkey") % 4 == 1, "None")
        .when(F.col("c_custkey") % 4 == 2, "")
        .otherwise(F.col("c_name"))
        .alias("raw_sentinel"),
        F.col("c_mktsegment").alias("raw_title"),
    )
    return synth.select(
        "c_custkey",
        N.norm_email("raw_email").alias("email"),
        N.norm_phone("raw_phone").alias("phone"),
        N.yn_flag("raw_flag").alias("flag"),
        N.nullify_sentinels("raw_sentinel").alias("clean_value"),
        N.title_case("raw_title").alias("title_cased"),
    )


# ---------------------------------------------------------------------------
# k-of-n enrichment join (SURVEY §2.3 J2/J3) + change log
# ---------------------------------------------------------------------------

_ENRICH_ORACLE_BASE = """
    WITH target AS (
      SELECT c_custkey AS id,
             lower(c_name) AS k_name,
             CAST(c_nationkey AS VARCHAR) AS k_nat,
             CAST(CAST(floor(c_acctbal) AS BIGINT) AS VARCHAR) AS k_bal,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS mktsegment,
             CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_acctbal END AS acctbal
      FROM customer),
    source AS (
      SELECT c_custkey + 1000000 AS sid,
             lower(CASE WHEN c_custkey % 5 = 0 THEN c_name || '_x' ELSE c_name END) AS k_name,
             CAST(CASE WHEN c_custkey % 3 = 0 THEN c_nationkey + 1 ELSE c_nationkey END AS VARCHAR) AS k_nat,
             CAST(CAST(floor(c_acctbal) AS BIGINT) AS VARCHAR) AS k_bal,
             c_mktsegment AS s_mktsegment,
             c_acctbal AS s_acctbal
      FROM customer),
    needy AS (SELECT * FROM target WHERE mktsegment IS NULL OR acctbal IS NULL),
    cand AS (
      SELECT n.id, s.sid FROM needy n JOIN source s
        ON n.k_name = s.k_name AND n.k_nat = s.k_nat
      UNION
      SELECT n.id, s.sid FROM needy n JOIN source s
        ON n.k_name = s.k_name AND n.k_bal = s.k_bal
      UNION
      SELECT n.id, s.sid FROM needy n JOIN source s
        ON n.k_nat = s.k_nat AND n.k_bal = s.k_bal
    ),
    best AS (SELECT id, min(sid) AS sid FROM cand GROUP BY id),
    joined AS (
      SELECT t.*, b.sid, s.s_mktsegment, s.s_acctbal, s.k_name AS sk_name,
             s.k_nat AS sk_nat, s.k_bal AS sk_bal
      FROM target t LEFT JOIN best b ON t.id = b.id
      LEFT JOIN source s ON b.sid = s.sid)
"""


def _enrich_inputs(spark: SparkSession, sf_dir: str):
    cust = _t(spark, sf_dir, "customer")
    # SQL-string projections (the normalize_sql treatment): the Column
    # form of this fixture synthesis measured ~0.5 s of py4j round-trips
    # per BUILD; one selectExpr parses JVM-side in one call
    target = cust.selectExpr(
        "c_custkey AS id",
        "c_name",
        "c_nationkey",
        "c_acctbal AS orig_acctbal",
        "CASE WHEN c_custkey % 7 = 0 THEN CAST(NULL AS STRING)"
        " ELSE c_mktsegment END AS mktsegment",
        "CASE WHEN c_custkey % 11 = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE c_acctbal END AS acctbal",
    )
    source = cust.selectExpr(
        "c_custkey + 1000000 AS sid",
        "CASE WHEN c_custkey % 5 = 0 THEN concat(c_name, '_x')"
        " ELSE c_name END AS s_name",
        "CASE WHEN c_custkey % 3 = 0 THEN c_nationkey + 1"
        " ELSE c_nationkey END AS s_nationkey",
        "c_acctbal AS s_bal_src",
        "c_mktsegment AS s_mktsegment",
        "c_acctbal AS s_acctbal",
    )
    from bcg_contacts_data_pipeline_spark.operators.enrich import MatchKey

    keys = [
        MatchKey("name", F.expr("lower(c_name)"), F.expr("lower(s_name)")),
        MatchKey(
            "nat",
            F.expr("CAST(c_nationkey AS STRING)"),
            F.expr("CAST(s_nationkey AS STRING)"),
        ),
        MatchKey(
            "bal",
            F.expr("CAST(CAST(floor(orig_acctbal) AS BIGINT) AS STRING)"),
            F.expr("CAST(CAST(floor(s_bal_src) AS BIGINT) AS STRING)"),
        ),
    ]
    return target, source, keys


@register(
    "enrich_2of3",
    oracle=_ENRICH_ORACLE_BASE
    + """
    SELECT id, coalesce(mktsegment, s_mktsegment) AS mktsegment,
           coalesce(acctbal, s_acctbal) AS acctbal,
           sid AS matched_source_id
    FROM joined
    """,
)
def q_enrich_2of3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — >=2-of-3 key match as a union of pairwise broadcast-able
    equi-joins; first-match = partial-aggregatable min; fills = coalesce
    (fill_missing_contacts.py:47-138 semantics, Spark-first shape)."""
    from bcg_contacts_data_pipeline_spark.operators.enrich import kofn_enrich

    target, source, keys = _enrich_inputs(spark, sf_dir)
    enriched = kofn_enrich(
        target,
        source,
        keys,
        fill={"mktsegment": "s_mktsegment", "acctbal": "s_acctbal"},
        target_id="id",
        source_order="sid",
        min_matches=2,
    )
    # the select prunes matched_on and the `changes` journal: Catalyst
    # never computes the change log here
    return enriched.select("id", "mktsegment", "acctbal", "matched_source_id")


@register(
    "enrich_change_log",
    oracle=_ENRICH_ORACLE_BASE
    + """
    , matched AS (
      SELECT *,
             concat_ws(',',
               CASE WHEN k_name IS NOT NULL AND k_name = sk_name THEN 'name' END,
               CASE WHEN k_nat IS NOT NULL AND k_nat = sk_nat THEN 'nat' END,
               CASE WHEN k_bal IS NOT NULL AND k_bal = sk_bal THEN 'bal' END) AS matched_on
      FROM joined WHERE sid IS NOT NULL)
    SELECT id, 'mktsegment' AS field, CAST(NULL AS VARCHAR) AS old_value,
           CAST(s_mktsegment AS VARCHAR) AS new_value, sid AS source_id, matched_on
    FROM matched WHERE mktsegment IS NULL AND s_mktsegment IS NOT NULL
    UNION ALL
    SELECT id, 'acctbal', CAST(NULL AS VARCHAR), CAST(s_acctbal AS VARCHAR),
           sid, matched_on
    FROM matched WHERE acctbal IS NULL AND s_acctbal IS NOT NULL
    """,
)
def q_enrich_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fill audit log (fill_missing_contacts.py:124-131) as a DataFrame:
    one row per filled cell with the match basis."""
    from bcg_contacts_data_pipeline_spark.operators.enrich import (
        change_log,
        kofn_enrich,
    )

    target, source, keys = _enrich_inputs(spark, sf_dir)
    enriched = kofn_enrich(
        target,
        source,
        keys,
        fill={"mktsegment": "s_mktsegment", "acctbal": "s_acctbal"},
        target_id="id",
        source_order="sid",
        min_matches=2,
    )
    return change_log(enriched, "id").select(
        "id", "field", "old_value", "new_value", "source_id", "matched_on"
    )


# ---------------------------------------------------------------------------
# Validation rule engine (SURVEY §2.8)
# ---------------------------------------------------------------------------

@register(
    "validate_rules",
    oracle="""
    WITH synth AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
             CASE WHEN c_custkey % 13 = 0 THEN 'not-an-email'
                  ELSE lower(c_name) || '@corp.example' END AS email,
             CASE WHEN c_custkey % 17 = 0 THEN '12'
                  ELSE '+61-' || CAST(c_custkey * 7919 + 10000000 AS VARCHAR) END AS phone
      FROM customer)
    SELECT c_custkey, 'Invalid email format in email' AS error FROM synth
    WHERE email IS NOT NULL AND length(trim(email)) > 0
      AND NOT regexp_matches(lower(trim(email)), '^[^@]+@[^@]+\\.[^@]+')
    UNION ALL
    SELECT c_custkey, 'Invalid phone format in phone' FROM synth
    WHERE phone IS NOT NULL AND length(trim(phone)) > 0
      AND (length(regexp_replace(phone, '[^0-9]', '', 'g')) < 7
           OR length(regexp_replace(phone, '[^0-9]', '', 'g')) > 15)
    UNION ALL
    SELECT c_custkey, 'c_acctbal out of range' FROM synth
    WHERE c_acctbal IS NOT NULL AND (c_acctbal < -500 OR c_acctbal > 8000)
    UNION ALL
    SELECT c_custkey, 'Unexpected value in c_mktsegment' FROM synth
    WHERE c_mktsegment IS NOT NULL
      AND c_mktsegment NOT IN ('BUILDING','MACHINERY','AUTOMOBILE','FURNITURE')
    """,
)
def q_validate_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 rule engine (validate_fields.py:60-116 semantics) compiled to
    expressions; exploded (id, error) relation. No shuffle."""
    from bcg_contacts_data_pipeline_spark.operators import validate as V

    cust = _t(spark, sf_dir, "customer")
    synth = cust.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 13 == 0, F.lit("not-an-email"))
        .otherwise(F.concat(F.lower("c_name"), F.lit("@corp.example")))
        .alias("email"),
        F.when(F.col("c_custkey") % 17 == 0, F.lit("12"))
        .otherwise(
            F.concat(
                F.lit("+61-"), (F.col("c_custkey") * 7919 + 10000000).cast("string")
            )
        )
        .alias("phone"),
    )
    rules = [
        V.email_format("email"),
        V.phone_format("phone"),
        V.in_range("c_acctbal", -500, 8000),
        V.in_set("c_mktsegment", ["BUILDING", "MACHINERY", "AUTOMOBILE", "FURNITURE"]),
    ]
    return V.validate_exploded(synth, rules, ["c_custkey"])


# ---------------------------------------------------------------------------
# JDBC staging edge (SURVEY §2.1 S7/S8 — the reference's SQLite staging
# re-expressed as Spark's JDBC source/sink against embedded Derby).
# ---------------------------------------------------------------------------

@register(
    "jdbc_stage_roundtrip",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_nationkey < 13
    GROUP BY n.n_name
    """,
)
def q_jdbc_stage_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage supplier into embedded Derby (S7), read it back as a
    bound-partitioned JDBC scan with the filter pushed into the remote
    query (S8), then a broadcast join to nation + rollup. The round trip
    proves sink, source, partitioned read, and pushdown on one path."""
    from bcg_contacts_data_pipeline_spark.io import jdbc as J

    sup = _t(spark, sf_dir, "supplier")
    url = J.scratch_derby_url(f"stage_{sf_dir}")
    J.write_jdbc(sup, url, "supplier_stage", num_partitions=2)
    # max() over an empty staged table is NULL; any positive bound keeps
    # the partitioned read valid (it just scans zero rows per stride).
    hi = sup.agg(F.max("s_suppkey")).first()[0] or 0
    back = J.read_jdbc(
        spark,
        url,
        "supplier_stage",
        partition_column="s_suppkey",
        lower_bound=0,
        upper_bound=int(hi) + 1,
        num_partitions=4,
    ).filter(F.col("s_nationkey") < 13)
    nation = _t(spark, sf_dir, "nation")
    return (
        back.join(F.broadcast(nation), back.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(_dec("s_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


@register(
    "union_sources_dedup",
    oracle="""
    WITH unioned AS (
      SELECT c_name AS name, c_nationkey AS nation, CAST(c_acctbal AS DOUBLE) AS bal,
             'crm' AS src FROM customer
      UNION ALL
      SELECT s_name AS name, s_nationkey AS nation, CAST(s_acctbal AS DOUBLE) AS bal,
             'vendor' AS src FROM supplier)
    SELECT lower(trim(name)) AS name_key,
           COUNT(*) AS n_records,
           CAST(COUNT(DISTINCT src) AS BIGINT) AS n_sources,
           CAST(MIN(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS min_bal
    FROM unioned
    GROUP BY 1
    """,
)
def q_union_sources_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 — the reference never unions its sources; unionByName-then-
    dedup is the idiomatic Spark redesign of its whole enrich/merge
    pipeline. Two heterogeneous 'sources' conformed, unioned, grouped on
    the normalized key."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_acctbal").cast("double").alias("bal"),
        F.lit("crm").alias("src"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nation"),
        F.col("s_acctbal").cast("double").alias("bal"),
        F.lit("vendor").alias("src"),
    )
    return (
        cust.unionByName(supp)
        .groupBy(F.lower(F.trim(F.col("name"))).alias("name_key"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct("src").alias("n_sources"),
            F.min(_dec("bal")).cast("double").alias("min_bal"),
        )
    )


@register(
    "error_histogram",
    oracle="""
    WITH synth AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
             CASE WHEN c_custkey % 13 = 0 THEN 'not-an-email'
                  ELSE lower(c_name) || '@corp.example' END AS email,
             CASE WHEN c_custkey % 17 = 0 THEN '12'
                  ELSE '+61-' || CAST(c_custkey * 7919 + 10000000 AS VARCHAR) END AS phone
      FROM customer),
    errors AS (
      SELECT 'Invalid email format in email' AS error FROM synth
      WHERE email IS NOT NULL AND length(trim(email)) > 0
        AND NOT regexp_matches(lower(trim(email)), '^[^@]+@[^@]+\\.[^@]+')
      UNION ALL
      SELECT 'Invalid phone format in phone' FROM synth
      WHERE phone IS NOT NULL AND length(trim(phone)) > 0
        AND (length(regexp_replace(phone, '[^0-9]', '', 'g')) < 7
             OR length(regexp_replace(phone, '[^0-9]', '', 'g')) > 15)
      UNION ALL
      SELECT 'c_acctbal out of range' FROM synth
      WHERE c_acctbal IS NOT NULL AND (c_acctbal < -500 OR c_acctbal > 8000)
      UNION ALL
      SELECT 'Unexpected value in c_mktsegment' FROM synth
      WHERE c_mktsegment IS NOT NULL
        AND c_mktsegment NOT IN ('BUILDING','MACHINERY','AUTOMOBILE','FURNITURE'))
    SELECT error, COUNT(*) AS n FROM errors GROUP BY error
    ORDER BY n DESC, error LIMIT 5
    """,
)
def q_error_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/O4 — the error-type histogram run.py:136-146 prints after each
    pipeline: top-5 error kinds by count. Total order (count desc, error
    asc) so the limit is deterministic."""
    errors = q_validate_rules(spark, sf_dir)
    return (
        errors.groupBy("error")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("error").asc())
        .limit(5)
    )


# ---------------------------------------------------------------------------
# The complete contacts pipeline, end-to-end (plans/contacts.py) — the
# reference's entire run.py workflow as ONE lazy Spark plan over
# synthesized contact data. Rows-only check: the 4-stage composition
# (enrich -> fill -> clean -> dedup -> validate) is the flagship of
# reference parity; each constituent operator is separately oracle-exact
# above (enrich_2of3, dedup_merge, norm_scalars, validate_rules).
# ---------------------------------------------------------------------------

#: The whole pipeline (fill-missing -> clean -> dedup -> renumber ->
#: error count) as one DuckDB query. Simplifications valid FOR THIS
#: SYNTHESIZED INPUT (and stated so the equivalence is auditable):
#: - title_case reduces to upper(first)+lower(rest): every value is a
#:   single leading letter-run ('Customer#000000001', mktsegments);
#:   DuckDB's RE2 regex lacks the lookarounds of the general form.
#: - Real multi-row merge groups exist: the %4==1 collision cohort shares
#:   a mobile per c_custkey % 97, so its dedup key is the reference's
#:   `-<mobile>` fallback and the most-complete merge (longest valid
#:   value, recency tiebreak) genuinely fires; `last_updated` is unique
#:   within every group (members congruent mod 388 = 4*97), making the
#:   length-then-recency winner deterministic in both engines, expressed
#:   here as first(... ORDER BY length DESC, ts DESC) FILTER (valid).
#: - %19 keyless rows pass through unmerged with a NULL key. Their
#:   relative SEQNO order in Spark is an xxhash64 tiebreak (not
#:   SQL-expressible), but they are pairwise identical on every selected
#:   column, so ANY contiguous numbering of the keyless block yields the
#:   same output multiset and the order-insensitive hash agrees.
#: - Keyed rows have pairwise-distinct dedup keys (emails unique;
#:   fallback keys embed the unique c_name or the group-merged mobile),
#:   so their seqno is the rank of dedup_key alone.
_E2E_ORACLE = """
WITH master AS (
  SELECT CAST(c_custkey AS VARCHAR) AS mid,
         (c_custkey % 4 = 1 AND c_custkey % 13 <> 0 AND c_custkey % 19 <> 0)
           AS cohort,
         CASE WHEN c_custkey % 19 = 0 THEN 'nan'
              WHEN c_custkey % 7 = 0 THEN 'nan'
              ELSE str_split(c_name, '#')[1] END AS firstname,
         CASE WHEN c_custkey % 19 = 0 OR c_custkey % 5 = 0 THEN NULL
              ELSE str_split(c_name, '#')[2] END AS lastname,
         CASE WHEN c_custkey % 19 = 0 THEN NULL
              WHEN c_custkey % 13 = 0 THEN 'not-an-email'
              WHEN cohort THEN NULL
              ELSE lower(c_name) || '@corp.example' END AS email,
         CASE WHEN c_custkey % 19 = 0 THEN NULL
              WHEN cohort THEN CAST(10000000 + c_custkey % 97 AS VARCHAR)
              WHEN c_custkey % 3 = 0 THEN NULL
              ELSE CAST(c_custkey * 7919 + 10000000 AS VARCHAR) END AS mobile,
         CASE WHEN c_custkey % 19 = 0 THEN 'nan'
              WHEN cohort THEN NULL
              ELSE c_name END AS fullname,
         '2020-01-02 '
           || lpad(CAST(((c_custkey // 388) // 60) % 24 AS VARCHAR), 2, '0')
           || ':' || lpad(CAST((c_custkey // 388) % 60 AS VARCHAR), 2, '0')
           || ':05' AS last_updated,
         CASE WHEN c_custkey % 19 = 0 THEN 'No'
              WHEN c_custkey % 2 = 0 THEN 'y' ELSE 'No' END AS isactive
  FROM customer),
source AS (
  SELECT c_custkey AS sid,
         str_split(c_name, '#')[1] AS s_firstname,
         str_split(c_name, '#')[2] AS s_lastname,
         c_name AS s_fullname,
         lower(c_name) || '@corp.example' AS s_email,
         CAST(c_custkey * 7919 + 10000000 AS VARCHAR) AS s_mobile
  FROM customer),
-- J2 match keys (name = ws-collapsed lower full name; email = anchored
-- regex validated; phone = digits last-10)
tkeys AS (
  SELECT m.*,
         lower(trim(regexp_replace(
           CASE WHEN length(trim(concat_ws(' ', firstname, lastname))) > 0
                THEN trim(concat_ws(' ', firstname, lastname))
                WHEN length(trim(fullname)) > 0 THEN trim(fullname) END,
           '\\s+', ' ', 'g'))) AS k_name,
         CASE WHEN regexp_matches(lower(trim(email)), '^[^@]+@[^@]+\\.[^@]+')
              THEN lower(trim(email)) END AS k_email,
         CASE WHEN length(regexp_replace(mobile, '[^0-9]', '', 'g')) >= 10
              THEN right(regexp_replace(mobile, '[^0-9]', '', 'g'), 10)
              WHEN length(regexp_replace(mobile, '[^0-9]', '', 'g')) > 0
              THEN regexp_replace(mobile, '[^0-9]', '', 'g') END AS k_phone
  FROM master m),
skeys AS (
  SELECT s.*,
         lower(trim(regexp_replace(
           CASE WHEN length(trim(concat_ws(' ', s_firstname, s_lastname))) > 0
                THEN trim(concat_ws(' ', s_firstname, s_lastname))
                WHEN length(trim(s_fullname)) > 0 THEN trim(s_fullname) END,
           '\\s+', ' ', 'g'))) AS k_name,
         CASE WHEN regexp_matches(lower(trim(s_email)), '^[^@]+@[^@]+\\.[^@]+')
              THEN lower(trim(s_email)) END AS k_email,
         CASE WHEN length(regexp_replace(s_mobile, '[^0-9]', '', 'g')) >= 10
              THEN right(regexp_replace(s_mobile, '[^0-9]', '', 'g'), 10)
              WHEN length(regexp_replace(s_mobile, '[^0-9]', '', 'g')) > 0
              THEN regexp_replace(s_mobile, '[^0-9]', '', 'g') END AS k_phone
  FROM source s),
needy AS (
  SELECT * FROM tkeys
  WHERE firstname IS NULL OR lastname IS NULL OR fullname IS NULL OR mobile IS NULL),
cand AS (
  SELECT n.mid, s.sid FROM needy n JOIN skeys s
    ON n.k_name = s.k_name AND n.k_email = s.k_email
  UNION
  SELECT n.mid, s.sid FROM needy n JOIN skeys s
    ON n.k_name = s.k_name AND n.k_phone = s.k_phone
  UNION
  SELECT n.mid, s.sid FROM needy n JOIN skeys s
    ON n.k_email = s.k_email AND n.k_phone = s.k_phone),
best AS (SELECT mid, MIN(sid) AS sid FROM cand GROUP BY mid),
filled AS (
  SELECT t.mid,
         coalesce(t.firstname, s.s_firstname) AS firstname,
         coalesce(t.lastname, s.s_lastname) AS lastname,
         coalesce(t.fullname, s.s_fullname) AS fullname,
         coalesce(t.mobile, s.s_mobile) AS mobile,
         t.email, t.isactive, t.last_updated
  FROM tkeys t
  LEFT JOIN best b ON t.mid = b.mid
  LEFT JOIN skeys s ON b.sid = s.sid),
-- clean: sentinel-null, normalize email, digits-only mobile, title-case
-- names, Y/N flags; ts = parsed last_updated (the merge's recency order)
cleaned AS (
  SELECT mid,
         upper(substr(nullif(trim(firstname), 'nan'), 1, 1))
           || lower(substr(nullif(trim(firstname), 'nan'), 2)) AS firstname,
         upper(substr(lastname, 1, 1)) || lower(substr(lastname, 2)) AS lastname,
         CASE WHEN regexp_matches(lower(trim(email)), '^[^@]+@[^@]+\\.[^@]+')
              THEN lower(trim(email)) END AS email,
         CASE WHEN length(regexp_replace(mobile, '[^0-9]', '', 'g')) > 0
              THEN regexp_replace(mobile, '[^0-9]', '', 'g') END AS mobile,
         upper(substr(nullif(trim(fullname), 'nan'), 1, 1))
           || lower(substr(nullif(trim(fullname), 'nan'), 2)) AS fullname,
         CASE WHEN upper(trim(isactive)) IN ('Y', 'N')
              THEN upper(trim(isactive)) END AS isactive,
         CAST(last_updated AS TIMESTAMP) AS ts
  FROM filled),
-- dedup key (email else lower(fullname)||'-'||mobile, dash always kept,
-- NULL -> ''; a lone dash is keyless)
keyed AS (
  SELECT c.*,
         coalesce(email,
                  CASE WHEN length(coalesce(lower(trim(fullname)), '') || '-'
                              || coalesce(trim(mobile), '')) > 1
                       THEN coalesce(lower(trim(fullname)), '') || '-'
                            || coalesce(trim(mobile), '') END
         ) AS dedup_key
  FROM cleaned c),
-- most-complete merge: per column the longest valid value wins, ties
-- toward most-recent last_updated (unique within each group, so total);
-- keyless rows (NULL key) pass through unmerged, group_size 1
merged AS (
  SELECT dedup_key,
         first(firstname ORDER BY length(firstname) DESC, ts DESC)
           FILTER (WHERE firstname IS NOT NULL) AS firstname,
         first(lastname ORDER BY length(lastname) DESC, ts DESC)
           FILTER (WHERE lastname IS NOT NULL) AS lastname,
         first(email ORDER BY length(email) DESC, ts DESC)
           FILTER (WHERE email IS NOT NULL) AS email,
         first(mobile ORDER BY length(mobile) DESC, ts DESC)
           FILTER (WHERE mobile IS NOT NULL) AS mobile,
         first(isactive ORDER BY length(isactive) DESC, ts DESC)
           FILTER (WHERE isactive IS NOT NULL) AS isactive,
         COUNT(*) AS group_size
  FROM keyed
  WHERE dedup_key IS NOT NULL AND length(trim(dedup_key)) > 0
  GROUP BY dedup_key
  UNION ALL
  SELECT dedup_key, firstname, lastname, email, mobile, isactive,
         CAST(1 AS BIGINT) AS group_size
  FROM keyed
  WHERE dedup_key IS NULL OR length(trim(dedup_key)) = 0)
SELECT CAST(row_number() OVER (ORDER BY dedup_key ASC NULLS LAST) AS BIGINT) AS seqno,
       firstname, lastname, email, mobile, isactive, group_size,
       CAST(CASE WHEN firstname IS NULL AND lastname IS NULL AND email IS NULL THEN 0
            ELSE (CASE WHEN firstname IS NULL OR length(trim(firstname)) = 0 THEN 1 ELSE 0 END)
               + (CASE WHEN lastname IS NULL OR length(trim(lastname)) = 0 THEN 1 ELSE 0 END)
               + (CASE WHEN email IS NULL OR length(trim(email)) = 0 THEN 1 ELSE 0 END)
               + (CASE WHEN email IS NOT NULL AND length(trim(email)) > 0
                       AND NOT regexp_matches(lower(trim(email)), '^[^@]+@[^@]+\\.[^@]+')
                  THEN 1 ELSE 0 END)
               + (CASE WHEN mobile IS NOT NULL AND length(trim(mobile)) > 0
                       AND (length(regexp_replace(mobile, '[^0-9]', '', 'g')) < 7
                            OR length(regexp_replace(mobile, '[^0-9]', '', 'g')) > 15)
                  THEN 1 ELSE 0 END)
               + (CASE WHEN mobile IS NULL OR length(trim(mobile)) = 0 THEN 1 ELSE 0 END)
       END AS BIGINT) AS n_errors
FROM merged
"""


@register("contacts_pipeline_e2e", oracle=_E2E_ORACLE)
def q_contacts_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesizes a dirty master table from `customer` (sentinel nulls,
    invalid emails, missing names), an enrichment source from the same
    rows (so k-of-n matches exist), runs the full pipeline, and returns
    the cleaned output joined with its per-row error count."""
    cust = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    # Collision cohort (%4==1, excluding the %13/%19 cohorts): null email +
    # null fullname + a GROUP-SHARED mobile => dedup key is the reference's
    # `-<mobile>` fallback, shared by every cohort row with the same
    # c_custkey % 97 — real multi-row merge groups. Keyless cohort (%19):
    # all three key inputs blank => NULL key => passthrough. last_updated
    # is UNIQUE within every merge group (members of a group are congruent
    # mod 388 = 4*97, so c_custkey // 388 is distinct within a group),
    # making the length-then-recency merge deterministic in both engines.
    cohort = (ck % 4 == 1) & (ck % 13 != 0) & (ck % 19 != 0)
    j = F.floor(ck / F.lit(388)).cast("long")
    last_updated = F.concat(
        F.lit("2020-01-02 "),
        F.lpad(((j / 60).cast("long") % 24).cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad((j % 60).cast("string"), 2, "0"),
        F.lit(":05"),
    )
    master = cust.select(
        ck.cast("string").alias("seqno"),
        # %19 keyless rows blank EVERY output-visible field: their relative
        # SEQNO order is decided by the renumber's xxhash64 tiebreak (not
        # SQL-expressible), which is only oracle-safe when keyless rows are
        # pairwise identical on the selected columns — then any numbering
        # permutation yields the same output multiset.
        F.when(ck % 19 == 0, F.lit("nan"))
        .when(ck % 7 == 0, F.lit("nan"))
        .otherwise(F.split(F.col("c_name"), "#").getItem(0))
        .alias("firstname"),
        F.when((ck % 19 == 0) | (ck % 5 == 0), F.lit(None))
        .otherwise(F.split(F.col("c_name"), "#").getItem(1))
        .alias("lastname"),
        F.when(ck % 19 == 0, F.lit(None))
        .when(ck % 13 == 0, F.lit("not-an-email"))
        .when(cohort, F.lit(None))
        .otherwise(F.concat(F.lower("c_name"), F.lit("@corp.example")))
        .alias("email"),
        F.when(ck % 19 == 0, F.lit(None))
        .when(cohort, (F.lit(10000000) + ck % 97).cast("string"))
        .when(ck % 3 == 0, F.lit(None))
        .otherwise((ck * 7919 + 10000000).cast("string"))
        .alias("mobile"),
        F.when(ck % 19 == 0, F.lit("nan"))
        .when(cohort, F.lit(None))
        .otherwise(F.col("c_name"))
        .alias("fullname"),
        F.col("c_mktsegment").alias("title"),
        last_updated.alias("last_updated"),
        F.when(ck % 19 == 0, F.lit("No"))
        .when(ck % 2 == 0, F.lit("y"))
        .otherwise(F.lit("No"))
        .alias("isactive"),
    )
    source = cust.select(
        F.col("c_custkey").alias("sid"),
        F.split(F.col("c_name"), "#").getItem(0).alias("s_firstname"),
        F.split(F.col("c_name"), "#").getItem(1).alias("s_lastname"),
        F.col("c_name").alias("s_fullname"),
        F.concat(F.lower("c_name"), F.lit("@corp.example")).alias("s_email"),
        (F.col("c_custkey") * 7919 + 10000000).cast("string").alias("s_mobile"),
    )
    # side_outputs=False: this query consumes only `cleaned` (n_errors
    # is the pure-projection column below), so the errors frame would be
    # pure plan-build waste (r14)
    result = C.run_pipeline(master, sources=source, side_outputs=False)
    # n_errors is derivable from the row alone (validation is a pure
    # projection), so attach it as a column instead of aggregating
    # result.errors and joining back — the join form computes the whole
    # dedup pipeline twice and adds two shuffles for zero information.
    return result.cleaned.select(
        "seqno", "firstname", "lastname", "email", "mobile",
        "isactive", "group_size",
        C.contact_error_count().alias("n_errors"),
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
    (reference cleaning/validate_fields.py:50,
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
    format — the reference's whole pipeline speaks tab-separated
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
# Malformed-row quarantine for the TSV edge.
#
# The reference's loaders assume well-formed TSV
# (`cleaning/clean_contacts.py:260` and
# `cleaning/fill_missing_contacts.py:150,184` read with plain
# `pd.read_csv(sep='\t')` — a bad row either silently misparses or kills
# the load). At 100 TB a feed WILL contain malformed rows, and the right
# semantics are the ones `operators/multimodal.media_quarantine` already
# gives the binary edge: tolerant decode, corrupt rows routed to a
# QUERYABLE quarantine with the raw payload preserved — never a crashed
# job, never silent loss.
#
# ``tsv_quarantine`` is the tabular sibling: a TSV feed is parsed with
# Spark's PERMISSIVE CSV mode + ``columnNameOfCorruptRecord`` (the
# engine-native quarantine mechanism — the parser keeps the raw line of
# every row that fails the schema), and the query returns the
# quarantined rows with their recoverable key fields extracted from the
# raw line. The feed is synthesized deterministically from the documents
# table (rows where ``doc_id % 7 = 0`` get a non-numeric token planted
# in a numeric field), so the DuckDB oracle states the expected
# quarantine membership declaratively and the driver hash-checks it.
#
# Scale shape: one scan, zero shuffles — line synthesis, ``from_csv``,
# and the corrupt-record filter are all narrow Catalyst projections
# (JVM-side UnivocityParser per row, no Python). At 100 TB this is scan-
# speed, and the quarantine output is proportional to the corruption
# rate, not the corpus.
# ---------------------------------------------------------------------------

#: the TSV schema the feed is parsed against; ``_corrupt`` is the
#: PERMISSIVE-mode corrupt-record column and must be part of the schema
#: handed to from_csv (same contract as the csv file source)
_FEED_SCHEMA = "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt STRING"


@register(
    "tsv_quarantine",
    oracle="""
SELECT doc_id,
       coalesce(lang, '') AS lang,
       'unparseable_n_chars' AS reason
FROM documents
WHERE doc_id % 7 = 0
""",
)
def tsv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE corrupt-record quarantine over a synthesized TSV feed:
    rows whose numeric field fails the schema land in the quarantine
    with key fields recovered from the preserved raw line. Reference
    edge: clean_contacts.py:260's pandas read_csv, which has no
    tolerant path; engine sibling:
    operators/multimodal.media_quarantine."""
    docs = _t(spark, sf_dir, "documents")
    # deterministic corruption: every 7th doc_id ships '#<n>' where the
    # feed schema demands a BIGINT — unparseable, row -> quarantine.
    # NULLable fields are coalesced so the synthesis is TOTAL: a plain
    # concat() would turn one NULL field into a NULL line and silently
    # drop the row from both sides — the exact loss this query exists
    # to prevent (the oracle coalesces identically).
    lines = docs.selectExpr(
        r"""concat(
              cast(doc_id AS string), '\t',
              coalesce(lang, ''), '\t',
              CASE WHEN doc_id % 7 = 0
                   THEN concat('#', coalesce(cast(n_chars AS string), ''))
                   ELSE coalesce(cast(n_chars AS string), '') END
            ) AS raw"""
    )
    parsed = lines.selectExpr(
        "raw",
        f"""from_csv(
              raw,
              '{_FEED_SCHEMA}',
              map('sep', '\\t',
                  'mode', 'PERMISSIVE',
                  'columnNameOfCorruptRecord', '_corrupt')
            ) AS rec""",
    )
    return parsed.filter("rec._corrupt IS NOT NULL").selectExpr(
        # key recovery from the preserved raw line, not from the
        # (partially-null) parsed struct — the quarantine consumer's view
        "cast(split(rec._corrupt, '\\t')[0] AS bigint) AS doc_id",
        "split(rec._corrupt, '\\t')[1] AS lang",
        "'unparseable_n_chars' AS reason",
    )
