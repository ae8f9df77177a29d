"""The complete contact-unification pipeline — the reference's whole
run.py workflow (fill-missing -> clean -> dedup -> validate, plus the
optional Mailchimp stage 0) as composable DataFrame stages, files only
at the edges. Each stage is lazy, but every enrichment pass
(``mailchimp_enrich``'s email and mobile passes, ``fill_missing``) is
bounded by eager ``pins.checkpoint``s: the frame a stage enriches
(``mailchimp_enrich``'s ``m1``, ``fill_missing``'s target) and each
pass's narrow match result (``kofn_enrich``'s id, fills, match basis and
``changes``). Each checkpoint goes into the caller's open ``PinScope``,
else is held by the session until Spark's ContextCleaner frees it. The
plan is the same whether or not a scope is open.

Why the boundaries sit there: each pass reads its target three times
(the k-of-n probe, the enriched-key join, the splice join back), and
the passes chain (Mailchimp email pass -> mobile pass -> fill-missing),
so the copies multiply. Unbounded, the frame entering ``clean_fields``
held 46 CSV relations and 70 exchanges for 4 input files on the golden
fixture, and every action re-planned and re-ran that tree (the renumber
offset collect alone: 91 jobs). The narrow match is the boundary
because two consumers read it: the fill splice and the change log
(``enrich.change_log``, a pure projection of the ``changes`` column).
Checkpointed once, the match runs once; left lazy, every log write
re-read, re-parsed, deduped and broadcast the sources and re-ran the
joins. Between the email and the mobile pass, the Mailchimp stage's
full-width frame stays a lazy splice of two checkpoints, which bounds
the mobile pass as tightly as a wide 88-column checkpoint would. A
scoped ``persist`` was measured too and loses (CLI on the golden
fixture, 4-core host: 48.6 s vs 30.3 s): the cache spares execution,
but the analyzer still walks the full tree on every action.

Reference parity map (cites into /root/reference):
- master schema: output/MergedDatabase.tsv header (88 columns)
- UNUSED_FIELDS nullification: cleaning/clean_contacts.py:16-23,92-100
- field cleaning: cleaning/clean_contacts.py:88-155
- dedup-merge: cleaning/clean_contacts.py:158-236
- SEQNO reset: cleaning/clean_contacts.py:57-86
- integer preservation: cleaning/clean_contacts.py:26-54
- fill-missing (k-of-n): cleaning/fill_missing_contacts.py (entire)
- mailchimp enrich: cleaning/merge_contacts_kindaworks.py (entire)
- validation: cleaning/validate_fields.py (entire)
- orchestration replaced: cleaning/run.py ran each stage as a subprocess
  communicating through TSV files; here stages are DataFrame->DataFrame
  and Catalyst optimizes within a stage (column pruning alone is
  decisive: 88 columns, most stages touch <10).

Known intentional divergences (SURVEY §7.4): keyless rows pass through
dedup unmerged by default (`merge_empty_keys=True` restores the
reference's Frankenstein-record behavior); title-casing follows pandas
``str.title()`` semantics via functions.normalize.title_case.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.functions import normalize as N
from bcg_contacts_data_pipeline_spark.functions import normalize_sql as NS
from bcg_contacts_data_pipeline_spark.operators import validate as V
from bcg_contacts_data_pipeline_spark.operators.dedup import (
    dedup_key,
    most_complete_merge,
    renumber,
)
from bcg_contacts_data_pipeline_spark.operators.enrich import (
    MatchKey,
    change_log,
    kofn_enrich,
    two_key_enrich,
)
from bcg_contacts_data_pipeline_spark.operators.pins import checkpoint

#: The master contact schema — output/MergedDatabase.tsv header, row 1.
MASTER_COLUMNS = (
    "seqno salutation firstname lastname title mobile directphone directfax "
    "homephone email notes address1 address2 address3 address4 deladdr5 "
    "deladdr6 post_code deladdr1 deladdr2 deladdr3 deladdr4 isactive "
    "advertsource salesno company_accno company_acctype msn_id yahoo_id "
    "skype_id address5 last_updated "
    + " ".join(f"sub{i}" for i in range(1, 27))
    + " x_region sync_contacts linkedin twitter facebook optout_emarketing "
    "campaign_wave_seqno latitude longitude geocode_status x_xs_allowlogin "
    "x_xs_clientadmin x_xs_login x_xs_password x_xs_sendclientadmin "
    "x_xs_resetpassword x_xs_sorttasksby x_tt_createtasks x_tt_pocontact "
    "x_store x_email2 x_email3 x_phone1 x_phone2 x_phone3 x_phone4 x_phone5 "
    "x_tt_extension fullname name"
).split()

#: clean_contacts.py:16-23 — columns force-nulled by the cleaning stage.
UNUSED_FIELDS = [
    "salutation", "directphone", "directfax", "homephone",
    "msn_id", "yahoo_id", "skype_id", "sync_contacts", "linkedin",
    "twitter", "facebook", "campaign_wave_seqno", "latitude", "longitude",
    "geocode_status", "x_store", "x_email2", "x_email3",
    "x_phone1", "x_phone2", "x_phone3", "x_phone4", "x_phone5",
    "x_tt_extension", "x_region",
]

#: validate_fields.py:7,9
REQUIRED_FIELDS = ["firstname", "lastname", "email"]
PHONE_FIELDS = ["mobile", "directphone", "homephone"]

SUB_FIELDS = [f"sub{i}" for i in range(1, 27)]
YN_FIELDS = ["isactive", "optout_emarketing", *SUB_FIELDS]
NAME_FIELDS = ["firstname", "lastname", "fullname", "title"]
INT_FIELDS = ["seqno", "salesno", "company_accno"]

#: fill_missing_contacts.py — master column <- source column it fills from.
FILL_FIELDS = {
    "firstname": "s_firstname",
    "lastname": "s_lastname",
    "fullname": "s_fullname",
    "mobile": "s_mobile",
}


def _with_row_id(df: DataFrame) -> DataFrame:
    """Stable row identity (O3). NOT monotonically_increasing_id: that is
    partition-layout-dependent and a plan that branches (join back after
    enrichment) could recompute different ids.

    Identity is CONTENT identity: ``xxhash64`` of the whole row — a pure
    projection, deterministic under any partitioning, fully lazy (no
    window, no shuffle, no eager collect). Byte-identical rows share an
    id on purpose: every stage keyed on the id (k-of-n match, fill,
    change log) is a pure function of row content, so interchangeable
    rows produce interchangeable results and the splice joins dedup the
    narrow fill side by id without losing information (the master keeps
    its duplicate rows; each receives the shared fill). Cross-row 64-bit
    collisions (~2^-64 per pair) are accepted — the same identity basis
    as content-hash exact dedup. Contiguous numbering is only needed
    where the OUTPUT contract demands it (SEQNO — see dedup_contacts),
    not for join-back identity."""
    if "__row_id" in df.columns:
        return df
    # One SQL string, not 2·N Column calls — py4j latency dominates wide
    # projection builds (see functions/normalize_sql.py).
    cols = ", ".join(NS.q(c) for c in df.columns)
    return df.withColumn("__row_id", F.expr(f"xxhash64(struct({cols}))"))


def conform_to_master(df: DataFrame) -> DataFrame:
    """Project any frame onto the 88-column master schema (missing columns
    -> NULL string), case-insensitively."""
    lookup = {c.lower(): c for c in df.columns}
    return df.selectExpr(
        *[
            f"CAST({NS.q(lookup[c])} AS STRING) AS {NS.q(c)}"
            if c in lookup
            else f"CAST(NULL AS STRING) AS {NS.q(c)}"
            for c in MASTER_COLUMNS
        ]
    )


def clean_fields(df: DataFrame) -> DataFrame:
    """clean_contacts.py:88-155 as one withColumns projection:
    sentinel-null everything, null the unused fields, normalize emails,
    strip phones to digits, title-case names, trim addresses/postcodes,
    Y/N-standardize flags, parse last_updated."""
    # Built as ONE selectExpr of SQL strings, not per-column Column-API
    # trees: at 88 columns the py4j round-trips of the Column form cost
    # seconds of driver time per pipeline build (normalize_sql.py
    # docstring has the numbers). Each *_sql builder is equivalence-
    # tested against its normalize.py twin in tests/test_normalize_sql.py.
    # Rule precedence matters and mirrors the reference order; the rule
    # domains are disjoint, so an if/elif chain encodes it exactly.
    exprs: list[str] = []
    for c in df.columns:
        qc = NS.q(c)
        v = NS.nullify_sentinels_sql(qc)
        if c in UNUSED_FIELDS:
            e = "CAST(NULL AS STRING)"
        elif c == "email":
            e = NS.norm_email_sql(v)
        elif c == "mobile":
            # stored values keep all digits (no last-10: match-key only)
            d = NS.digits_only_sql(v)
            e = f"CASE WHEN length({d}) > 0 THEN {d} END"
        elif c in NAME_FIELDS:
            e = NS.title_case_sql(f"trim({v})")
        elif "address" in c or "post_code" in c or "deladdr" in c:
            e = f"trim({v})"
        elif c in YN_FIELDS:
            e = NS.yn_flag_sql(v)
        elif c in INT_FIELDS:
            # F11 integer preservation (clean_contacts.py:26-54): pandas
            # float inference turns int ids into "123.0"; the reference
            # detects whole-number columns and casts back to Int64. Here
            # ingestion is all-string so the corruption cannot arise from
            # US — but inputs produced by OTHER tools may already carry
            # the ".0", so strip it from the known id columns when the
            # value is a whole number.
            e = NS.int_preserve_sql(v)
        else:
            e = v
        exprs.append(f"{e} AS {qc}")
    if "last_updated" in df.columns:
        exprs.append(
            f"{NS.parse_ts_sql(NS.q('last_updated'))} AS parsed_last_updated"
        )
    return df.selectExpr(*exprs)


def contact_match_keys() -> list[MatchKey]:
    """The shared J1-J3 key contract (fill_missing_contacts.py:8-32):
    name = collapsed/lower full name, email = trim/lower/validated,
    phone = digits last-10."""
    def tgt(c):
        return F.col(c)

    name_t = N.norm_ws(N.full_name("firstname", "lastname", "fullname", "name"))
    name_s = N.norm_ws(N.full_name("s_firstname", "s_lastname", "s_fullname"))
    return [
        MatchKey("name", name_t, name_s),
        MatchKey("email", N.norm_email(tgt("email")), N.norm_email(F.col("s_email"))),
        MatchKey("phone", N.norm_phone(tgt("mobile")), N.norm_phone(F.col("s_mobile"))),
    ]


def fill_missing(
    master: DataFrame, source: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """fill_missing_contacts.py semantics: fill the FILL_FIELDS
    (firstname/lastname/fullname/mobile, SURVEY J2 fill set) from the
    first source row agreeing on >=2 of (name, email, phone). Returns
    the filled master and its change log.

    ``source`` columns must be pre-mapped to s_firstname, s_lastname,
    s_fullname, s_email, s_mobile + a numeric ``sid`` order column (use
    io.registries.read_contact_sources for raw files).
    """
    # the target and the match are checkpointed (module docstring says why)
    master_with_id = checkpoint(_with_row_id(master))
    filled, log = _fill_pass(
        master_with_id,
        kofn_enrich(
            master_with_id,
            source,
            contact_match_keys(),
            fill=FILL_FIELDS,
            target_id="__row_id",
            source_order="sid",
            min_matches=2,
            broadcast_source=True,
        ),
        list(FILL_FIELDS),
    )
    return filled.drop("__row_id"), log


def _fill_pass(
    target: DataFrame, enriched: DataFrame, cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """One enrichment pass's outputs from its match: ``enriched`` (a
    ``kofn_enrich`` result over ``target``, keyed by ``__row_id``) is
    checkpointed once, and the splice of its ``cols`` into ``target``
    and the change log both read that checkpoint (module docstring)."""
    match = checkpoint(enriched)
    return _splice(target, match, cols), change_log(match, "__row_id")


def _splice(target: DataFrame, filled: DataFrame, cols: list[str]) -> DataFrame:
    """``target`` with its ``cols`` replaced by ``filled``'s, joined on
    ``__row_id``, in ``target``'s column order. The fill side is NARROW
    (id + fill columns) and deduped by content id — identical target rows
    share an id and an identical fill, so one row per id suffices and the
    join stays 1:1 per target row. The join key is a single long; AQE
    broadcast-converts the fill side when small."""
    return (
        target.drop(*cols)
        .join(
            filled.select("__row_id", *cols).dropDuplicates(["__row_id"]),
            "__row_id",
        )
        .select(*target.columns)
    )


def mailchimp_enrich(
    master: DataFrame, mailchimp: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """merge_contacts_kindaworks.py: fill missing email on (name, phone)
    match; fill missing mobile on (name, email) match. Two strict two-key
    passes against a broadcast dimension, each pass's match checkpointed
    once and read by both its splice and the change log (module
    docstring). Returns the enriched master and the two passes' change
    logs.

    ``mailchimp`` columns must be pre-mapped like ``fill_missing``'s
    source, ``sid`` included (io.registries.contact_sources).
    """
    m1 = checkpoint(_with_row_id(master))

    name_t = N.norm_ws(N.full_name("firstname", "lastname", "fullname", "name"))
    name_s = N.norm_ws(N.full_name("s_firstname", "s_lastname", "s_fullname"))

    m2, email_log = _fill_pass(
        m1,
        two_key_enrich(
            m1,
            mailchimp,
            [
                MatchKey("name", name_t, name_s),
                MatchKey("phone", N.norm_phone(F.col("mobile")), N.norm_phone(F.col("s_mobile"))),
            ],
            fill={"email": "s_email"},
            target_id="__row_id",
            source_order="sid",
        ),
        ["email"],
    )
    out, mobile_log = _fill_pass(
        m2,
        two_key_enrich(
            m2,
            mailchimp,
            [
                MatchKey("name", name_t, name_s),
                MatchKey("email", N.norm_email(F.col("email")), N.norm_email(F.col("s_email"))),
            ],
            fill={"mobile": "s_mobile"},
            target_id="__row_id",
            source_order="sid",
        ),
        ["mobile"],
    )
    return out.drop("__row_id"), email_log.unionByName(mobile_log)


def dedup_contacts(
    df: DataFrame, merge_empty_keys: bool = False
) -> DataFrame:
    """clean_contacts.py:158-236: derive the dedup key (email else
    lower(fullname)-mobile), merge duplicate groups most-complete-wins
    with recency bias (last_updated desc), reset SEQNO 1..N."""
    recency = F.coalesce(
        F.unix_micros(N.parse_ts(F.col("last_updated"))), F.lit(0)
    )
    merged = most_complete_merge(
        df,
        dedup_key("email", "fullname", "mobile"),
        value_cols=[c for c in df.columns],
        order_by=recency,
        merge_empty_keys=merge_empty_keys,
    )
    # Contiguous SEQNO over a deterministic order: dedup_key first (stable
    # business order), xxhash64 of the remaining columns as tiebreak —
    # keyless passthrough rows all share a NULL key, so without the
    # tiebreak their relative numbering would be partition-order-dependent.
    # (A narrow renumber + join-back was tried and measured ~40% slower
    # end-to-end, before the enrichment stage boundaries were
    # checkpointed: it prunes the 88 merge aggregates from the eager
    # offset pass but recomputed the whole upstream enrich/clean plan —
    # then 46 scans — twice. Not re-measured since.)
    # The hash pair REPLACES a full 88-column tiebreak list rather than
    # prefixing it: rows equal on (key, h1, h2) are byte-identical up to
    # a ~2^-128 collision (two independent 64-bit hashes — h2 feeds the
    # columns in reverse order with a salt literal, so the pair doesn't
    # collide together), and byte-identical rows are interchangeable —
    # any row_number assignment among them yields the same output
    # multiset. Per-pair 2^-64 odds would stop being negligible in
    # aggregate around ~10^9 keyless rows (birthday bound); the second
    # hash pushes that far past any real input while keeping the sort
    # key 3 fields instead of 89. The short list matters twice: the
    # range partitioner and sorter compare 3 fields, and the
    # analyzer/optimizer passes over the renumber's repartition+window
    # stop carrying an 89-expression ordering (measured seconds of
    # driver time on the e2e plan at any data size).
    tiebreak_cols = [c for c in MASTER_COLUMNS if c != "seqno"]
    fwd = ", ".join(NS.q(c) for c in tiebreak_cols)
    rev = ", ".join(NS.q(c) for c in reversed(tiebreak_cols))
    row_hash = F.expr(f"xxhash64(struct({fwd}))")
    row_hash2 = F.expr(f"xxhash64('seqno-tiebreak-2', struct({rev}))")
    order = [F.col("dedup_key").asc_nulls_last(), row_hash.asc(), row_hash2.asc()]
    renumbered = renumber(merged.drop("seqno"), order, seq_name="seqno")
    return renumbered.select("seqno", *[c for c in MASTER_COLUMNS if c != "seqno"], "group_size")


# Memo keyed on the ACTIVE SparkContext (not a bare lru_cache): the
# cached rules are py4j Column handles, and if the JVM gateway is
# recreated in-process (test harnesses, long-lived drivers restarting
# the session) a process-lifetime cache would hand out Columns bound to
# a dead gateway and fail opaquely. The key is (applicationId,
# startTime) — a stable identity token — NOT id(context): CPython
# reuses object addresses after GC, so a new context allocated where
# the old one lived would get a stale cache hit on an id() key.
_RULES_MEMO: dict[object, tuple[V.Rule, ...]] = {}


def contact_rules() -> list[V.Rule]:
    """validate_fields.py rule set (§2.8). Memoized per SparkContext:
    rules are unresolved Column expressions, reusable across DataFrames,
    and building the 13 rule trees costs ~0.4 s of py4j round-trips per
    call — the e2e path needs them twice (validate_contacts +
    contact_error_count)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    key = None if sc is None else (sc.applicationId, sc.startTime)
    if key not in _RULES_MEMO:
        _RULES_MEMO.clear()  # at most one live context; drop stale gateways
        _RULES_MEMO[key] = tuple(contact_rules_build())
    return list(_RULES_MEMO[key])


def contact_rules_build() -> list[V.Rule]:
    return [
        *[V.required(c) for c in REQUIRED_FIELDS],
        V.email_format("email"),
        *[V.phone_format(c) for c in PHONE_FIELDS],
        V.at_least_one_present(PHONE_FIELDS, "No phone number present"),
    ]


def _junk_row() -> Column:
    """validate_fields.py:77-85 junk-row predicate (all-missing name+email)."""
    return (
        F.col("firstname").isNull()
        & F.col("lastname").isNull()
        & F.col("email").isNull()
    )


def contact_error_count() -> Column:
    """Per-row violated-rule count as a Column over the cleaned frame —
    zero-shuffle alternative to validate_contacts + groupBy + join when
    only the count is needed."""
    return V.error_count(contact_rules(), skip=_junk_row()).cast("long")


def validate_contacts(df: DataFrame) -> DataFrame:
    """Error documents for failing rows; junk rows (all-missing name and
    email) skipped, mirroring validate_fields.py:77-85."""
    return V.validate_documents(
        df, contact_rules(), ["seqno"], name_col="fullname", skip=_junk_row()
    )


@dataclass
class PipelineResult:
    cleaned: DataFrame
    errors: DataFrame | None
    fill_log: DataFrame | None = None
    mailchimp_log: DataFrame | None = None


def run_pipeline(
    master: DataFrame,
    sources: DataFrame | None = None,
    mailchimp: DataFrame | None = None,
    merge_empty_keys: bool = False,
    side_outputs: bool = True,
) -> PipelineResult:
    """The whole reference pipeline:
    stage 0 (optional) mailchimp enrich -> stage 1 fill-missing ->
    stage 2 clean+dedup -> stage 3 validate.

    ``side_outputs=False`` skips CONSTRUCTING the errors frame (returned
    as None) — plan-BUILD cost, not execution cost: the validation
    documents are py4j round-trips and analyzer passes that a caller
    consuming only ``cleaned`` pays for nothing (r14; the e2e benchmark
    query derives its per-row error count as a column via
    ``contact_error_count`` instead). The change logs are always
    returned: each is a projection of its pass's checkpointed match,
    built without a job."""
    df = conform_to_master(master)
    mc_log = fill_log = None
    if mailchimp is not None:
        df, mc_log = mailchimp_enrich(df, mailchimp)
    if sources is not None:
        df, fill_log = fill_missing(df, sources)
    cleaned = dedup_contacts(clean_fields(df), merge_empty_keys=merge_empty_keys)
    errors = validate_contacts(cleaned) if side_outputs else None
    return PipelineResult(cleaned, errors, fill_log, mc_log)
