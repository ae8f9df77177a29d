"""Canned source registries for the reference's actual input files.

The generic ``SourceRegistry`` (readers.py) maps arbitrary spellings to
canonical enrichment-source columns; these instances ship the CONCRETE
mappings the reference hardcodes, so a user pointing the engine at
reference-shaped TSVs gets working sources without rebuilding them:

- column synonym lists: /root/reference/cleaning/fill_missing_contacts.py:188-192
  (First Name/FirstName/firstname, Email Address/Email/email, and the
  phone-family substring match) and merge_contacts_kindaworks.py:27-54
  (name/first+last fallbacks, email address/email, mobile/number);
- the usability pre-check that skips files without recognizable name and
  contact columns: fill_missing_contacts.py:194-196;
- positional schemas for the two headerless ad-hoc lists
  (data_files/5.tsv, 6.tsv — FIXTURES.md §4/§5), which the reference
  SKIPS because their first data row is misread as a header. Shipping
  their real positional layouts lets this engine ingest them instead;
  ``usable_source`` still reproduces the reference's skip decision for
  parity tests.

Canonical output columns are the ``s_*`` names ``plans.contacts``
expects (``fill_missing`` / ``mailchimp_enrich``): s_firstname,
s_lastname, s_fullname, s_email, s_mobile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.io.readers import (
    SourceRegistry,
    read_sources,
    read_tsv,
)

#: fill_missing_contacts.py:188-192 exact synonym sets.
FIRSTNAME_SYNONYMS = ["First Name", "FirstName", "firstname"]
LASTNAME_SYNONYMS = ["Last Name", "LastName", "lastname"]
FULLNAME_SYNONYMS = ["Name", "Full Name", "FullName", "fullname"]
EMAIL_SYNONYMS = ["Email Address", "Email", "email"]
#: The reference matches phone columns by SUBSTRING (any column whose name
#: contains one of these); the concrete spellings below cover every
#: reference input file (mailchimp 1-3.tsv, crm 4.tsv, kindaworks).
#: Ordered "Phone Number" first: the reference keys and fills from
#: src_phones[0] — the first phone-family column in FILE order — and in
#: every reference input layout that is the Phone Number column.
#: ``SourceRegistry.apply`` coalesces the whole chain (first NON-BLANK
#: value wins), which is a documented, strictly-more-complete divergence:
#: a row whose Phone Number cell is empty falls back to its Mobile
#: Number instead of losing the contact key as the reference does.
PHONE_SYNONYMS = [
    "Phone Number", "Mobile Number", "Phone", "Mobile", "mobile", "phone",
    "number",
]

#: fill_missing_contacts.py:192 VERBATIM — the case-sensitive substring
#: list the reference's skip decision uses. Separate from PHONE_SYNONYMS
#: (which adds spellings like 'number' for ingestion coverage) so
#: ``usable_source`` reproduces the reference's accept/skip choice
#: exactly: e.g. a file whose only contact-ish column is 'Account
#: Number' or an all-caps 'PHONE' is skipped by both.
REFERENCE_PHONE_SUBSTRINGS = [
    "Phone Number", "Mobile Number", "Phone", "Mobile", "mobile", "phone",
]

#: Mailchimp audience exports (data_files/1-3.tsv, mailchimpclean.tsv) and
#: the CRM export (4.tsv) all resolve through one registry — the synonym
#: lists are exactly the reference's, so any file it could ingest, this
#: registry can.
CONTACT_SOURCE_REGISTRY = SourceRegistry(
    {
        "s_firstname": FIRSTNAME_SYNONYMS,
        "s_lastname": LASTNAME_SYNONYMS,
        "s_fullname": FULLNAME_SYNONYMS,
        "s_email": EMAIL_SYNONYMS,
        "s_mobile": PHONE_SYNONYMS,
    }
)

#: data_files/5.tsv — headerless 5-column ad-hoc list (FIXTURES.md §4).
ADHOC_5_COLUMNS = ["contact_name", "organisation", "email", "extra1", "extra2"]
ADHOC_5_REGISTRY = SourceRegistry(
    {
        "s_firstname": [],
        "s_lastname": [],
        "s_fullname": ["contact_name"],
        "s_email": ["email"],
        "s_mobile": [],
    }
)

#: data_files/6.tsv — headerless 3-column ad-hoc list (FIXTURES.md §5).
ADHOC_6_COLUMNS = ["organisation", "owner_name", "email"]
ADHOC_6_REGISTRY = SourceRegistry(
    {
        "s_firstname": [],
        "s_lastname": [],
        "s_fullname": ["owner_name"],
        "s_email": ["email"],
        "s_mobile": [],
    }
)


def usable_source(columns: list[str]) -> bool:
    """The reference's skip decision, reproduced EXACTLY
    (fill_missing_contacts.py:189-196): a source file is usable iff it
    has a name (first+last, or a full-name column, matched
    case-sensitively against the exact synonym spellings) AND a contact
    key (email, or any column containing one of the case-sensitive
    REFERENCE_PHONE_SUBSTRINGS). Deliberately stricter than what the
    ingestion registries accept — this predicate answers "would the
    reference have processed this file", not "can this engine read it"."""
    cols = set(columns)

    def has(synonyms: list[str]) -> bool:
        return any(s in cols for s in synonyms)

    has_name = (has(FIRSTNAME_SYNONYMS) and has(LASTNAME_SYNONYMS)) or has(
        FULLNAME_SYNONYMS
    )
    has_phone = any(
        p in c for c in columns for p in REFERENCE_PHONE_SUBSTRINGS
    )
    return has_name and (has(EMAIL_SYNONYMS) or has_phone)


def with_source_order(df: DataFrame, order_col: str = "sid") -> DataFrame:
    """Attach the deterministic source-order column k-of-n enrichment
    needs ('first match wins' = min order): content-hash based like the
    master's row identity — lazy, partition-independent. The reference's
    order is file-row order, which a distributed scan cannot observe;
    any deterministic total order gives reproducible (if differently
    chosen) first-match winners."""
    cols = [F.col(c) for c in df.columns]
    return df.select("*", F.xxhash64(F.struct(*cols)).alias(order_col))


def contact_sources(frames: list[DataFrame]) -> DataFrame:
    """Source frames (as ``read_tsv`` returns them) mapped through
    CONTACT_SOURCE_REGISTRY, unioned, with the ``sid`` source order —
    the projection both the enrichment sources and the Mailchimp file
    take."""
    sources = read_sources(frames, CONTACT_SOURCE_REGISTRY).drop("source_file")
    return with_source_order(sources, "sid")


def read_contact_sources(
    spark: SparkSession, paths: list[str]
) -> tuple[DataFrame | None, list[str]]:
    """The enrichment-source ingest (fill_missing_contacts.py:186-196):
    read each file once, keep the files ``usable_source`` accepts on the
    header that read found, and return their ``contact_sources``
    projection (None when no file is usable), plus the skipped paths in
    input order. No Spark job: ``read_tsv``'s header peek is driver-side."""
    usable, skipped = [], []
    for p in paths:
        df = read_tsv(spark, p)
        if usable_source(df.columns):
            usable.append(df)
        else:
            skipped.append(p)
    return (contact_sources(usable) if usable else None), skipped
