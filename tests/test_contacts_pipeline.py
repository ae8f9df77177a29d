"""End-to-end contact pipeline test — the reference's full run.py flow
(mailchimp enrich -> fill missing -> clean -> dedup -> validate) on
contact-shaped fixtures, plus the guards on the enrichment stage
boundaries (plans/contacts._stage_boundary): plan shape, job budget,
scoped == unscoped results, and release."""

from __future__ import annotations

import re

import golden_fixture as G
import pytest

from bcg_contacts_data_pipeline_spark.operators.pins import PinScope
from bcg_contacts_data_pipeline_spark.plans import contacts as C
from tests.test_pins import _n_persistent_rdds

#: Golden-fixture budgets with the stage boundaries checkpointed
#: (measured 4 relations / 7 exchanges / 76 jobs; without them 46 / 70 /
#: 172). A reintroduced splice-join fan-out multiplies all three.
MAX_CLEAN_INPUT_RELATIONS = 4
MAX_CLEAN_INPUT_EXCHANGES = 8
MAX_CLI_JOBS = 90


def master_fixture(spark):
    cols = "seqno string, firstname string, lastname string, fullname string, email string, mobile string, notes string, isactive string, last_updated string, salutation string"
    rows = [
        # two duplicate Anns (same email) — merged, longest notes wins
        ("1", "ann", "lee", "Ann Lee", "A@X.com", "0412345678", "short", "y", "2023-01-01 10:00:00", "Ms"),
        ("2", "Ann", "Lee", "Ann Lee", "a@x.com", None, "a far longer note", "Y", "2024-01-01 10:00:00", None),
        # missing email + mobile -> filled from mailchimp on (name, phone)/(name, email)
        ("3", "Bob", "Roy", "Bob Roy", None, "5551234567", "nan", "n", "2024-02-02 09:00:00", None),
        # missing firstname/lastname -> filled from sources via 2-of-3
        ("4", None, None, "Cal Poe", "cal@x.com", "111222333", "", "bogus", "not a date", None),
        # keyless junk row — passes through dedup, SKIPPED by validation
        # (reference junk-row pre-filter, validate_fields.py:77-85)
        ("5", None, None, None, None, None, "keyless", None, None, None),
        # real validation case: present firstname but no lastname/email/phone
        ("6", "Eve", None, "Eve Kay", None, None, None, None, None, None),
    ]
    return spark.createDataFrame(rows, cols)


def mailchimp_fixture(spark):
    return spark.createDataFrame(
        [
            (1, "Bob", "Roy", None, "bob@mc.com", "+1 555 123 4567"),
        ],
        "sid long, s_firstname string, s_lastname string, s_fullname string, s_email string, s_mobile string",
    )


def sources_fixture(spark):
    return spark.createDataFrame(
        [
            (1, "Cal", "Poe", "Cal Poe", "cal@x.com", "999"),
        ],
        "sid long, s_firstname string, s_lastname string, s_fullname string, s_email string, s_mobile string",
    )


def test_full_pipeline(spark):
    result = C.run_pipeline(
        master_fixture(spark),
        sources=sources_fixture(spark),
        mailchimp=mailchimp_fixture(spark),
    )
    rows = result.cleaned.collect()
    by_email = {r["email"]: r for r in rows if r["email"]}

    # dedup: the two Anns merged into one most-complete record
    ann = by_email["a@x.com"]
    assert ann["group_size"] == 2
    assert ann["notes"] == "a far longer note"
    assert ann["mobile"] == "0412345678"  # filled from the older dup
    assert ann["firstname"] == "Ann"  # title-cased
    assert ann["isactive"] == "Y"

    # mailchimp enrich: Bob's missing email filled on (name, phone) match
    bob = by_email["bob@mc.com"]
    assert bob["firstname"] == "Bob"

    # fill-missing: Cal's first/last filled via 2-of-3 (name+email)
    cal = by_email["cal@x.com"]
    assert cal["firstname"] == "Cal" and cal["lastname"] == "Poe"

    # unused fields forced NULL, sentinel strings gone
    assert all(r["salutation"] is None for r in rows)
    assert all(r["notes"] != "nan" for r in rows)

    # keyless row passed through unmerged
    assert sum(1 for r in rows if r["email"] is None and r["fullname"] is None) == 1

    # SEQNO contiguous 1..N
    seqnos = sorted(int(r["seqno"]) for r in rows)
    assert seqnos == list(range(1, len(rows) + 1))

    # validation: junk (all-null name+email) rows are SKIPPED; Eve's row
    # (firstname present) fails required lastname/email critically
    errors = result.errors.collect()
    eve = next(r for r in rows if r["firstname"] == "Eve")
    eve_errors = [e for e in errors if e["seqno"] == eve["seqno"]]
    assert eve_errors and eve_errors[0]["has_critical"]
    assert "Missing lastname" in eve_errors[0]["errors"]
    assert "No phone number present" in eve_errors[0]["errors"]
    # Ann's record is fully valid and junk row produced no error doc
    assert not [e for e in errors if e["seqno"] == ann["seqno"]]
    assert len(errors) == 1

    # audit logs exist
    assert result.mailchimp_log.count() >= 1
    assert result.fill_log.count() >= 1


def test_bug_compat_empty_key_merge(spark):
    df = master_fixture(spark)
    result = C.run_pipeline(df, merge_empty_keys=True)
    rows = result.cleaned.collect()
    # compat mode: all keyless rows collapse into one record (reference bug)
    keyless = [r for r in rows if r["email"] is None and r["fullname"] is None]
    assert len(keyless) == 1


@pytest.fixture(scope="module")
def golden_inputs(spark, tmp_path_factory):
    """The golden fixture's master, sources and Mailchimp frames, read
    the way pipeline.run_cli reads them (the headerless 5/6.tsv lists
    are skipped by the same usable-source rule)."""
    from bcg_contacts_data_pipeline_spark.io import readers as R
    from bcg_contacts_data_pipeline_spark.io import registries as REG

    paths = G.write_all(str(tmp_path_factory.mktemp("golden_inputs")))
    master = R.read_tsv(spark, paths["master"], all_strings=True)
    mailchimp = REG.with_source_order(
        REG.CONTACT_SOURCE_REGISTRY.apply(
            R.read_tsv(spark, paths["mailchimpclean"], all_strings=True)
        ),
        "sid",
    )
    usable = [
        p
        for p in (paths["mailchimp_src"], paths["crm"], paths["adhoc5"], paths["adhoc6"])
        if REG.usable_source(R._peek_header(spark, p))
    ]
    sources = REG.with_source_order(
        R.read_sources(spark, usable, REG.CONTACT_SOURCE_REGISTRY).drop("source_file"),
        "sid",
    )
    return master, sources, mailchimp


def _run_capturing_clean_input(golden_inputs):
    """run_pipeline in the caller's scope (if any); returns the result
    and the frame that entered clean_fields (the end of the enrichment
    stages)."""
    seen = []
    real = C.clean_fields

    def spy(df):
        seen.append(df)
        return real(df)

    master, sources, mailchimp = golden_inputs
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(C, "clean_fields", spy)
        result = C.run_pipeline(master, sources=sources, mailchimp=mailchimp)
    return result, seen[0]


def _canonical(result: C.PipelineResult) -> dict:
    return {
        name: (df.columns, sorted(repr(tuple(r)) for r in df.collect()))
        for name, df in (
            ("cleaned", result.cleaned),
            ("errors", result.errors),
            ("fill_log", result.fill_log),
            ("mailchimp_log", result.mailchimp_log),
        )
    }


@pytest.fixture(scope="module")
def scoped_run(spark, golden_inputs):
    """One scoped run over the golden inputs: the clean_fields input
    plan, the canonical outputs (collected before release — released
    checkpoints are unrecomputable) and the persistent-RDD count before
    the run and after the scope closes."""
    before = _n_persistent_rdds(spark)
    with PinScope():
        result, clean_input = _run_capturing_clean_input(golden_inputs)
        qe = clean_input._jdf.queryExecution()
        optimized = qe.optimizedPlan().toString()
        physical = qe.executedPlan().toString()
        outputs = _canonical(result)
    return {
        "relations": len(re.findall(r"Relation \[", optimized)),
        "exchanges": physical.count("Exchange"),
        "outputs": outputs,
        "before": before,
        "after": _n_persistent_rdds(spark),
    }


def test_stage_boundaries_bound_the_enrichment_plan(scoped_run):
    """The frame entering clean_fields plans from the checkpointed stage
    targets: one relation per input file (4), not the 46 the chained
    splice joins multiply them into."""
    assert scoped_run["relations"] <= MAX_CLEAN_INPUT_RELATIONS, scoped_run["relations"]
    assert scoped_run["exchanges"] <= MAX_CLEAN_INPUT_EXCHANGES, scoped_run["exchanges"]


def test_cli_job_budget(cli_run):
    rc, _out, jobs = cli_run
    assert rc == 0
    assert 0 < jobs <= MAX_CLI_JOBS, jobs


def test_stage_checkpoints_match_lazy_plan_and_release(spark, golden_inputs, scoped_run):
    """Scoped and unscoped runs give identical outputs; release returns
    the persistent-RDD count to its pre-run value (the checkpoints are
    freed, not just dropped); an unscoped run checkpoints nothing."""
    # <=, not ==: Spark's ContextCleaner may free unrelated leftovers of
    # earlier tests meanwhile (same reasoning as tests/test_pins.py)
    assert scoped_run["after"] <= scoped_run["before"]
    try:
        result, clean_input = _run_capturing_clean_input(golden_inputs)
        assert "LogicalRDD" not in clean_input._jdf.queryExecution().optimizedPlan().toString()
        assert _canonical(result) == scoped_run["outputs"]
    finally:
        # the unscoped renumber persist lives until clearCache (legacy)
        spark.catalog.clearCache()
