"""End-to-end contact pipeline test — the reference's full run.py flow
(mailchimp enrich -> fill missing -> clean -> dedup -> validate) on
contact-shaped fixtures, plus the guards on the one path the CLI runs:
no Spark job at source ingest, and the checkpointed enrichment stage
boundaries (plans/contacts.py) — plan shape scoped or not, change logs
that read only their match checkpoints, job budget, outputs equal to
the lazy plan's, and release."""

from __future__ import annotations

import re

import golden_fixture as G
import pytest

from bcg_contacts_data_pipeline_spark.operators.pins import PinScope
from bcg_contacts_data_pipeline_spark.plans import contacts as C
from tests.test_pins import _n_persistent_rdds

#: Golden-fixture budgets with each enrichment pass's target and match
#: checkpointed (measured 0 relations / 2 exchanges / 50-51 jobs, the
#: job count moving by one between runs; with only the targets
#: checkpointed 4 / 7 / 74; with no checkpoints 46 / 70 / 172). The
#: clean_fields input reads only the fill target's and the fill match's
#: checkpoints. A reintroduced splice-join fan-out or a lazy match
#: multiplies all three; a header peek that runs a Spark job adds one
#: per input file.
MAX_CLEAN_INPUT_RELATIONS = 0
MAX_CLEAN_INPUT_EXCHANGES = 2
MAX_CLI_JOBS = 52


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


#: The CLI's --sources on the golden fixture: two usable files, then the
#: two headerless lists the usable-source rule skips.
SOURCE_KEYS = ("mailchimp_src", "crm", "adhoc5", "adhoc6")


@pytest.fixture(scope="module")
def golden_paths(tmp_path_factory):
    return G.write_all(str(tmp_path_factory.mktemp("golden_inputs")))


@pytest.fixture(scope="module")
def golden_inputs(spark, golden_paths):
    """The golden fixture's master, sources and Mailchimp frames, read
    the way pipeline.run_cli reads them."""
    from bcg_contacts_data_pipeline_spark.io import readers as R
    from bcg_contacts_data_pipeline_spark.io import registries as REG

    master = R.read_tsv(spark, golden_paths["master"])
    mailchimp = REG.contact_sources(
        [R.read_tsv(spark, golden_paths["mailchimpclean"])]
    )
    sources, _skipped = REG.read_contact_sources(
        spark, [golden_paths[k] for k in SOURCE_KEYS]
    )
    return master, sources, mailchimp


def _jobs_in(spark, fn):
    """``fn()`` and the number of Spark jobs it ran (own job group)."""
    sc = spark.sparkContext
    group = "contacts-pipeline-job-count"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_source_ingest_runs_one_job_per_file(spark, golden_paths):
    """Each source file is read once: its driver-side header peek names
    the columns and decides usability without a Spark job, and nothing
    re-reads a usable file's header, so the ingest runs no job at all."""
    from bcg_contacts_data_pipeline_spark.io import registries as REG

    paths = [golden_paths[k] for k in SOURCE_KEYS]
    (sources, skipped), jobs = _jobs_in(
        spark, lambda: REG.read_contact_sources(spark, paths)
    )
    assert jobs == 0, jobs
    assert skipped == [golden_paths["adhoc5"], golden_paths["adhoc6"]]
    assert sources is not None and "sid" in sources.columns


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


def _plan_facts(df) -> tuple[int, int]:
    """File relations in ``df``'s optimized plan, exchanges in its
    executed plan."""
    qe = df._jdf.queryExecution()
    return (
        len(re.findall(r"Relation \[", qe.optimizedPlan().toString())),
        qe.executedPlan().toString().count("Exchange"),
    )


def _plan_and_outputs(golden_inputs) -> dict:
    """One run over the golden inputs: the clean_fields input's relation
    and exchange counts, the change logs' plan facts, and the canonical
    outputs (collected in the caller's scope — released checkpoints are
    unrecomputable)."""
    result, clean_input = _run_capturing_clean_input(golden_inputs)
    relations, exchanges = _plan_facts(clean_input)
    return {
        "relations": relations,
        "exchanges": exchanges,
        "log_plans": {
            "fill_log": _plan_facts(result.fill_log),
            "mailchimp_log": _plan_facts(result.mailchimp_log),
        },
        "outputs": _canonical(result),
    }


@pytest.fixture(scope="module")
def scoped_run(spark, golden_inputs):
    """A scoped run, plus the persistent-RDD count before the run and
    after the scope closes."""
    before = _n_persistent_rdds(spark)
    with PinScope():
        run = _plan_and_outputs(golden_inputs)
    return {**run, "before": before, "after": _n_persistent_rdds(spark)}


@pytest.fixture(scope="module")
def unscoped_run(spark, golden_inputs):
    """The same run with no scope open: the checkpoints stay with the
    session."""
    try:
        return _plan_and_outputs(golden_inputs)
    finally:
        # the unscoped renumber persist lives until clearCache
        spark.catalog.clearCache()


@pytest.fixture(scope="module")
def lazy_run(golden_inputs):
    """The reference: the same run with the stage checkpoints replaced
    by identity, i.e. one lazy plan from the input files."""
    with PinScope(), pytest.MonkeyPatch.context() as mp:
        mp.setattr(C, "checkpoint", lambda df: df)
        return _plan_and_outputs(golden_inputs)


def test_stage_boundaries_bound_the_enrichment_plan(scoped_run):
    """The frame entering clean_fields plans from the fill stage's
    checkpointed target and match: no file relation at all, not the 46
    the chained splice joins multiply the 4 input files into."""
    assert scoped_run["relations"] <= MAX_CLEAN_INPUT_RELATIONS, scoped_run["relations"]
    assert scoped_run["exchanges"] <= MAX_CLEAN_INPUT_EXCHANGES, scoped_run["exchanges"]


def test_unscoped_run_plans_the_same_bounded_input(scoped_run, unscoped_run):
    """No scope open, same rule: the stage targets are checkpointed
    anyway, so the clean_fields input is the scoped run's plan."""
    assert unscoped_run["relations"] <= MAX_CLEAN_INPUT_RELATIONS, unscoped_run["relations"]
    assert unscoped_run["exchanges"] <= MAX_CLEAN_INPUT_EXCHANGES, unscoped_run["exchanges"]
    assert (unscoped_run["relations"], unscoped_run["exchanges"]) == (
        scoped_run["relations"],
        scoped_run["exchanges"],
    )


def test_change_logs_read_only_the_match_checkpoints(scoped_run):
    """Each change log is a projection of its pass's checkpointed match:
    no source file scan and no exchange, so writing a log re-runs no
    match (a lazy match re-read, deduped and broadcast the sources)."""
    for name, (relations, exchanges) in scoped_run["log_plans"].items():
        assert (relations, exchanges) == (0, 0), (name, relations, exchanges)


def test_cli_job_budget(cli_run):
    rc, _out, jobs = cli_run
    assert rc == 0
    assert 0 < jobs <= MAX_CLI_JOBS, jobs


def test_stage_checkpoints_match_lazy_plan_and_release(scoped_run, unscoped_run, lazy_run):
    """Scoped and unscoped runs give the lazy reference's outputs, and
    release returns the persistent-RDD count to its pre-run value (the
    checkpoints are freed, not just dropped)."""
    # the reference really is the unbounded plan the checkpoints cut
    assert lazy_run["relations"] > MAX_CLEAN_INPUT_RELATIONS, lazy_run["relations"]
    assert scoped_run["outputs"] == lazy_run["outputs"]
    assert unscoped_run["outputs"] == lazy_run["outputs"]
    # <=, not ==: Spark's ContextCleaner may free unrelated leftovers of
    # earlier tests meanwhile (same reasoning as tests/test_pins.py)
    assert scoped_run["after"] <= scoped_run["before"]
