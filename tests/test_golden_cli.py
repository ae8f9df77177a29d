"""Golden-file CLI parity test.

Runs the pipeline CLI over the deterministic reference-shaped fixture
set (tests/golden_fixture.py: 10k x 88 master, mailchimp + CRM sources,
headerless 5/6.tsv skip layouts, mailchimpclean stage-0 source) and
diffs every output artifact against pinned goldens
(tests/goldens/cli_golden.json): byte digest of the cleaned TSV,
sorted-line digests of the three JSON logs, row counts, and a set of
semantic spot checks that make regressions diagnosable without reading
digests. The run itself is the session fixture ``cli_run`` in
conftest.py.

Regenerate after an INTENDED behavior change:
    GOLDEN_REGEN=1 python -m pytest tests/test_golden_cli.py -q
then review the printed old/new summary and commit the updated JSON.
"""

from __future__ import annotations

import hashlib
import json
import os

import golden_fixture as G
import pytest

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "goldens", "cli_golden.json")


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def _file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return _sha(f.read())


def _sorted_lines_digest(path: str) -> tuple[str, int]:
    with open(path) as f:
        lines = sorted(line for line in f.read().split("\n") if line)
    return _sha("\n".join(lines).encode()), len(lines)


def _actual(out: str) -> dict:
    cleaned = os.path.join(out, "MergedDatabase.tsv")
    with open(cleaned) as f:
        tsv_lines = f.read().split("\n")
    err_digest, n_err = _sorted_lines_digest(
        os.path.join(out, "validation_errors.json")
    )
    fill_digest, n_fill = _sorted_lines_digest(
        os.path.join(out, "fill_change_log.json")
    )
    mc_digest, n_mc = _sorted_lines_digest(
        os.path.join(out, "mailchimp_change_log.json")
    )
    return {
        "cleaned_tsv_sha256": _file_digest(cleaned),
        "cleaned_rows": len([line for line in tsv_lines if line]) - 1,
        "validation_errors_sha256": err_digest,
        "validation_error_docs": n_err,
        "fill_change_log_sha256": fill_digest,
        "fill_change_entries": n_fill,
        "mailchimp_change_log_sha256": mc_digest,
        "mailchimp_change_entries": n_mc,
    }


def test_cli_matches_pinned_goldens(cli_run):
    rc, out, _jobs = cli_run
    assert rc == 0
    actual = _actual(out)

    if os.environ.get("GOLDEN_REGEN"):
        os.makedirs(os.path.dirname(GOLDEN_PATH), exist_ok=True)
        with open(GOLDEN_PATH, "w") as f:
            json.dump(actual, f, indent=2, sort_keys=True)
            f.write("\n")
        pytest.skip(f"goldens regenerated: {json.dumps(actual, indent=2)}")

    assert os.path.exists(GOLDEN_PATH), (
        "no pinned goldens; run GOLDEN_REGEN=1 pytest tests/test_golden_cli.py"
    )
    golden = json.load(open(GOLDEN_PATH))
    assert actual == golden, (
        "CLI output diverged from pinned goldens:\n"
        f"golden: {json.dumps(golden, indent=2, sort_keys=True)}\n"
        f"actual: {json.dumps(actual, indent=2, sort_keys=True)}"
    )


def test_cli_semantics_spot_checks(cli_run):
    """Digest-independent assertions that keep failures diagnosable and
    pin the fixture's engineered behaviors end-to-end."""
    rc, out, _jobs = cli_run
    with open(os.path.join(out, "MergedDatabase.tsv")) as f:
        lines = [line for line in f.read().split("\n") if line]
    header = lines[0].split("\t")
    rows = [dict(zip(header, line.split("\t"))) for line in lines[1:]]

    # contiguous seqno 1..N
    assert [r["seqno"] for r in rows] == [str(i + 1) for i in range(len(rows))]

    by_email = {r["email"]: r for r in rows}

    # duplicate-email groups merged most-complete: member A's lastname +
    # member B's mobile stitched into one record, group_size 2
    dup = by_email["dup0@corp.example"]
    assert dup["group_size"] == "2"
    assert dup["lastname"] == "Last0" and dup["mobile"] == "0455000000"

    # fallback-key pair (no email, shared fullname+mobile) merged
    fall = [r for r in rows if r["lastname"] == "Back0"]
    assert len(fall) == 1 and fall[0]["group_size"] == "2"

    # k-of-n fill from the mailchimp-shaped source (mobile restored)
    assert by_email["src3@corp.example"]["mobile"] == "0747031303"

    # CRM fill restored both name parts via the fullname match key
    crm = by_email["crm4@corp.example"]
    assert crm["firstname"] == "Crm4" and crm["lastname"] == "Person"

    # stage-0 mailchimp enrich filled the missing email on (name, phone)
    assert "mc5@corp.example" in by_email

    # keyless rows passed through unmerged
    keyless = [r for r in rows if r["email"] == "" and r["fullname"] == ""]
    assert len(keyless) == G.N_ROWS // 10

    # integer preservation: float-looking salesno restored to int form
    # (the headerless 5/6.tsv skip path is separately covered by
    # tests/test_io.py::test_usable_source_reproduces_reference_skip and
    # tests/test_pipeline_cli.py)
    assert all("." not in r["salesno"] for r in rows if r["salesno"])
