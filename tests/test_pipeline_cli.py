"""Pipeline CLI tests (reference cleaning/run.py operational parity)."""

from __future__ import annotations

import json
import os

from bcg_contacts_data_pipeline_spark.pipeline import run_cli


def _write_fixtures(tmp_path):
    master = tmp_path / "MergedDatabase.tsv"
    master.write_text(
        "seqno\tfirstname\tlastname\temail\tmobile\tfullname\tisactive\tlast_updated\n"
        "1\tAnn\t\tann.lee@corp.example\t0405652525\tAnn Lee\tY\t2020-01-02 03:04:05\n"
        "2\tBob\tRoy\tbob.roy@corp.example\t\tBob Roy\tN\t2020-01-02 03:04:05\n"
        "3\tCara\tDoe\t\t\tCara Doe\tY\t2020-01-02 03:04:05\n"
    )
    src = tmp_path / "1.tsv"
    src.write_text(
        "Email Address\tFirst Name\tLast Name\tMobile Number\n"
        "ann.lee@corp.example\tAnn\tLee\t0405652525\n"
        "bob.roy@corp.example\tBob\tRoy\t0413111222\n"
    )
    skip = tmp_path / "5.tsv"  # headerless -> first row misread -> skipped
    skip.write_text("Scott\tQRS\tscott@qldretailsupplies.com.au\t\t\n")
    return str(master), str(src), str(skip)


def test_cli_end_to_end(spark, tmp_path, capsys):
    master, src, skip = _write_fixtures(tmp_path)
    out = str(tmp_path / "out")
    rc = run_cli(
        [master, out, "--sources", src, skip, "--single-file"], spark=spark
    )
    # data-quality gaps (missing phone on row 3) are not critical -> 0
    assert rc == 0

    logs = capsys.readouterr().err
    assert "skipping" in logs and "5.tsv" in logs  # reference skip path
    assert "Validation Summary" in logs
    assert "PIPELINE COMPLETED" in logs

    # cleaned master: single TSV, contiguous seqno, fill applied
    cleaned = out + "/MergedDatabase.tsv"
    assert os.path.isfile(cleaned)
    lines = open(cleaned).read().strip().split("\n")
    header = lines[0].split("\t")
    rows = [dict(zip(header, l.split("\t"))) for l in lines[1:]]
    assert [r["seqno"] for r in rows] == ["1", "2", "3"]
    by_email = {r["email"]: r for r in rows}
    assert by_email["bob.roy@corp.example"]["mobile"] == "0413111222"  # filled
    assert by_email["ann.lee@corp.example"]["lastname"] == "Lee"  # filled

    # validation report exists and is JSON-lines of error documents
    err_path = out + "/validation_errors.json"
    assert os.path.isfile(err_path)
    docs = [json.loads(l) for l in open(err_path).read().strip().split("\n") if l]
    # row 3 (Cara, no email after clean, no phone) must be reported
    msgs = {e for d in docs for e in d["errors"]}
    assert any("email" in m.lower() or "phone" in m.lower() for m in msgs)
    # the epilogue's total is the observed count of the report write
    assert f"Total validation issues: {len(docs)} records" in logs

    # fill change log written when sources were given
    assert os.path.isfile(out + "/fill_change_log.json")
