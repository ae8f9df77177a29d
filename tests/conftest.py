from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bcg_contacts_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def cli_run(spark, tmp_path_factory):
    """One CLI run over the golden fixture (tests/golden_fixture.py),
    shared by the output goldens (test_golden_cli) and the job budget
    (test_contacts_pipeline). Returns ``(rc, out_dir, n_jobs)``; the run
    is tagged with its own job group so the count covers exactly it."""
    import golden_fixture as G

    from bcg_contacts_data_pipeline_spark.pipeline import run_cli

    d = str(tmp_path_factory.mktemp("golden"))
    paths = G.write_all(d)
    out = os.path.join(d, "out")
    sc = spark.sparkContext
    group = "golden-cli-run"
    sc.setJobGroup(group, "golden fixture CLI run")
    try:
        rc = run_cli(
            [
                paths["master"],
                out,
                "--sources",
                paths["mailchimp_src"],
                paths["crm"],
                paths["adhoc5"],
                paths["adhoc6"],
                "--mailchimp",
                paths["mailchimpclean"],
                "--single-file",
            ],
            spark=spark,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rc, out, len(sc.statusTracker().getJobIdsForGroup(group))
