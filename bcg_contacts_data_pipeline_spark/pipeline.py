"""Pipeline CLI — the runnable replacement for the reference's
orchestrator (/root/reference/cleaning/run.py:74-153):

    python -m bcg_contacts_data_pipeline_spark.pipeline MASTER.tsv OUT_DIR \
        [--sources f1.tsv f2.tsv ...] [--mailchimp mc.tsv] \
        [--merge-empty-keys] [--single-file]

Reference-parity operational behavior, Spark-first mechanics:
- per-step timing lines (run.py:104-111's per-script timing — here the
  steps are lazy plan stages, so the timed boundaries are the ACTIONS:
  one write per output artifact);
- outputs: cleaned master TSV, validation_errors.json (the reference's
  document shape: seqno/name/errors), fill_change_log.json when sources
  were given (fill_missing_contacts.py:124-131);
- validation epilogue: top-5 error histogram + totals
  (run.py:136-146);
- exit code: 1 only for CRITICAL errors — messages matching the
  reference's 'invalid email format' class (validate_fields.py:143-162
  fails only on email problems, not data-quality gaps), else 0.

Stages compose lazily and Catalyst optimizes within each one; every
enrichment pass checkpoints its target and its narrow match result into
the run's PinScope (the plans/contacts module docstring says why): each
splice join reads its target three times, the chained passes would
otherwise multiply the input scans in every later plan, and the change
logs written next to the master are projections of those match
checkpoints, so writing them re-runs no match. Each input file is read
once: a driver-side header peek (no Spark job) names its all-string
columns, and the enrichment sources are filtered by the reference's
usable-source rule on that same read (io/registries.read_contact_sources).
Subprocess-per-step and TSV handoffs between steps (the reference's
design) have no equivalent here by design.
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def run_cli(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="bcg_contacts_data_pipeline_spark.pipeline",
        description="Contact-unification pipeline (fill -> clean -> dedup -> validate)",
    )
    p.add_argument("master", help="master contacts TSV (88-column family)")
    p.add_argument("out_dir", help="output directory")
    p.add_argument("--sources", nargs="*", default=[], help="enrichment source TSVs")
    p.add_argument("--mailchimp", default=None, help="mailchimp export TSV")
    p.add_argument(
        "--merge-empty-keys",
        action="store_true",
        help="reference bug-compat: merge all keyless rows into one record",
    )
    p.add_argument(
        "--single-file",
        action="store_true",
        help="write one TSV/JSON file per artifact instead of partitioned dirs",
    )
    args = p.parse_args(argv)

    own_spark = spark is None
    if own_spark:
        spark = (
            SparkSession.builder.appName("contacts-pipeline")
            .config("spark.sql.adaptive.enabled", "true")
            .getOrCreate()
        )
    # Release owned resources even when a stage throws: every frame the
    # run persists or checkpoints registers in the run's PinScope, and
    # the scope closes strictly after every sink has materialized (the
    # _run body finishes all its writes/counts before returning) — pin
    # count back to zero per run, no session-wide clearCache needed; an
    # owned session/JVM is stopped too.
    from bcg_contacts_data_pipeline_spark.operators.pins import PinScope

    try:
        with PinScope():
            return _run(args, spark)
    finally:
        if own_spark:
            spark.stop()


def _run(args, spark: SparkSession) -> int:
    from bcg_contacts_data_pipeline_spark.io import readers as R
    from bcg_contacts_data_pipeline_spark.io import registries as REG
    from bcg_contacts_data_pipeline_spark.io import writers as W
    from bcg_contacts_data_pipeline_spark.operators.pins import pin
    from bcg_contacts_data_pipeline_spark.plans import contacts as C

    t0 = time.time()
    _log("=" * 60)
    _log("STARTING CONTACT PIPELINE")
    _log("=" * 60)

    def step(i, n, desc):
        _log(f"STEP {i}/{n}: {desc}")

    n_steps = 3 + (1 if args.sources else 0) + (1 if args.mailchimp else 0)
    i = 1

    step(i, n_steps, f"read master: {args.master}")
    s = time.time()
    master = R.read_tsv(spark, args.master)
    _log(f"  done in {time.time() - s:.1f}s ({len(master.columns)} columns)")
    i += 1

    mailchimp = None
    if args.mailchimp:
        step(i, n_steps, f"read mailchimp source: {args.mailchimp}")
        s = time.time()
        mailchimp = REG.contact_sources([R.read_tsv(spark, args.mailchimp)])
        _log(f"  done in {time.time() - s:.1f}s")
        i += 1

    sources = None
    if args.sources:
        step(i, n_steps, f"read {len(args.sources)} enrichment sources")
        s = time.time()
        sources, skipped = REG.read_contact_sources(spark, args.sources)
        for path in skipped:
            # fill_missing_contacts.py:194-196 skip decision
            _log(f"  skipping {path} - missing required columns")
        n_usable = len(args.sources) - len(skipped)
        _log(f"  done in {time.time() - s:.1f}s ({n_usable} usable)")
        i += 1

    step(i, n_steps, "fill -> clean -> dedup -> renumber")
    s = time.time()
    result = C.run_pipeline(
        master,
        sources=sources,
        mailchimp=mailchimp,
        merge_empty_keys=args.merge_empty_keys,
    )
    cleaned_path = f"{args.out_dir}/MergedDatabase.tsv"
    # the row count rides the write job via the Observation API — the
    # old `result.cleaned.count()` after the write re-executed the
    # whole fill->clean->dedup plan a second time just to log a number
    from bcg_contacts_data_pipeline_spark.operators.observe import with_metrics

    to_write, obs = with_metrics(
        result.cleaned.orderBy("seqno"), {"rows": F.count(F.lit(1))}
    )
    if args.single_file:
        W.write_tsv_single(to_write, cleaned_path)
    else:
        W.write_tsv(to_write, cleaned_path)
    n_rows = obs.get["rows"]
    _log(f"  done in {time.time() - s:.1f}s ({n_rows} rows)")
    i += 1

    step(i, n_steps, "validate + reports")
    s = time.time()
    errors = pin(result.errors)
    err_path = f"{args.out_dir}/validation_errors.json"
    # document and critical-error counts ride the report write (same
    # Observation pattern as the cleaned write); the critical count is
    # per error message, as the reference's exploded tally was
    critical_msgs = F.filter(
        "errors", lambda e: F.lower(e).contains("invalid email format")
    )
    to_write, err_obs = with_metrics(
        errors,
        {
            "rows": F.count(F.lit(1)),
            "critical": F.coalesce(F.sum(F.size(critical_msgs)), F.lit(0)),
        },
    )
    W.write_json_log(to_write, err_path, single=args.single_file)
    n_err_rows = err_obs.get["rows"]
    critical = err_obs.get["critical"]
    if result.fill_log is not None:
        W.write_json_log(
            result.fill_log,
            f"{args.out_dir}/fill_change_log.json",
            single=args.single_file,
        )
    if result.mailchimp_log is not None:
        W.write_json_log(
            result.mailchimp_log,
            f"{args.out_dir}/mailchimp_change_log.json",
            single=args.single_file,
        )

    # Validation epilogue (run.py:136-146): top-5 error histogram. One
    # aggregate over the exploded errors; only the top rows reach the
    # driver.
    hist = (
        errors.select(F.explode("errors").alias("error"))
        .groupBy("error")
        .count()
        .orderBy(F.col("count").desc(), "error")
    )
    top = hist.take(6)
    _log(f"  done in {time.time() - s:.1f}s")

    _log("-" * 60)
    if n_err_rows:
        _log("Validation Summary:")
        for row in top[:5]:
            _log(f"  * {row['error']}: {row['count']} records")
        if len(top) > 5:
            _log("  * ... and more error types")
        _log(f"  Total validation issues: {n_err_rows} records")
    else:
        _log("Validation Summary: all records passed validation!")

    _log("=" * 60)
    _log(f"PIPELINE COMPLETED in {time.time() - t0:.1f}s")
    _log("=" * 60)

    # validate_fields.py:143-162: fail only on the critical (email-format)
    # class; plain data-quality gaps exit 0.
    if critical > 0:
        _log(f"FOUND {critical} CRITICAL VALIDATION ERRORS")
        return 1
    if n_err_rows:
        _log(f"Found {n_err_rows} data quality issues (not critical)")
    return 0


if __name__ == "__main__":
    sys.exit(run_cli())
