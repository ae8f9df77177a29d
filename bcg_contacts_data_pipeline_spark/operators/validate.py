"""Row-level validation rule engine (SURVEY.md §2.8).

Reference: cleaning/validate_fields.py:60-116 — a Python row loop
producing ``{row, name, errors[]}`` documents. Re-expressed as a
rule-to-expression compiler: each rule is a Catalyst boolean + message;
the engine emits either the reference-shaped nested document (id, name,
errors array) or an exploded (id, error) relation — the latter is the
join/aggregate-friendly form. Severity classification
(validate_fields.py:143-162) becomes a one-pass aggregate.

Zero UDFs; at scale this is a single narrow projection + filter over the
input — no shuffle at all until the severity aggregate.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.functions.normalize import (
    EMAIL_PATTERN,
    digits_only,
)


@dataclass(frozen=True)
class Rule:
    """failed: boolean Column, true when the row VIOLATES the rule."""

    name: str
    failed: Column
    message: str
    critical: bool = False


def required(col: str, label: str | None = None, critical: bool = True) -> Rule:
    c = F.col(col)
    return Rule(
        name=f"required_{col}",
        failed=c.isNull() | (F.length(F.trim(c.cast("string"))) == 0),
        message=f"Missing {label or col}",
        critical=critical,
    )


def email_format(col: str) -> Rule:
    c = F.col(col)
    present = c.isNotNull() & (F.length(F.trim(c)) > 0)
    return Rule(
        name=f"email_format_{col}",
        failed=present & ~F.lower(F.trim(c)).rlike(EMAIL_PATTERN),
        message=f"Invalid email format in {col}",
    )


def phone_format(col: str, lo: int = 7, hi: int = 15) -> Rule:
    c = F.col(col)
    present = c.isNotNull() & (F.length(F.trim(c.cast("string"))) > 0)
    n = F.length(digits_only(c.cast("string")))
    return Rule(
        name=f"phone_format_{col}",
        failed=present & ((n < lo) | (n > hi)),
        message=f"Invalid phone format in {col}",
    )


def at_least_one_present(cols: list[str], message: str) -> Rule:
    present = None
    for col in cols:
        c = F.col(col)
        p = c.isNotNull() & (F.length(F.trim(c.cast("string"))) > 0)
        present = p if present is None else (present | p)
    return Rule(name="at_least_one_" + "_".join(cols), failed=~present, message=message)


def in_set(col: str, allowed: list[str]) -> Rule:
    c = F.col(col)
    return Rule(
        name=f"in_set_{col}",
        failed=c.isNotNull() & ~c.isin(*allowed),
        message=f"Unexpected value in {col}",
    )


def in_range(col: str, lo: float, hi: float) -> Rule:
    c = F.col(col)
    return Rule(
        name=f"in_range_{col}",
        failed=c.isNotNull() & ((c < lo) | (c > hi)),
        message=f"{col} out of range",
    )


def validate_exploded(
    df: DataFrame, rules: list[Rule], id_cols: list[str], skip: Column | None = None
) -> DataFrame:
    """One output row per (row, violated rule): (id_cols..., error).

    ``skip`` mirrors the reference's junk-row pre-filter
    (validate_fields.py:77-85)."""
    if skip is not None:
        df = df.filter(~skip)
    errors = F.array_compact(
        F.array(*[F.when(r.failed, F.lit(r.message)) for r in rules])
    )
    return (
        df.select(*id_cols, F.explode(errors).alias("error"))
    )


def validate_documents(
    df: DataFrame,
    rules: list[Rule],
    id_cols: list[str],
    name_col: str | None = None,
    skip: Column | None = None,
) -> DataFrame:
    """Reference-shaped output: one document per failing row with the full
    error array (validate_fields.py:114-116), ready for ``write.json``.

    Failing rows are selected BEFORE the error-array projection with the
    cheap boolean disjunction of the rule predicates: a post-hoc
    ``filter(size(errors) > 0)`` gets the whole array-construction
    expression substituted into its predicate and evaluated a second
    time per row (the n-gram signature stage once measured ~3x slower
    from exactly this; operators/similarity.shingle_hash_frame documents
    the inferred-filter form of the hazard); filtering first also means
    passing rows never build the array at all."""
    if skip is not None:
        df = df.filter(~skip)
    if not rules:
        # No rules -> no failing rows; return the empty frame with the
        # exact output shape (an empty rule list used to IndexError).
        return df.limit(0).select(
            *id_cols,
            *([F.col(name_col).alias("name")] if name_col else []),
            F.array().cast("array<string>").alias("errors"),
            F.lit(False).alias("has_critical"),
        )
    any_failed = reduce(lambda acc, r: acc | r.failed, (r for r in rules), F.lit(False))
    df = df.filter(any_failed)
    errors = F.array_compact(
        F.array(*[F.when(r.failed, F.lit(r.message)) for r in rules])
    )
    critical = F.array_compact(
        F.array(*[F.when(r.failed, F.lit(r.message)) for r in rules if r.critical])
    )
    return df.select(
        *id_cols,
        *([F.col(name_col).alias("name")] if name_col else []),
        errors.alias("errors"),
        (F.size(critical) > 0).alias("has_critical"),
    )


def error_count(rules: list[Rule], skip: Column | None = None) -> Column:
    """Violated-rule count as a plain Column — the zero-shuffle form for
    attaching per-row error counts to a frame without re-deriving it
    through validate_* + aggregate + join (which would compute the
    upstream plan twice). Skipped rows count 0, matching the junk-row
    pre-filter in validate_documents."""
    n = F.size(
        F.array_compact(
            F.array(*[F.when(r.failed, F.lit(r.message)) for r in rules])
        )
    )
    if skip is not None:
        n = F.when(skip, F.lit(0)).otherwise(n)
    return n


def severity_summary(error_docs: DataFrame) -> DataFrame:
    """validate_fields.py:143-162 exit-code classification + run.py:136-146
    top-error histogram, as one aggregate."""
    return error_docs.agg(
        F.count(F.lit(1)).alias("rows_with_errors"),
        F.sum(F.when(F.col("has_critical"), 1).otherwise(0)).alias("critical_rows"),
    )
