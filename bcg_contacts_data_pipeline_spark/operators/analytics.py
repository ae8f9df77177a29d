"""Event-sequence analytics: conversion funnels and quantile binning.

The reference's analytics surface is batch aggregation (value_counts
top-5 in cleaning/clean_contacts.py:133, error histograms in
cleaning/validate_fields.py); these are the event-sequence
extensions a product pipeline runs on the same tables: "of the users who
viewed, how many later clicked, and of those how many later purchased",
and "split users into value deciles".

Scale notes
-----------
- ``funnel_stages`` is ONE hash-shuffle on the user key. Per-user events
  are gathered with ``collect_list`` (state bounded by a single user's
  activity — the same bound sessionization already accepts) and the
  stage timestamps fall out of array expressions, all codegen, no UDF.
- ``with_quantile_bin`` assigns bins from a *global rank*, which is the
  classic single-partition-window trap; here the rank comes from
  ``dedup.renumber``'s two-pass partition-offset pattern, so no task
  ever sees more than one partition's rows. Bin arithmetic is a closed
  form over (rank, n), not NTILE, so the same assignment is computable
  in any engine (see the formula in the docstring).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.dedup import renumber


def funnel_stages(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: Sequence[str],
) -> DataFrame:
    """Per-user ordered-funnel timestamps.

    For each user, ``stage_0_ts`` is the earliest event of type
    ``stages[0]``; ``stage_i_ts`` is the earliest event of type
    ``stages[i]`` STRICTLY AFTER ``stage_{i-1}_ts`` (strict ``>`` makes
    the definition order-independent under timestamp ties: an event
    simultaneous with the previous stage never completes the next one).
    A null stage means the user never reached it; later stages of a null
    stage are null.

    One shuffle: events group to their user, stage times are pure array
    expressions over the per-user list.
    """
    if len(stages) < 1:
        raise ValueError("need at least one stage")
    # No sort: every stage time is an array_min over a filtered view of
    # the list, so the gather order is irrelevant (and collect_list's
    # nondeterministic order never leaks into the result).
    arr = F.collect_list(
        F.struct(F.col(ts_col).alias("ts"), F.col(type_col).alias("et"))
    )
    out = df.groupBy(F.col(user_col)).agg(arr.alias("_ev"))

    def first_of(stage: str, after: Column | None) -> Column:
        def keep(x):
            c = x["et"] == F.lit(stage)
            if after is not None:
                c = c & (x["ts"] > after)
            return c

        return F.array_min(F.transform(F.filter(F.col("_ev"), keep), lambda x: x["ts"]))

    prev: Column | None = None
    for i, stage in enumerate(stages):
        out = out.withColumn(f"stage_{i}_ts", first_of(stage, prev))
        prev = F.col(f"stage_{i}_ts")
    return out.drop("_ev")


def funnel_summary(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: Sequence[str],
) -> DataFrame:
    """One row per funnel stage: stage index, stage name, users reaching
    it, and conversion vs the first stage (exact decimal-free ratio:
    one IEEE division of two exact longs)."""
    per_user = funnel_stages(df, user_col, ts_col, type_col, stages)
    counts = per_user.agg(
        *[
            F.count(F.col(f"stage_{i}_ts")).alias(f"_n{i}")
            for i in range(len(stages))
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("stage"),
                F.lit(s).alias("event_type"),
                F.col(f"_n{i}").cast("long").alias("users"),
                # try_divide: zero users at stage 0 (empty input) must
                # yield NULL (DuckDB x/0 semantics), not an ANSI error.
                F.try_divide(
                    F.col(f"_n{i}").cast("double"),
                    F.col("_n0").cast("double"),
                ).alias("conversion"),
            )
            for i, s in enumerate(stages)
        ]
    )
    return counts.select(F.inline(rows))


def with_quantile_bin(
    df: DataFrame,
    order_by: list[Column],
    k: int,
    bin_name: str = "bin",
) -> DataFrame:
    """Assign each row an even-spread quantile bin in ``[1, k]`` under a
    total order.

    Bin formula: ``((rank - 1) * k) div n + 1`` over the global 1-based
    rank — INTEGER division, never float: ``floor(a*k/n)`` in doubles
    mis-bins boundary ranks once ``n*k`` exceeds 2^53 (the same hazard
    pack.py documents for shard boundaries), and at the row counts this
    operator exists for that is not hypothetical. Every engine computes
    the identical assignment from (rank, n) with the same integer
    quotient (unlike NTILE, whose front-loaded remainder rule is one
    more thing to replicate). ``order_by`` must be a TOTAL order (add a
    unique-id tiebreak) or the assignment is nondeterministic.

    Rank comes from :func:`~..operators.dedup.renumber` (two-pass
    partition offsets — scalable, no single-task window), which also
    returns ``n`` from the offset pass it already ran — no second count
    job over the pinned frame.
    """
    ranked, n = renumber(df, order_by, seq_name="_rank", with_total=True)
    if n == 0:  # no rows, no bins — and no div-by-zero under ANSI
        bin_col = F.lit(None).cast("long")
    else:
        bin_col = F.expr(
            f"((_rank - 1) * {int(k)}) div {int(n)} + 1"
        ).cast("long")
    return ranked.withColumn(bin_name, bin_col).drop("_rank")
