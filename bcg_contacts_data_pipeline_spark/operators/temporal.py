"""Temporal operators beyond the reference surface: as-of join, bounded
range join, sessionization, tumbling-window aggregation.

The reference is batch-only with no temporal ops (SURVEY §2.6/§2.9);
these are the green-field extensions a training-data/event pipeline needs,
each built scale-first:

- ``asof_join``: the union-tag pattern — ONE shuffle on the key, a single
  ordered window pass, no range-explosion. Equivalent to DuckDB
  ``ASOF JOIN`` (backward, inclusive).
- ``range_join_bucketed``: bounded-interval self/cross join via time
  bucketing, so each row joins at most 2 buckets instead of the whole
  key partition — survives hot keys at 100 TB where a naive per-key
  theta join degenerates to a cross product.
- ``sessionize``: gap-based session ids via lag + running sum (two window
  passes over one shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_values: dict[str, str],
    tolerance_us: int | None = None,
) -> DataFrame:
    """Backward inclusive as-of join: for each left row, the most recent
    right row with ``right_ts <= left_ts`` per key.

    Implementation: tag both inputs, union, sort each key partition by
    (ts, side) with right-before-left at ties, and carry right values
    forward with ``last(..., ignorenulls=True)``. One shuffle total,
    O(n log n) per partition, no candidate explosion regardless of how
    many right rows precede a left row.
    """
    lcols = left.columns
    l_tagged = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[src].dataType).alias(f"__rv_{dst}")
          for dst, src in right_values.items()],
        F.lit(None).cast("long").alias("__rts"),
    )
    r_tagged = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in on],
        *[F.col(k) for k in on],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(src).alias(f"__rv_{dst}") for dst, src in right_values.items()],
        F.unix_micros(F.col(right_ts)).alias("__rts"),
    ).select(*lcols, "__ts", "__side", *[f"__rv_{d}" for d in right_values], "__rts")

    unioned = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        F.col("__ts"),
        F.col("__side"),
        *[
            F.last(f"__rv_{dst}", ignorenulls=True).over(w).alias(f"__c_{dst}")
            for dst in right_values
        ],
        F.last("__rts", ignorenulls=True).over(w).alias("__c_rts"),
    )
    out = carried.filter(F.col("__side") == 1)
    if tolerance_us is not None:
        within = (F.unix_micros(F.col("__ts")) - F.col("__c_rts")) <= F.lit(tolerance_us)
        out = out.select(
            *lcols,
            *[
                F.when(within, F.col(f"__c_{dst}")).alias(dst)
                for dst in right_values
            ],
        )
    else:
        out = out.select(*lcols, *[F.col(f"__c_{dst}").alias(dst) for dst in right_values])
    return out


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    window_us: int,
    how: str = "inner",
) -> DataFrame:
    """Join right rows with ``left_ts < right_ts <= left_ts + window_us``
    on equal keys, via time-bucketing.

    Each left row is duplicated into the 2 buckets its window can touch;
    the join condition is then (keys, bucket) equality + the exact range
    predicate. Bucket width == window width, so the candidate set per row
    is bounded by the traffic of 2 buckets — not the whole key history.
    """
    # Exact integer FLOOR division — not double `/` + cast (float
    # boundary rounding) and not plain SQL `div` (both truncate toward
    # zero, mis-bucketing pre-1970 timestamps across the -1/0 boundary).
    # pmod's non-negative remainder makes the numerator an exact multiple,
    # where truncation and floor agree.
    w = int(window_us)

    def _floor_bucket(ts_col: str) -> Column:
        return F.expr(
            f"(unix_micros(`{ts_col}`) - pmod(unix_micros(`{ts_col}`), {w})) div {w}"
        )

    bucket_l = _floor_bucket(left_ts)
    bucket_r = _floor_bucket(right_ts)

    l_b = left.withColumn(
        "__bucket", F.explode(F.array(bucket_l, bucket_l + 1))
    )
    r_b = right.withColumn("__bucket", bucket_r)

    range_cond = (F.unix_micros(r_b[right_ts]) > F.unix_micros(l_b[left_ts])) & (
        F.unix_micros(r_b[right_ts]) <= F.unix_micros(l_b[left_ts]) + F.lit(window_us)
    )
    cond = l_b["__bucket"] == r_b["__bucket"]
    for k in on:
        cond = cond & (l_b[k] == r_b[k])
    cond = cond & range_cond
    joined = l_b.join(r_b, on=cond, how=how)
    # Both sides carry __bucket; drop both copies (callers never need them).
    return joined.drop(l_b["__bucket"]).drop(r_b["__bucket"])


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_us: int,
    order_tiebreak: str,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous event for the key exceeds ``gap_us``. Adds ``session_id``
    (1-based per key). One shuffle on the key; both windows reuse it."""
    w = Window.partitionBy(key).orderBy(F.col(ts).asc(), F.col(order_tiebreak).asc())
    prev = F.lag(F.unix_micros(F.col(ts))).over(w)
    is_new = F.when(
        prev.isNull() | ((F.unix_micros(F.col(ts)) - prev) > F.lit(gap_us)), 1
    ).otherwise(0)
    return df.withColumn("__new", is_new).withColumn(
        "session_id",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("__new")


def tumbling_agg(
    df: DataFrame,
    ts: str,
    width: str,
    keys: list[str],
    aggs: list[Column],
) -> DataFrame:
    """Tumbling-window aggregation (batch twin of the streaming windowed
    agg): truncate to the window start and aggregate. ``width`` is a
    date_trunc unit (hour/day/...)."""
    return (
        df.withColumn("window_start", F.date_trunc(width, F.col(ts)))
        .groupBy("window_start", *keys)
        .agg(*aggs)
    )

def gapfill_forward_fill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    unit: str = "hour",
) -> DataFrame:
    """Densify each key's series to every ``unit`` between its first and
    last observation, carrying the last observed per-unit sum across
    silent periods (``is_gap`` marks synthesized rows) — the
    resample+ffill every metrics pipeline needs before rate/delta math.

    Scale shape: the dense axis comes from ``sequence()`` + ``explode``
    — rows generated executor-side, proportional to each key's own time
    span, never a driver loop or a global calendar cross-join. The fill
    is ``last(v, ignorenulls=true)`` over an UNBOUNDED PRECEDING row
    frame: one shuffle by key, no self-join. First-period rows always
    have an observation (the span starts at the key's first event), so
    ``v_filled`` is never null. Per-unit sums are exact decimal before
    the final double cast, so the carried value is engine-deterministic.

    The per-unit aggregate feeds TWO consumers (the dense axis and the
    join probe), and identical exchanges are not deduplicated across
    references on this engine (the verified q15/q11 finding) — so it is
    pinned: the RAW events table is scanned exactly once, and what
    persists is the aggregated frame (one row per key-period), not the
    input.

    Output: (<key_col>, <unit>, n_events, v_filled, is_gap).
    """
    from bcg_contacts_data_pipeline_spark.operators.pins import pin

    # `unit` is interpolated into an INTERVAL literal and becomes an
    # output column name — reject anything outside the supported set
    # loudly (epoch_repeat's style) instead of surfacing a Catalyst
    # parse error (or worse, a SQL-injection surface for a library API)
    allowed = {"hour", "day", "week", "month"}
    if unit not in allowed:
        raise ValueError(
            f"gapfill_forward_fill: unit must be one of {sorted(allowed)}, "
            f"got {unit!r}"
        )
    step = F.expr(f"INTERVAL 1 {unit.upper()}")
    agg = pin(
        df.groupBy(
            key_col, F.date_trunc(unit, F.col(ts_col)).alias("__t")
        )
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("__v"),
        )
    )
    # the dense axis descends from `agg` itself, so its columns get
    # fresh names — a same-name self-join would be ambiguous to resolve
    dense = (
        agg.groupBy(key_col)
        .agg(F.min("__t").alias("__t0"), F.max("__t").alias("__t1"))
        .select(
            F.col(key_col).alias("__k"),
            F.explode(F.sequence("__t0", "__t1", step)).alias(unit),
        )
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(unit)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        dense.join(
            agg,
            (F.col("__k") == agg[key_col]) & (F.col(unit) == agg["__t"]),
            "left",
        )
        .select(
            F.col("__k").alias(key_col),
            unit,
            F.coalesce(F.col("__n"), F.lit(0)).alias("n_events"),
            F.last(F.col("__v"), ignorenulls=True)
            .over(w)
            .cast("double")
            .alias("v_filled"),
            F.col("__t").isNull().alias("is_gap"),
        )
    )
