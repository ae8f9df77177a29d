"""Shard packing: assign documents to fixed-token-budget training shards.

Contiguous packing in a stable document order: shard_id =
floor(tokens_before / budget), where tokens_before is the EXCLUSIVE
global running sum of per-doc token counts. Deterministic (pure function
of the ordered corpus), restart-safe, and SQL-expressible — which makes
it oracle-checkable, unlike bin-packing heuristics.

The global running sum is the interesting part at scale: a bare
``Window.orderBy`` with no partition key collapses to ONE task. This
implementation uses the two-pass partition-offset pattern (same shape as
operators/dedup.renumber): range-repartition on the order key so
partition i holds the globally-ordered slice i, compute per-partition
sums (one tiny driver collect — #partitions rows), then add the
broadcast offset to a partition-local running sum. No stage sees more
than one partition's rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.pins import pin


def global_running_sum(
    df: DataFrame,
    value: Column | str,
    order_by: Column | str,
    out_name: str = "running_sum",
    exclusive: bool = True,
) -> DataFrame:
    """Append the global running sum of ``value`` under a TOTAL order
    ``order_by`` (caller guarantees uniqueness — ties would make the
    result underdetermined). ``exclusive=True`` sums strictly-preceding
    rows (first row gets 0).

    Eager like renumber: the per-partition offset collect materializes
    the input. The persist is load-bearing for the same reason as there
    (range-boundary sampling must not be recomputed differently later) —
    and for the same reason it CANNOT be unpersisted before the caller
    materializes the result (the open PinScope releases it then).
    """
    v = F.col(value) if isinstance(value, str) else value
    o = F.col(order_by) if isinstance(order_by, str) else order_by
    parted = pin(
        df.select("*", v.cast("long").alias("__v"))
        .repartitionByRange(o)
        .select("*", F.spark_partition_id().alias("__pid"))
    )
    sums = parted.groupBy("__pid").agg(F.sum("__v").alias("s")).collect()
    offsets = {}
    running = 0
    for row in sorted(sums, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = running
        running += row["s"] or 0
    # Empty create_map() (zero-row input) is map<void,void> and fails to
    # resolve under a long key — fall back to a 0 literal (see renumber).
    offset_expr = (
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])[
            F.col("__pid")
        ]
        if offsets
        else F.lit(0)
    )
    frame = (
        Window.partitionBy("__pid")
        .orderBy(o)
        .rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    )
    local = F.coalesce(F.sum("__v").over(frame), F.lit(0))
    return parted.select(
        *df.columns,
        (offset_expr + local).cast("long").alias(out_name),
    )


def pack_shards(
    df: DataFrame,
    order_by: Column | str,
    size: Column | str,
    budget: int,
    shard_name: str = "shard_id",
) -> DataFrame:
    """Assign each row a shard id so consecutive rows (in ``order_by``
    order) fill each shard to ~``budget`` size units. A row larger than
    the budget gets its own shard(s) worth of space — contiguity is
    preserved, nothing is split or dropped."""
    with_sum = global_running_sum(
        df, size, order_by, out_name="__before", exclusive=True
    )
    # Integer `div`, not float `/` + cast: the running sum is a long that
    # can exceed 2^53 at corpus scale, where double division rounds and a
    # row sitting exactly on a budget boundary could land one shard off
    # the integer-division oracle (same rule as the events ns->us path).
    return with_sum.select(
        *df.columns,
        F.expr(f"`__before` div {int(budget)}").alias(shard_name),
    )
