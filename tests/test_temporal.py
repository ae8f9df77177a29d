"""Temporal operator tests: as-of join, bucketed range join, sessionize."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.temporal import (
    asof_join,
    range_join_bucketed,
    sessionize,
)


def ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


def test_asof_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, 100, ts(10)), (2, 100, ts(20)), (3, 200, ts(5))],
        "lid long, key long, lts timestamp",
    )
    right = spark.createDataFrame(
        [(100, ts(10), 1.0), (100, ts(15), 2.0), (200, ts(6), 9.0)],
        "key long, rts timestamp, val double",
    )
    out = asof_join(
        left, right, ["key"], "lts", "rts", right_values={"last_val": "val"}
    )
    got = {r["lid"]: r["last_val"] for r in out.collect()}
    assert got[1] == 1.0  # inclusive: rts == lts matches
    assert got[2] == 2.0  # most recent prior
    assert got[3] is None  # no right row at-or-before


def test_asof_tolerance(spark):
    left = spark.createDataFrame([(1, 1, ts(30))], "lid long, key long, lts timestamp")
    right = spark.createDataFrame([(1, ts(10), 5.0)], "key long, rts timestamp, val double")
    out = asof_join(
        left, right, ["key"], "lts", "rts", {"v": "val"},
        tolerance_us=10 * 60 * 1_000_000,
    )
    assert out.collect()[0]["v"] is None  # 20 min gap > 10 min tolerance


def test_range_join_matches_naive(spark):
    import random

    rng = random.Random(7)
    left = spark.createDataFrame(
        [(i, rng.randrange(3), ts(rng.randrange(50), rng.randrange(60))) for i in range(40)],
        "lid long, key long, lts timestamp",
    )
    right = spark.createDataFrame(
        [(i, rng.randrange(3), ts(rng.randrange(50), rng.randrange(60))) for i in range(60)],
        "rid long, key long, rts timestamp",
    )
    window_us = 5 * 60 * 1_000_000
    got = range_join_bucketed(
        left,
        right.select(F.col("rid"), F.col("key"), F.col("rts")),
        on=["key"],
        left_ts="lts",
        right_ts="rts",
        window_us=window_us,
    )
    got_pairs = {(r["lid"], r["rid"]) for r in got.collect()}
    # naive reference
    lrows = left.collect()
    rrows = right.collect()
    want = {
        (l["lid"], r["rid"])
        for l in lrows
        for r in rrows
        if l["key"] == r["key"]
        and l["lts"] < r["rts"] <= l["lts"] + dt.timedelta(microseconds=window_us)
    }
    assert got_pairs == want


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [
            (1, 7, ts(0)),
            (2, 7, ts(10)),   # 10 min gap < 30 -> same session
            (3, 7, ts(50)),   # 40 min gap -> new session
            (4, 8, ts(0)),    # different user -> own session
        ],
        "event_id long, user_id long, ts timestamp",
    )
    out = sessionize(df, "user_id", "ts", 30 * 60 * 1_000_000, "event_id")
    got = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert got[1] == 1 and got[2] == 1 and got[3] == 2 and got[4] == 1


def test_range_join_buckets_floor_pre_1970(spark):
    """Bucketing uses exact integer floor division: pre-1970 timestamps
    must not collapse into bucket 0 (double division + cast truncated
    toward zero)."""
    from bcg_contacts_data_pipeline_spark.operators.temporal import (
        range_join_bucketed,
    )
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, "1969-12-31 23:59:30")], "k int, ts_s string"
    ).select("k", F.to_timestamp("ts_s").alias("lts"))
    right = spark.createDataFrame(
        [(1, "1969-12-31 23:59:50"), (1, "1970-01-01 00:00:20")],
        "k int, ts_s string",
    ).select("k", F.to_timestamp("ts_s").alias("rts"))
    out = range_join_bucketed(
        left, right, on=["k"], left_ts="lts", right_ts="rts", window_us=60_000_000
    )
    # both right rows are within (lts, lts + 60s] and straddle the epoch
    assert out.count() == 2


def test_events_gapfill_fills_and_flags(spark):
    """The gap-fill query is registered under the shared registry the
    driver reads (the real behavior checks live in the sf0.001 shape
    test below and the DuckDB oracle)."""
    from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES
    from bcg_contacts_data_pipeline_spark.plans.q_temporal import (
        q_events_gapfill,
    )

    assert QUERIES["events_gapfill"] is q_events_gapfill


def test_events_gapfill_shape_on_sf0001(spark):
    from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES

    rows = QUERIES["events_gapfill"](spark, "/root/testdata/sf0.001").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert rows, "gapfill produced no rows"
    some_gap = False
    for user, urows in by_user.items():
        urows.sort(key=lambda r: r.hour)
        # dense axis: consecutive hours, no holes, no duplicates
        hours = [r.hour for r in urows]
        assert len(set(hours)) == len(hours)
        for a, b in zip(hours, hours[1:]):
            assert (b - a).total_seconds() == 3600, (user, a, b)
        # first row is an observation; fills are flagged and carry value
        assert not urows[0].is_gap
        assert urows[0].v_filled is not None
        for r in urows:
            if r.is_gap:
                some_gap = True
                assert r.n_events == 0
                assert r.v_filled is not None
    assert some_gap, "fixture produced no gaps — test is vacuous"


def test_gapfill_rejects_unknown_unit(spark):
    """`unit` is interpolated into an INTERVAL literal and used as an
    output column name, so an unsupported value must fail loudly as a
    ValueError at plan-build time, not as an obscure Catalyst parse
    error (or a SQL-injection surface for a library API)."""
    import pytest

    from bcg_contacts_data_pipeline_spark.operators.temporal import (
        gapfill_forward_fill,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0)], "k int, ts_s string, v double"
    ).select("k", F.to_timestamp("ts_s").alias("ts"), "v")
    with pytest.raises(ValueError, match="unit must be one of"):
        gapfill_forward_fill(df, "k", "ts", "v", unit="fortnight")
    with pytest.raises(ValueError, match="unit must be one of"):
        gapfill_forward_fill(df, "k", "ts", "v", unit="1 HOUR'); DROP --")
