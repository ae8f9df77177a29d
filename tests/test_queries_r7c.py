"""Tests for the round-7c analytic shapes (plans/queries_r7c.py):
skyline vs an O(n²) brute-force dominance model, basket lift vs a
Python itertools model, drift-audit invariants, and conversion-curve
ledger invariants. Real testdata correctness is covered by the DuckDB
oracle gate; these tests pin the *semantics* on adversarial tiny
inputs (ties, duplicates, censoring) the testdata may not exercise.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.plans.queries_r7c import (
    basket_brand_lift,
    conversion_lag_curve,
    drift_split_audit,
    skyline_pareto,
)

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# skyline_pareto
# ---------------------------------------------------------------------------


def brute_skyline(rows):
    """O(n²) strict-dominance model: keep r iff no q with q.price <=
    r.price and q.size >= r.size and at least one strict."""
    out = []
    for r in rows:
        dominated = any(
            q["price"] <= r["price"]
            and q["size"] >= r["size"]
            and (q["price"] < r["price"] or q["size"] > r["size"])
            for q in rows
        )
        if not dominated:
            out.append((r["pk"], r["size"]))
    return sorted(out)


def _run_skyline(spark, rows, tmp_path):
    """Write a minimal part table and run the registered query on it."""
    df = spark.createDataFrame(
        [
            (r["pk"], "B", f"Brand#{r['pk'] % 3}", "t", r["size"], r["price"])
            for r in rows
        ],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    df.write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    return skyline_pareto(spark, str(tmp_path))


def test_skyline_matches_bruteforce_with_ties(spark, tmp_path):
    # Deliberate adversarial structure: price ties, size ties, exact
    # duplicates, and a dominated row inside the cheapest bucket.
    rows = [
        {"pk": 1, "price": 900.10, "size": 10},
        {"pk": 2, "price": 900.10, "size": 12},  # same price, bigger
        {"pk": 3, "price": 900.10, "size": 12},  # exact duplicate pair
        {"pk": 4, "price": 905.00, "size": 12},  # pricier, same size: dominated
        {"pk": 5, "price": 905.00, "size": 20},
        {"pk": 6, "price": 990.00, "size": 20},  # dominated across buckets
        {"pk": 7, "price": 990.00, "size": 50},
        {"pk": 8, "price": 900.05, "size": 1},  # cheapest overall: survives
    ]
    got = sorted(
        (r["p_partkey"], r["p_size"])
        for r in _run_skyline(spark, rows, tmp_path).collect()
    )
    assert got == brute_skyline(rows)
    # Both duplicates survive (neither strictly dominates the other).
    assert (2, 12) in got and (3, 12) in got


def test_skyline_prune_is_lossless_on_testdata(spark):
    # The bucket prune must not drop any frontier row: compare against
    # a window-only evaluation of the same rule over the full table.
    full = spark.read.parquet(f"{SF_MED}/part.parquet").select(
        "p_partkey",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    rows = [(r.cents, r.p_size, r.p_partkey) for r in full.collect()]
    expect = set()
    for c, s, pk in rows:
        dominated = any(
            qc <= c and qs >= s and (qc < c or qs > s) for qc, qs, _ in rows
        )
        if not dominated:
            expect.add(pk)
    got = {
        r.p_partkey for r in skyline_pareto(spark, SF_MED).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# basket_brand_lift
# ---------------------------------------------------------------------------


def test_basket_lift_matches_python_model(spark):
    res = {
        (r.brand_a, r.brand_b): r
        for r in basket_brand_lift(spark, SF_SMALL).collect()
    }
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    pt = spark.read.parquet(f"{SF_SMALL}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    rows = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .collect()
    )
    baskets = {}
    for r in rows:
        baskets.setdefault(r.l_orderkey, set()).add(r.p_brand)
    n_orders = len(baskets)
    per = {}
    pair_n = {}
    for brands in baskets.values():
        for b in brands:
            per[b] = per.get(b, 0) + 1
        for x, y in itertools.combinations(sorted(brands), 2):
            pair_n[(x, y)] = pair_n.get((x, y), 0) + 1
    assert set(res) == set(pair_n)
    for (x, y), n_both in pair_n.items():
        r = res[(x, y)]
        assert r.n_both == n_both
        assert r.support == n_both / n_orders
        assert r.confidence_a_to_b == n_both / per[x]
        assert r.lift == (n_both * n_orders) / (per[x] * per[y])


def test_basket_pairs_bounded_by_order_width(spark):
    # Structural scale guarantee: pair rows = sum over orders of
    # C(width, 2). Order width is a per-entity property that does NOT
    # grow with table size (p99 = 9 in this corpus at every sf), so the
    # self-join output stays linear in orders. Pin both facts.
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    w = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_partkey").alias("w")
    )
    stats = w.agg(
        F.max("w").alias("mx"),
        F.expr("percentile_approx(w, 0.99)").alias("p99"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("w") * (F.col("w") - 1) / 2).alias("n_pairs"),
    ).collect()[0]
    assert stats.p99 <= 12  # heavy tail would make the self-join risky
    assert stats.mx <= 32
    # realized fan-out is a small constant factor over order count
    assert stats.n_pairs <= 40 * stats.n_orders


# ---------------------------------------------------------------------------
# drift_split_audit
# ---------------------------------------------------------------------------


def test_drift_shares_sum_to_one_and_bounds(spark):
    rows = drift_split_audit(spark, SF_SMALL).collect()
    assert abs(sum(r.share_first for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.share_second for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert 0.0 <= r.abs_diff <= 1.0
        assert 0.0 <= r.hellinger_term <= 2.0
        assert r.abs_diff == abs(r.share_first - r.share_second)
        # counts split the log exactly in two non-overlapping halves
        assert r.n_first >= 0 and r.n_second >= 0
    total = sum(r.n_first + r.n_second for r in rows)
    n_events = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    assert total == n_events


# ---------------------------------------------------------------------------
# conversion_lag_curve
# ---------------------------------------------------------------------------


def test_conversion_curve_ledger_invariants(spark):
    rows = sorted(
        conversion_lag_curve(spark, SF_SMALL).collect(), key=lambda r: r.day
    )
    n_total = rows[0].n_at_risk  # day-0 at-risk = whole cohort
    # at-risk ledger: each day's exits reduce the next day's population
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_at_risk == prev.n_at_risk - prev.n_conv - prev.n_cens
    # everyone exits exactly once
    assert sum(r.n_conv + r.n_cens for r in rows) == n_total
    # cohort = users with at least one view
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    n_viewers = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
        .count()
    )
    assert n_total == n_viewers
    # cumulative conversion is monotone, ends at converted/total
    cums = [r.cum_conversion for r in rows]
    assert all(a <= b + 1e-15 for a, b in zip(cums, cums[1:]))
    n_conv_total = sum(r.n_conv for r in rows)
    assert cums[-1] == n_conv_total / n_total


# ---------------------------------------------------------------------------
# pagerank_nation_flow
# ---------------------------------------------------------------------------


def test_pagerank_fixed_point_invariants(spark):
    from bcg_contacts_data_pipeline_spark.plans.queries_r7c import (
        pagerank_nation_flow,
    )

    rows = pagerank_nation_flow(spark, SF_SMALL).collect()
    n = len(rows)
    assert n == 25
    total = sum(r.rank_fp for r in rows)
    # Mass conservation up to truncation (dangling mass is
    # redistributed, not dropped): every DIV floors, and the dominant
    # loss is the per-source pfp deficit (sum of floored transition
    # probabilities falls ~|dsts| millionths short of 1.0), i.e. a few
    # 1e-5 of the mass per hop — far under 0.1% over 3 hops.
    assert total <= 10**12
    assert 10**12 - total < 10**9
    # Damping floor: no rank below 0.15/N
    floor = (15 * 10**12) // (100 * n)
    assert all(r.rank_fp >= floor for r in rows)
    # Fixed-point arithmetic is deterministic: a second run is identical
    again = {r.n_name: r.rank_fp for r in pagerank_nation_flow(spark, SF_SMALL).collect()}
    assert {r.n_name: r.rank_fp for r in rows} == again
    # display float is exactly the single division of the fp value
    for r in rows:
        assert r.rank == r.rank_fp / 1e12


# ---------------------------------------------------------------------------
# session_error_overlap
# ---------------------------------------------------------------------------


def test_session_error_overlap_matches_nonequi_model(spark):
    from bcg_contacts_data_pipeline_spark.plans.queries_r7c import (
        session_error_overlap,
    )

    # sf0.01, not sf0.001: the smaller corpus has NO hour with >= 5
    # errors, which would make this test a vacuous {} == {} pass.
    got = {
        (r.user_id, r.session_id): (r.n_err_windows, r.n_errors)
        for r in session_error_overlap(spark, SF_MED).collect()
    }
    assert got, "expected a non-empty overlap set at sf0.01"
    # Python replay with the ORACLE's non-equi overlap formulation
    # (s_start < w_end AND s_end >= w_start) over the same inputs.
    from bcg_contacts_data_pipeline_spark.io.events import read_events

    ev = (
        read_events(spark, SF_MED)
        .selectExpr("user_id", "event_type", "event_id", "unix_micros(ts) us")
        .collect()
    )
    by_user = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append((r.us, r.event_id))
    sessions = []
    for u, rows in by_user.items():
        rows.sort()
        sid, start, last = 0, None, None
        for us, _ in rows:
            if last is None or us - last > 1_800_000_000:
                if start is not None:
                    sessions.append((u, sid, start, last))
                sid += 1
                start = us
            last = us
        sessions.append((u, sid, start, last))
    hours = {}
    for r in ev:
        if r.event_type == "error":
            h = r.us // 3_600_000_000 * 3_600_000_000
            hours[h] = hours.get(h, 0) + 1
    wins = {h: n for h, n in hours.items() if n >= 5}
    expect = {}
    for u, sid, s, e in sessions:
        nw = [n for h, n in wins.items() if s < h + 3_600_000_000 and e >= h]
        if nw:
            expect[(u, sid)] = (len(nw), sum(nw))
    assert got == expect


# ---------------------------------------------------------------------------
# prefix_jaccard_pairs
# ---------------------------------------------------------------------------


def test_prefix_filter_lossless_and_pruning(spark):
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
        shingle_hash_frame,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    # Losslessness: identical pair set and identical exact stats as the
    # full inverted-index join at the same threshold.
    via_prefix = {
        (r.id_a, r.id_b): (r.shared, r.size_a, r.size_b)
        for r in prefix_filter_pairs(docs, "doc_id", "text", 3, 1, 2).collect()
    }
    via_full = {
        (r.id_a, r.id_b): (r.shared, r.size_a, r.size_b)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert via_prefix == via_full
    # Pruning: the prefix index must be materially smaller than the
    # full shingle index (roughly half at t=0.5), so the candidate
    # join runs over fewer postings.
    full_postings = shingle_hash_frame(docs, "doc_id", "text", 3).count()
    from pyspark.sql import functions as F2

    sizes = (
        shingle_hash_frame(docs, "doc_id", "text", 3)
        .groupBy("doc_id")
        .agg(F2.count(F2.lit(1)).alias("sz"))
        .selectExpr("sum(sz - ((sz + 1) DIV 2) + 1) AS prefix_postings")
        .collect()[0]
    )
    assert sizes.prefix_postings < 0.6 * full_postings


# ---------------------------------------------------------------------------
# stream_hourly_daily_rollup
# ---------------------------------------------------------------------------


def test_chained_stream_rollup_matches_batch_with_cutoff(spark):
    from bcg_contacts_data_pipeline_spark.io.events import read_events
    from bcg_contacts_data_pipeline_spark.plans.queries_r7c import (
        stream_hourly_daily_rollup,
    )

    got = {
        r.window_start: (r.n_events, r.n_active_hours)
        for r in stream_hourly_daily_rollup(spark, SF_SMALL).collect()
    }
    ev = read_events(spark, SF_SMALL)
    import datetime

    wm = ev.agg(F.max("ts")).collect()[0][0] - datetime.timedelta(hours=1)
    batch = (
        ev.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.date_trunc("hour", "ts")).alias("h"),
        )
        .collect()
    )
    expect = {
        r.d: (r.n, r.h)
        for r in batch
        if r.d + datetime.timedelta(days=1) <= wm
    }
    assert got == expect
    # the held-back day is exactly the stream head, nothing else
    held = {r.d for r in batch} - set(got)
    assert all(d + datetime.timedelta(days=1) > wm for d in held)
    assert len(held) in (1, 2)  # last day, plus maybe a boundary day


# ---------------------------------------------------------------------------
# lang_weighted_median
# ---------------------------------------------------------------------------


def test_weighted_median_matches_python_model(spark):
    from bcg_contacts_data_pipeline_spark.functions.text import token_count
    from bcg_contacts_data_pipeline_spark.plans.queries_r7c import (
        lang_weighted_median,
    )

    got = {
        r.lang: (r.weighted_median_tokens, r.total_weight)
        for r in lang_weighted_median(spark, SF_SMALL).collect()
    }
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("lang", token_count("text").alias("tc"), "n_chars")
        .collect()
    )
    by_lang = {}
    for r in docs:
        by_lang.setdefault(r.lang, []).append((r.tc, r.n_chars))
    expect = {}
    for lang, rows in by_lang.items():
        rows.sort()
        tot = sum(w for _, w in rows)
        cum = 0
        for tc, w in rows:
            cum += w
            if 2 * cum >= tot:
                expect[lang] = (tc, tot)
                break
    assert got == expect


# ---------------------------------------------------------------------------
# seasonal_naive_backtest / trend_ols_by_type
# ---------------------------------------------------------------------------


def test_seasonal_backtest_alignment_is_gap_safe(spark):
    from bcg_contacts_data_pipeline_spark.io.events import read_events
    from bcg_contacts_data_pipeline_spark.plans.queries_r7c import (
        seasonal_naive_backtest,
    )

    got = {
        r.event_type: r for r in seasonal_naive_backtest(spark, SF_SMALL).collect()
    }
    hourly = {}
    for r in (
        read_events(spark, SF_SMALL)
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        hourly[(r.event_type, r.h)] = r.n
    import datetime

    week = datetime.timedelta(hours=168)
    expect = {}
    for (t, h), n in hourly.items():
        p = hourly.get((t, h - week))
        if p is not None:
            e = expect.setdefault(t, [0, 0, 0])
            e[0] += 1
            e[1] += abs(n - p)
            e[2] += 1 if n == p else 0
    for t, (cnt, err, hits) in expect.items():
        r = got[t]
        assert (r.n_forecasts, r.total_abs_err, r.n_exact_hits) == (cnt, err, hits)
        assert r.mae == err / cnt


def test_ols_matches_numpy_and_merges(spark):
    import numpy as np

    from bcg_contacts_data_pipeline_spark.io.events import read_events
    from bcg_contacts_data_pipeline_spark.plans.queries_r7c import (
        trend_ols_by_type,
    )

    got = {r.event_type: r for r in trend_ols_by_type(spark, SF_SMALL).collect()}
    ev = (
        read_events(spark, SF_SMALL)
        .filter(F.col("value").isNotNull())
        .selectExpr("event_type", "unix_micros(ts) DIV 1000000 AS xs", "value")
        .collect()
    )
    xmin = min(r.xs for r in ev)
    by_type = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append((r.xs - xmin, r.value))
    for t, pts in by_type.items():
        x = np.array([p[0] for p in pts], dtype=float)
        # same quantization as the engine's decimal(18,4) accumulate
        y = np.array([round(p[1], 4) for p in pts], dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        assert abs(got[t].slope - slope) < 1e-9 * max(1.0, abs(slope))
        assert abs(got[t].intercept - intercept) < 1e-6 * max(1.0, abs(intercept))
        # mergeable sufficient statistics: n/sx/sxx add componentwise
        assert got[t].n == len(pts)
        assert got[t].sx == sum(p[0] for p in pts)
        assert got[t].sxx == sum(p[0] * p[0] for p in pts)
    # Spark's built-in regr_slope agrees within float-summation noise —
    # it accumulates raw doubles (order-dependent), which is exactly why
    # the certified query uses exact sufficient statistics instead.
    builtin = {
        r.event_type: r.s
        for r in (
            read_events(spark, SF_SMALL)
            .filter(F.col("value").isNotNull())
            .selectExpr(
                "event_type",
                "CAST(unix_micros(ts) DIV 1000000 AS DOUBLE) AS x",
                "CAST(round(value, 4) AS DOUBLE) AS y",
            )
            .groupBy("event_type")
            .agg(F.expr("regr_slope(y, x)").alias("s"))
            .collect()
        )
    }
    for t in got:
        assert abs(builtin[t] - got[t].slope) < 1e-6 * max(
            1.0, abs(got[t].slope)
        )


def test_prefix_filter_rejects_bad_threshold(spark):
    import pytest as _pytest

    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        prefix_filter_pairs,
    )

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    for t_num, t_den in [(0, 2), (3, 2), (1, 0), (-1, 2)]:
        with _pytest.raises(ValueError, match="prefix_filter_pairs"):
            prefix_filter_pairs(docs, "doc_id", "text", 3, t_num, t_den)


# ---------------------------------------------------------------------------
# compound_balance_rcte
# ---------------------------------------------------------------------------


def test_compound_balance_matches_python_recurrence(spark):
    from bcg_contacts_data_pipeline_spark.plans.queries_r7c import (
        compound_balance_rcte,
    )

    got = {
        (r.r_name, r.m): r.balance
        for r in compound_balance_rcte(spark, SF_SMALL).collect()
    }
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    c = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    n = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    rg = spark.read.parquet(f"{SF_SMALL}/region.parquet")
    rows = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(rg, n.n_regionkey == rg.r_regionkey)
        .selectExpr(
            "r_name",
            "year(o_orderdate) AS ym",
            "CAST(o_totalprice AS DECIMAL(18,4)) AS p",
        )
        .collect()
    )
    from collections import defaultdict
    from decimal import Decimal

    dep = defaultdict(Decimal)
    for r in rows:
        dep[(r.r_name, r.ym)] += r.p
    ym0 = min(ym for _, ym in dep)
    mmax = max(ym for _, ym in dep) - ym0
    regions = {r.r_name for r in rg.collect()}
    expect = {}
    for reg in regions:
        bal = 0
        for m in range(0, mmax + 1):
            d = dep.get((reg, m + ym0))
            cents = int((d * 100).to_integral_value()) if d is not None else 0
            bal = bal + bal // 10 + cents
            expect[(reg, m)] = bal
    assert got == expect


def test_csv_roundtrip_preserves_nulls(spark, tmp_path):
    """NULL fields must serialize as EMPTY TSV fields, not vanish:
    concat_ws drops null args, which would shift every later field
    left (a NULL c_name would make nationkey parse as the name). Pin
    the lossless round trip on a null-bearing customer table — one
    NULL per column position plus a dense row."""
    from bcg_contacts_data_pipeline_spark.plans.queries_r7c import (
        csv_line_roundtrip,
    )

    rows = [
        ("Customer#1", 5, 100.5),
        (None, 5, 200.25),  # NULL name: nationkey must NOT shift into name
        ("Customer#3", 5, None),  # NULL balance
        ("Customer#4", 7, 50.0),
    ]
    spark.createDataFrame(
        rows, "c_name string, c_nationkey int, c_acctbal double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")

    got = {
        r.c_nationkey: (r.n, r.sum_bal, r.n_names)
        for r in csv_line_roundtrip(spark, str(tmp_path)).collect()
    }
    assert got == {
        5: (3, 300.75, 2),  # NULL balance excluded from sum, NULL name from n_names
        7: (1, 50.0, 1),
    }


def test_prefix_filter_incremental_probe_mode(spark):
    """probe_pred switches candidate generation to the daily-crawl shape
    (probe x all). Correctness law: the result must equal the FULL pair
    set restricted to pairs with a probe member — identical ids AND
    identical exact stats — and must never emit a history x history
    pair even when such pairs exist above threshold."""
    from pyspark.sql import functions as F2

    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        prefix_filter_pairs,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    is_new = lambda c: c % 10 == 0  # noqa: E731

    inc = {
        (r.id_a, r.id_b): (r.shared, r.size_a, r.size_b, r.jaccard)
        for r in prefix_filter_pairs(
            docs, "doc_id", "text", 3, 1, 2, probe_pred=is_new
        ).collect()
    }
    full = {
        (r.id_a, r.id_b): (r.shared, r.size_a, r.size_b, r.jaccard)
        for r in prefix_filter_pairs(docs, "doc_id", "text", 3, 1, 2).collect()
    }
    want = {
        pair: stats
        for pair, stats in full.items()
        if pair[0] % 10 == 0 or pair[1] % 10 == 0
    }
    assert inc == want
    # the restriction is real at this SF: some full pairs are history-only
    assert len(want) < len(full)
    # and the probe side generates strictly fewer candidate postings than
    # the full self-join would (the point of the incremental shape)
    assert all(a % 10 == 0 or b % 10 == 0 for a, b in inc)
