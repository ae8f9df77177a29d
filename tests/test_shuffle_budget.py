"""Shuffle-budget regression harness.

Every `groupBy`/`join`/`distinct`/`repartition` is a shuffle, and at
100 TB an extra shuffle is the difference between a plan that holds and
one that doesn't. The plan tests in test_plans.py pin *specific*
properties of specific queries; this file pins the TOTAL shuffle count
of the headline batch queries, so any future edit that silently adds an
exchange — a lost ReusedExchange, a join that stopped broadcasting, an
accidental repartition — fails loudly with a named budget to consciously
update instead of a quiet throughput cliff.

Counts are shuffle exchanges only (hash / range / single-partition);
broadcast exchanges are deliberately excluded — replacing a shuffle with
a broadcast is an improvement and should not trip the budget.

The budget asserts EQUALITY, not <=: an unexplained *decrease* is also
suspicious (it usually means a subtree was optimized away — verify the
semantics held, then lower the number here on purpose).
"""

import re

import pytest

from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"

_SHUFFLE = re.compile(
    r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)"
)

#: name -> number of shuffle exchanges in the executed plan at sf0.001.
BUDGET = {
    # TPC-H shapes: one aggregate shuffle each; joins broadcast
    "q1_pricing_summary": 1,
    "q3_shipping_priority": 1,
    "q5_region_revenue": 1,
    "q6_forecast_revenue": 1,
    "q13_customer_distribution": 2,  # per-customer agg + histogram agg
    "q19_disjunctive_revenue": 1,
    # reference-parity operators
    "dedup_merge": 1,
    # r14: one banded equi-join over exploded (combo, keys) rows
    # replaced the 3 pairwise probe joins (OPTIMIZATION_r14.md #13)
    "enrich_2of3": 4,
    "error_histogram": 1,
    "topk_parts_per_brand": 2,
    "profile_columns": 2,  # partial+final of the single fused agg
    # corpus/text family — expression-only ops must stay shuffle-free
    "token_stats": 0,
    "lang_quality": 0,
    "doc_chunks": 0,
    "hash_split": 0,
    "exact_dedup": 1,
    "fingerprint_dedup": 1,
    "filter_cascade": 1,  # the single gather to one summary row
    # event analytics
    "funnel_conversion": 2,
    "events_hourly": 2,  # distinct-agg expand is two-phase
    "sessionize": 1,
    # pinned hourly agg (one raw-table scan) + dense-axis agg + fill
    # window: one MORE small-frame shuffle than the unpinned form, one
    # FEWER full-table scan+agg — the right trade at scale
    "events_gapfill": 3,
    "cdc_upsert_orders": 1,
    "pack_shards": 3,
    # round-7 surface
    "q12_priority_shipping": 1,  # CASE aggs ride the one groupBy shuffle
    "q14_promo_revenue": 1,  # scalar agg SinglePartition; part broadcasts
    "q10_returned_items": 1,  # agg shuffle; top-20 is TakeOrderedAndProject
    "variant_nested_extract": 1,
    "scd2_order_status": 1,  # collapse+renumber+lead on ONE partitioning
    "event_rate_anomaly": 3,  # hourly agg + stats agg + stats join-back
    "bm25_topk": 1,  # corpus-stats SinglePartition; probe via broadcast
    # the final distance agg only: the block self-join broadcasts, and
    # the max_block cap (skew.cap_keys) counts block sizes in its own
    # jobs before the plan runs (its two count exchanges are real work
    # this budget does not see); the plan reads the checkpointed blocks
    # and broadcast-anti-joins the tiny over-cap set
    "fuzzy_contact_pairs": 1,
    "cube_order_stats": 1,  # Expand 4x map-side, partial agg pre-shuffle
    # the capped ngram pair generator reads its checkpointed shingles
    # (skew.cap_keys: the one shingle explode and the df count run in
    # the cap's own jobs, outside this plan) in three
    # consumers — sizes agg + shared agg + the SHUFFLE_HASH join sides
    # (each de-broadcast join shuffles both sides; the static
    # broadcasts OOM'd the 100x probe, PERF.md r10) — and the degree
    # rollup's endpoint explode + agg + outer join sit on top
    # (OPTIMIZATION_r14.md #2). Re-point this ONLY with a measured
    # justification.
    "neardup_degree_hist": 10,
    # round-7 continuation: the last three TPC-H shapes — every dim
    # broadcasts, the single exchange is the final groupBy's
    "q7_volume_shipping": 1,
    "q8_market_share": 1,
    "q9_product_profit": 1,
    # train-set distinct + per-eval-doc agg; the membership join
    # broadcasts at this SF (shuffle hash join at scale — still 0
    # extra exchanges: the join reuses the distinct's partitioning
    # only if keys align, and sh IS the distinct key)
    "contamination_score": 2,
    # daily sketch agg + union agg + the two-phase exact distinct (the
    # in-band verification harness; at scale callers drop the exact
    # column and this becomes 2)
    "hll_sketch_rollup": 4,
    # JL projection is a pure narrow projection — scan-speed at 100 TB
    "embedding_project": 0,
    # (label,dim) partial-agg shuffle + the size agg (broadcast-joined
    # back); output stays exploded so no reassembly shuffle remains
    "embedding_centroids": 2,
    # centroid build (2: the exploded form needs no size agg) + per-
    # vector argmin agg + contingency agg; the centroid attach is a
    # 10-row broadcast nested-loop (the scalar-attach pattern, k rows
    # per probe row — not a data shuffle)
    "kmeans_assign_step": 4,
    # min/max SinglePartition + the bucket agg; bounds attach is a
    # 1-row broadcast
    "value_histogram": 2,
    # textual count inflated by the pinned 5-row lang-stats aggregate:
    # the InMemoryRelation build plan (1 agg shuffle over 1 docs scan)
    # reprints at each of its consumers (q15 pattern — same exprIds,
    # ONE physical scan); the real data shuffles are the stats agg, the
    # tiny fold/join chain, and the kept-count agg
    "lang_rebalance_temperature": 8,
    # per-doc probability filter: narrow projection, shuffle-free
    "quality_weighted_sample": 0,
    # pinned edge list reprinted per consumer (q15 pattern) + the two
    # join-side exchanges per wedge/closing probe + three scalar counts
    # r14: wedges counted and closed in ONE left-join pass
    # (OPTIMIZATION_r14.md #8)
    "triangle_count": 6,
    # three physical passes (median, MAD, threshold count) + joins of
    # the pinned 5-row stats; textual count includes cached-build
    # reprints (2 distinct scan ids)
    "value_mad_outliers": 8,
    # first-seen agg + user_id join + distinct + cell agg/window; the
    # denominator rides a window over the tiny cell frame (offset-0
    # cell IS the cohort size - no second full aggregate)
    "retention_cohorts": 4,
    # 5 relationships x (total SinglePartition + anti-join count); the
    # dim sides broadcast, so each audit row costs exactly 2
    # r14: one left-join aggregate pass per fact table (3 frames)
    # instead of 5 total+anti pairs (OPTIMIZATION_r14.md #10)
    "fk_orphan_audit": 8,
    # total SinglePartition + digit agg; the 1-row total broadcasts
    "benford_digit_audit": 2,
    # rangepartitioning (printed twice via the pinned frame's reprint)
    # + the bounded per-partition count; NO single-partition window
    "orders_global_rank": 3,
    # the capped pair generator's chain over its checkpointed shingles
    # (sizes agg + shared agg + the SHUFFLE_HASH join sides, PERF.md
    # r10; the cap's df count runs in its own jobs) + split joins +
    # final cell agg
    "split_leakage_audit": 8,
    # leaf groupBy + the tiny region window exchange; parent total
    # derives from the 25-row child aggregate, never a second scan
    "revenue_share_rollup": 2,
    # user partitioning for lead() + cell agg + the tiny KxK window
    "event_transition_matrix": 3,
    # two partial-agg exchanges feeding the merge agg; each phase scan
    # carries its pushed date predicate
    "incremental_rollup_merge": 2,
    # bucket-prune agg + its tiny window + the candidate skyline window
    "skyline_pareto": 3,
    # threshold agg + per-class agg (printed twice: the pinned class
    # frame's cached subtree renders inline under each of its two
    # consumers) + totals gather
    "drift_split_audit": 5,
    # 2 data shuffles (per-order brand-set agg, marker agg); the pinned
    # marker-count subtree prints inline under all four consumers
    "basket_brand_lift": 8,
    # user-partition exchange is shared by window + per-user agg; day
    # agg + tiny gathers; pinned daily frame prints under two consumers
    "conversion_lag_curve": 8,
    # session agg reuses the sessionize user partitioning; hour equi-join
    # broadcasts the tiny error-window side; final per-session agg
    "session_error_overlap": 2,
    # (lang, tc) weight-grid agg + the lang-partition window exchange
    "lang_weighted_median": 2,
    # the one fused profile aggregate (partial + final single-partition)
    "profile_unpivot": 2,
    # df tagging + per-doc grid agg + candidate/verify joins; the
    # pinned per-doc array frame prints under its three consumers.
    # r10: +10 from the no-static-broadcast SHUFFLE_HASH pins — the
    # candidate and both verify joins shuffle both sides
    # (the old static broadcasts OOM'd at the 100x replica; PERF.md)
    # r14 opt: 19 -> 15 — the df groupBy(sh)+join-back became ONE
    # window count over the same sh partitioning, dropping the df-agg
    # exchange and the probe-side re-shuffle from the cached per_doc
    # subtree (OPTIMIZATION_r14.md change #22)
    "prefix_jaccard_pairs": 15,
    # hourly agg feeds both join sides (one exchange each) + final agg
    "seasonal_naive_backtest": 3,
    # xmin scalar gather + the one sufficient-statistics aggregate
    "trend_ols_by_type": 2,
    # decorrelated to distinct-brands agg + ranking window exchange
    "lateral_top_parts": 2,
    # deposit-build exchanges (fact agg + min gather + coalesce feed)
    # now print because the pinned frame renders inline; the recursion
    # itself still executes inside the UnionLoop node (not printed)
    "compound_balance_rcte": 4,
    # SQL UDFs inline: the single Q1-style aggregate exchange remains
    "sql_udf_pricing": 1,
    # collated-key distinct-agg expand is two-phase (partial + merge)
    "collation_group_dedup": 2,
    # one class-partitioned sort carries both relative-rank functions
    "order_percentile_position": 1,
    # one Expand pass + one aggregate exchange for all three slices
    "grouping_sets_revenue": 1,
    # three windows share one user partitioning
    "user_value_bookends": 1,
    # all try_* columns ride the single per-type aggregate
    "try_functions_audit": 1,
    # (group, bucket) bitmap agg + the per-group integer collapse
    "bitmap_distinct_users": 2,
    # serialize->from_csv->aggregate rides one groupBy exchange
    "csv_line_roundtrip": 1,
}


@pytest.mark.parametrize("name", sorted(BUDGET))
def test_shuffle_budget(spark, name):
    # Budgets are defined against a COLD cache: queries that pin a frame
    # (unscoped pin() -> session-lifetime persist) leave InMemoryRelations in
    # the shared test session, and Spark's cache manager substitutes any
    # matching subtree into later plan builds — so the printed exchange
    # count of the same query depends on which tests ran before it.
    # Clearing the SQL cache pins the measurement to the fresh-session
    # plan (the one the budgets document); performance-only pins from
    # already-finished tests lose nothing.
    spark.catalog.clearCache()
    plan = (
        QUERIES[name](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    got = len(_SHUFFLE.findall(plan))
    assert got == BUDGET[name], (
        f"{name}: {got} shuffle exchanges, budget says {BUDGET[name]} — "
        f"if the change is intentional, update BUDGET with a comment.\n{plan}"
    )
