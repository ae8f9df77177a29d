"""Physical-plan assertions: the scale-critical plan properties are
load-bearing, so they are tested, not just eyeballed once.

- filters reach the parquet scan (PushedFilters)
- projections prune the read schema (ReadSchema)
- dimension joins broadcast (BroadcastHashJoin), fact joins don't
  broadcast the fact side
- expression-only operators stay inside WholeStageCodegen with no
  exchange
"""

import os
import pkgutil
import subprocess
import sys

import pytest

from bcg_contacts_data_pipeline_spark import plans as plans_pkg
from bcg_contacts_data_pipeline_spark.plans.queries import ORACLE, QUERIES

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    return {
        name: _plan(QUERIES[name](spark, SF))
        for name in [
            "q1_pricing_summary",
            "q3_shipping_priority",
            "q5_region_revenue",
            "enrich_2of3",
            "token_stats",
            "norm_scalars",
        ]
    }


def test_q3_filters_pushed_to_scan(plans):
    p = plans["q3_shipping_priority"]
    assert "PushedFilters" in p
    # the selective date/segment predicates must reach the scans
    assert "o_orderdate" in p.split("PushedFilters", 2)[-1] or (
        "LessThan(o_orderdate" in p or "GreaterThan(l_shipdate" in p
    )


def test_q1_read_schema_pruned(plans):
    p = plans["q1_pricing_summary"]
    # lineitem has 16 columns; Q1 needs 7. The scan must not read more.
    read = p.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_comment" not in read and "l_partkey" not in read


def test_q5_broadcasts_dimensions(plans):
    p = plans["q5_region_revenue"]
    assert "BroadcastHashJoin" in p
    # the lineitem fact side must never be broadcast
    for line in p.splitlines():
        if "BroadcastExchange" in line:
            assert "lineitem" not in line


def test_enrich_broadcasts_source(plans):
    """k-of-n enrichment: the small source side broadcasts; the master
    table is never exchanged for the match joins themselves."""
    assert "BroadcastHashJoin" in plans["enrich_2of3"]


def test_expression_only_ops_have_no_exchange(plans):
    for name in ("token_stats", "norm_scalars"):
        p = plans[name]
        assert "Exchange" not in p, f"{name} should be shuffle-free:\n{p}"
        # whole-stage-codegen'd nodes print with a "*(n)" prefix
        assert "*(1)" in p, f"{name} not codegen'd:\n{p}"


def test_no_rowwise_python_udf_on_reference_surface(plans):
    """The reference-derived operators compile to pure Catalyst plans:
    no BatchEvalPython (row-wise UDF) anywhere; Python appears only in
    the Arrow-batched similarity/multimodal/streaming operators."""
    for name, p in plans.items():
        assert "BatchEvalPython" not in p, name


def test_ann_lsh_plan_ships_no_vector_pairs(spark):
    """The ANN-LSH physical plan must score inside a per-bucket cogroup
    (FlatMapGroupsInPandas), never via a candidate-pair join that ships
    both 64-float vectors per pair through a shuffle — the O(N^2/buckets)
    pair-materialization shape is the known 100 TB anti-pattern here.
    Asserted structurally: the plan contains no join node at all, and no
    plan node's output schema carries two vector-typed columns."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_ann_lsh,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = embedding_ann_lsh(
        emb, "vec_id", "embedding", dim=64, k=5, num_planes=6
    )
    p = _plan(out)
    assert "Join" not in p, f"ANN-LSH plan contains a join:\n{p}"
    assert "FlatMapGroupsInPandas" in p
    # belt and braces: no operator line exposes two array<...> outputs
    for line in p.splitlines():
        assert line.count("array<") < 2, f"two vector columns in one node:\n{line}"


def test_lsh_num_planes_formula():
    """The documented recall/cost dial: planes = ceil(log2(n/target)),
    clamped to [1, 30] — expected bucket occupancy stays <= target, so
    in-bucket cost is bounded as the corpus grows."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        lsh_num_planes,
    )

    assert lsh_num_planes(100) == 1  # tiny corpus -> 2 buckets minimum
    assert lsh_num_planes(4096 * 8) == 3  # 8 buckets of ~4096
    assert lsh_num_planes(10**9) == 18  # the docstring's headline case
    assert lsh_num_planes(10**12) <= 30  # clamp
    # monotone non-decreasing in corpus size
    sizes = [10**i for i in range(2, 13)]
    planes = [lsh_num_planes(n) for n in sizes]
    assert planes == sorted(planes)


def test_new_projection_ops_shuffle_free(spark):
    """pii_scan, repetition_filter, hash_split are narrow projections —
    any Exchange in their plans is a regression (these run over the full
    100 TB documents table)."""
    for name in ("pii_scan", "repetition_filter", "hash_split"):
        p = _plan(QUERIES[name](spark, SF))
        assert "Exchange" not in p, f"{name} should be shuffle-free:\n{p}"
        assert "BatchEvalPython" not in p, name


def test_profile_columns_single_aggregation_job(spark):
    """profile_columns fuses all per-column stats into ONE aggregate over
    ONE scan — no union of per-column jobs (N columns used to mean N
    scheduler round-trips). The plan must contain exactly one parquet
    scan and no Union node."""
    p = _plan(QUERIES["profile_columns"](spark, SF))
    assert "Union" not in p, p
    assert p.count("Scan parquet") == 1, p


def test_tfidf_vocabulary_join_not_force_broadcast(spark):
    """TF-IDF: the document-frequency join must NOT carry a forced
    broadcast hint — the vocabulary of a scraped 100 TB corpus is
    unbounded, so a hint would OOM the driver regardless of AQE. The
    ONLY hinted broadcast allowed in the optimized plan is the one-row
    corpus-count scalar (crossJoin). At runtime AQE may still
    broadcast-convert the df join when its measured size is small —
    that's the desired adaptive behavior, not a hint."""
    df = QUERIES["tfidf_top_terms"](spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("strategy=broadcast") == 1, logical
    # the hinted join must be the 1-row scalar (a cross/nested-loop
    # shape), never the equi-join on `term`
    for line in logical.splitlines():
        if "strategy=broadcast" in line:
            assert "term" not in line, line


def test_q6_all_predicates_and_projection_reach_scan(spark):
    """TPC-H Q6 is the pushdown benchmark: every filter lands in
    PushedFilters and the scan reads only the 4 needed columns."""
    p = _plan(QUERIES["q6_forecast_revenue"](spark, SF))
    pushed = p.split("PushedFilters:", 1)[1].splitlines()[0]
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pushed, f"{c} not pushed: {pushed}"
    read = p.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_extendedprice" in read
    for c in ("l_orderkey", "l_tax", "l_returnflag"):
        assert c not in read, f"scan reads unneeded {c}: {read}"


def test_q18_joins_not_forced(spark):
    """The post-HAVING side is tiny; join strategy is AQE's call — the
    plan must carry no user broadcast hint (ResolvedHint at the logical
    level / a hint-tagged join). At sf scale local stats may or may not
    trigger broadcast conversion; what we pin is that WE didn't force it."""
    df = QUERIES["q18_large_orders"](spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical


def test_corpus_curation_ops_shuffle_free(spark):
    """Chunking, stratified sampling, and epoch mixing are narrow
    plans: filters/explodes only, no Exchange anywhere."""
    for name in ("doc_chunks", "stratified_sample", "corpus_mix"):
        p = _plan(QUERIES[name](spark, SF))
        assert "Exchange" not in p, f"{name} should be shuffle-free:\n{p}"


def test_cdc_upsert_partial_aggregates_before_exchange(spark):
    """Latest-wins merge must combine map-side: a partial_max_by (or
    partial agg node) appears UPSTREAM of the exchange so the shuffle
    carries one row per (partition, key)."""
    p = _plan(QUERIES["cdc_upsert_orders"](spark, SF))
    assert "Exchange hashpartitioning(o_orderkey" in p
    # Children print BELOW their parent: the partial aggregate must be in
    # the text after the exchange line (the map side).
    _, _, below = p.partition("Exchange hashpartitioning(o_orderkey")
    assert "partial_max_by" in below


def test_filter_cascade_single_scan(spark):
    """Per-stage survival counts must come from ONE scan + one global
    aggregate — not a filtered re-scan per stage."""
    p = _plan(QUERIES["filter_cascade"](spark, SF))
    assert p.count("FileScan") == 1, p
    assert p.count("Exchange") <= 1, p  # only the SinglePartition gather


def test_funnel_single_user_shuffle(spark):
    """The funnel gathers events per user exactly once; stage times are
    array expressions over that one grouped pass."""
    p = _plan(QUERIES["funnel_conversion"](spark, SF))
    assert p.count("FileScan") == 1, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_q17_subquery_decorrelated(spark):
    """The correlated scalar subquery must be rewritten to an aggregate
    + join: per-part averages computed once, no per-row subquery
    execution surviving into the physical plan."""
    p = _plan(QUERIES["q17_small_qty_revenue"](spark, SF))
    assert "Subquery" not in p, p
    assert "Join" in p
    assert "partial_avg" in p  # the decorrelated aggregate, map-side


def _scan_filters(plan: str) -> list[tuple[str, str]]:
    """(DataFilters, PushedFilters) contents per FileScan line.

    Each FileScan renders as one line containing bracketed
    ``DataFilters: [...]`` and ``PushedFilters: [...]`` sections; a
    substring search over the whole remainder of the plan would always
    find column names via ReadSchema (which lists every column merely
    READ), so pushdown assertions must look inside the brackets only.
    """
    import re

    out = []
    for line in plan.splitlines():
        if "FileScan" not in line:
            continue
        # long filter lists render truncated ("..." with no closing
        # bracket), so capture up to the next section marker instead
        df = re.search(r"DataFilters: \[(.*?), Format:", line)
        pf = re.search(r"PushedFilters: \[(.*?), ReadSchema:", line)
        out.append((df.group(1) if df else "", pf.group(1) if pf else ""))
    return out


def test_q4_exists_becomes_semi_join(spark):
    """The correlated EXISTS must compile to a LEFT SEMI join carrying
    the non-equi ship-lag condition — no subquery node, no distinct —
    with the quarter filter pushed into the orders scan itself."""
    p = _plan(QUERIES["q4_order_priority"](spark, SF))
    assert "Subquery" not in p, p
    assert "LeftSemi" in p, p
    assert any("o_orderdate" in df for df, _ in _scan_filters(p)), p


def test_q16_not_in_becomes_anti_join(spark):
    """NOT IN over non-null keys must execute as a plain LEFT ANTI join
    against the blocklist; the distinct count runs as the two-level
    aggregate (group+key partial, then count), never a per-group set."""
    p = _plan(QUERIES["q16_supplier_counts"](spark, SF))
    assert "Subquery" not in p, p
    assert "LeftAnti" in p, p
    assert "count(distinct l_suppkey" in p, p


def test_q21_exists_pair_becomes_semi_plus_anti(spark):
    """The EXISTS / NOT EXISTS pair must compile to one LEFT SEMI and
    one LEFT ANTI join on l_orderkey, each with its supplier-inequality
    residual (the anti side also correlating on o_orderdate from the
    outer join); nothing row-at-a-time survives."""
    p = _plan(QUERIES["q21_waiting_suppliers"](spark, SF))
    assert "Subquery" not in p, p
    assert "LeftSemi" in p, p
    assert "LeftAnti" in p, p
    # the status filter must prune the orders scan before any join
    assert any(
        "o_orderstatus" in df and "= F" in df
        for df, _ in _scan_filters(p)
    ), p


def test_q19_or_branches_prune_both_scans(spark):
    """The OR-of-conjuncts must CNF-decompose: quantity bounds pushed to
    the lineitem scan, brand/size bounds to the part scan, and the join
    a broadcast hash join on p_partkey — not a filtered cartesian."""
    p = _plan(QUERIES["q19_disjunctive_revenue"](spark, SF))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, p
    filters = _scan_filters(p)
    assert any("l_quantity#" in df for df, _ in filters), p
    assert any("p_brand" in df and "p_size" in df for df, _ in filters), p


def test_q13_outer_join_preserved(spark):
    """The priority exclusion lives in the JOIN condition: the plan must
    keep a LeftOuter join (zero-order customers populate bucket 0) and
    push the priority filter only to the orders side."""
    p = _plan(QUERIES["q13_customer_distribution"](spark, SF))
    assert "LeftOuter" in p, p
    # customer scan must NOT be filtered on the orders predicate
    cust_scan = [
        seg.splitlines()[0]
        for seg in p.split("FileScan parquet ")
        if seg.startswith("[c_")
    ]
    assert cust_scan and "o_orderpriority" not in cust_scan[0], p


def test_q15_single_fact_scan(spark):
    """The argmax-over-view must NOT execute the revenue aggregation
    twice: the per-supplier aggregate is pinned, so exactly one
    lineitem scan appears in the plan (the textbook CTE form runs the
    fact scan once per view reference — verified unreused even by AQE)."""
    p = _plan(QUERIES["q15_top_supplier"](spark, SF))
    # both consumers must read the cache, not the file
    assert p.count("InMemoryTableScan") >= 2, p
    # an InMemoryRelation prints its ONE build plan at every reference,
    # so the same FileScan line (same exprIds) may appear repeatedly;
    # what must not exist is a SECOND DISTINCT lineitem scan (different
    # exprIds = an uncached re-execution, the unreused-CTE shape)
    import re

    ids = {
        m.group(1)
        for line in p.splitlines()
        if "FileScan" in line and "lineitem" in line
        and (m := re.search(r"\[l_suppkey#(\d+)L", line))
    }
    assert len(ids) == 1, p


def test_q11_single_fact_scan(spark):
    """The threshold form must not re-execute the join+agg for the
    total: one distinct lineitem scan (same pinned-aggregate pattern,
    and the same verified non-reuse rationale, as q15)."""
    import re

    p = _plan(QUERIES["q11_part_value_threshold"](spark, SF))
    assert p.count("InMemoryTableScan") >= 2, p
    ids = {
        m.group(1)
        for line in p.splitlines()
        if "FileScan" in line and "lineitem" in line
        and (m := re.search(r"\[l_partkey#(\d+)L", line))
    }
    assert len(ids) == 1, p


def test_q2_join_subquery_decorrelated(spark):
    """The correlated MIN-over-a-JOIN subquery must be rewritten to a
    grouped aggregate over the join, probed back by p_partkey — no
    per-row subquery node survives into the physical plan."""
    p = _plan(QUERIES["q2_min_price_supplier"](spark, SF))
    assert "Subquery" not in p, p
    assert "partial_min" in p, p  # decorrelated aggregate, map side


def test_gapfill_single_raw_scan(spark):
    """The per-unit aggregate feeds the dense axis AND the join probe;
    it must be pinned so the raw events table is scanned once (the
    q15/q11 non-reuse finding applied to the operator)."""
    import re

    p = _plan(QUERIES["events_gapfill"](spark, SF))
    assert p.count("InMemoryTableScan") >= 2, p
    ids = {
        re.search(r"#(\d+)L?", line).group(1)
        for line in p.splitlines()
        if "FileScan" in line and "events" in line
    }
    assert len(ids) == 1, p


def test_q20_semi_over_aggregate_with_pushed_prefix(spark):
    """The IN-over-aggregate must compile to a LEFT SEMI whose build
    side is the join+agg+HAVING — no subquery node — with the prefix
    LIKE reaching the part scan as a StartsWith pushdown."""
    p = _plan(QUERIES["q20_heavy_shippers"](spark, SF))
    assert "Subquery" not in p, p
    assert "LeftSemi" in p, p
    assert any(
        "StartsWith(p_name,blue)" in pf for _, pf in _scan_filters(p)
    ), p


def test_variant_stats_stays_jvm_side(spark):
    """VariantType path access must not fall back to Python: no
    BatchEvalPython, single events scan, one aggregation."""
    p = _plan(QUERIES["variant_props_stats"](spark, SF))
    assert "BatchEvalPython" not in p, p
    assert p.count("FileScan") == 1, p


def test_q12_case_agg_single_shuffle(spark):
    """Q12's two CASE-conditional SUMs must compute in ONE grouped
    aggregation: exactly one data shuffle (the groupBy's), partial
    aggregation upstream of it, and no self-join/double fact scan (the
    naive two-query form). The lineitem-orders join broadcasts at this
    SF, so every Exchange in the plan belongs to the aggregation."""
    p = _plan(QUERIES["q12_priority_shipping"](spark, SF))
    import re

    data_exchanges = [
        line for line in p.splitlines()
        if re.search(r"\bExchange hashpartitioning", line)
    ]
    assert len(data_exchanges) == 1, p
    assert "partial_sum" in p, p
    assert p.count("FileScan") == 2, p  # one lineitem, one orders


def test_q14_case_agg_no_extra_nodes(spark):
    """Q14's CASE-guarded numerator must ride the same scalar aggregate
    as the denominator: one SinglePartition exchange, partial_sum map-
    side, part side broadcast, and the ship-month filter pushed to the
    lineitem scan."""
    p = _plan(QUERIES["q14_promo_revenue"](spark, SF))
    assert p.count("Exchange SinglePartition") == 1, p
    assert "Exchange hashpartitioning" not in p, p
    assert "partial_sum" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in p, p


def test_q10_limit_pushed_into_take_ordered(spark):
    """Q10's ORDER BY + LIMIT 20 must compile to TakeOrderedAndProject
    (per-partition 20-row heaps merged on the driver), NOT a global
    Sort feeding a Limit — at 100 TB the aggregate output is millions
    of customer rows and a full sort shuffle for a 20-row answer is the
    classic anti-plan."""
    p = _plan(QUERIES["q10_returned_items"](spark, SF))
    assert "TakeOrderedAndProject" in p, p
    # no global sort node outside the top-k operator
    assert "Sort [revenue" not in p, p


def test_plans_md_not_drifted(spark):
    """PLANS.md is a generated fact sheet; nothing forced it to track
    the code until now. Regenerate the row for a pinned sample of
    queries and diff the scans/shuffles/bcast/py-rows columns against
    the committed file. Building a row runs the build-time jobs of
    queries that checkpoint or collect while building (the contacts
    pipeline's stage boundaries, the near-dup cap); ``plan_row`` builds
    inside a ``PinScope``, so what they materialize is released.
    On mismatch: run `python tools/plan_report.py` and commit the
    regenerated PLANS.md alongside the plan change."""
    import re
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from plan_report import plan_row

    committed = {}
    with open(os.path.join(ROOT, "PLANS.md")) as f:
        for line in f:
            m = re.match(r"\| (\w+) \| (\S+) \| (\S+) \| (\S+) \| (\S+) \|", line)
            if m:
                committed[m.group(1)] = m.groups()[1:5]

    pinned = [
        "q1_pricing_summary", "dedup_merge", "enrich_2of3",
        "contacts_pipeline_e2e", "neardup_prune", "ngram_jaccard",
        "events_gapfill", "pack_shards", "topk_parts_per_brand",
        "q10_returned_items", "q12_priority_shipping", "q14_promo_revenue",
        "variant_nested_extract",
    ]
    drifted = {}
    for name in pinned:
        assert name in committed, f"{name} missing from PLANS.md — regenerate it"
        row = plan_row(spark, name, QUERIES[name], SF)
        if row[1:5] != committed[name]:
            drifted[name] = {"committed": committed[name], "actual": row[1:5]}
    assert not drifted, f"PLANS.md drifted — rerun tools/plan_report.py: {drifted}"


def test_scd2_single_shuffle_and_sort(spark):
    """The SCD2 build is windows-over-one-partitioning: collapse filter,
    renumber, and lead() must all ride ONE hash exchange of the orders
    scan — a second exchange or scan means the window specs diverged."""
    p = _plan(QUERIES["scd2_order_status"](spark, SF))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("FileScan") == 1, p


def test_event_rate_anomaly_single_events_scan(spark):
    """The hourly aggregate feeds two consumers (per-type stats + probe
    side); it is pinned, so both read the cache and only one DISTINCT
    events scan exists (the InMemoryRelation build plan reprints its
    scan line at each reference — same exprIds, the q15 pattern)."""
    import re

    p = _plan(QUERIES["event_rate_anomaly"](spark, SF))
    assert p.count("InMemoryTableScan") >= 2, p
    ids = {
        m.group(1)
        for line in p.splitlines()
        if "FileScan" in line and "events" in line
        and (m := re.search(r"\[event_id#(\d+)L", line))
    }
    assert len(ids) <= 1, p


def test_q7_disjunctive_pair_stays_hash_join(spark):
    """Q7's nation-pair predicate references columns from two different
    dimension joins, so it can't push below either one — but each
    nation lookup must STAY an equi-hash-join with the disjunction as a
    residual (or post-join filter), never degrade to a nested-loop
    join. One shuffle total: the aggregation's."""
    p = _plan(QUERIES["q7_volume_shipping"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") == 5, p
    assert "partial_sum" in p, p
    # ship-date band reaches the lineitem scan
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in p, p


def test_q8_widest_join_all_dims_broadcast(spark):
    """Q8 joins the fact against five dimensions plus orders with
    nation in two roles; at this SF every dim side broadcasts (zero
    dim-side shuffles — the only hash exchange is the year groupBy's).
    Only the BOUNDED dims (filtered part, nation, filtered region)
    carry explicit hints — customer/supplier broadcast here via the
    optimizer's own size check, which degrades to a shuffle join at
    scale instead of OOMing like a hard hint would. Both selective dim
    filters (p_type, r_name) must prune their build sides before
    broadcast."""
    p = _plan(QUERIES["q8_market_share"](spark, SF))
    assert p.count("BroadcastHashJoin") == 7, p
    import re

    data_exchanges = [
        line for line in p.splitlines()
        if re.search(r"\bExchange (hash|range)partitioning", line)
    ]
    assert len(data_exchanges) == 1, p
    assert any(
        "EqualTo(p_type,ECONOMY)" in pf for _, pf in _scan_filters(p)
    ), p
    assert any("EqualTo(r_name,ASIA)" in pf for _, pf in _scan_filters(p)), p


def test_q9_infix_like_pushed_and_partial_agg(spark):
    """Q9's '%red%' is an infix LIKE — no prefix to turn into a range —
    but Spark 4 still pushes it to the part scan as StringContains, so
    the broadcast build side is pruned ~6x at the reader, and the mixed
    fact-times-dim profit expression must still partial-aggregate
    map-side despite referencing a joined column."""
    p = _plan(QUERIES["q9_product_profit"](spark, SF))
    assert "partial_sum" in p, p
    assert p.count("BroadcastHashJoin") == 4, p
    assert any(
        "StringContains(p_name,red)" in pf for _, pf in _scan_filters(p)
    ), p


def test_skyline_prune_broadcasts_and_range_frame(spark):
    """skyline_pareto: the bucket prune must reach rows as a broadcast
    hash join (a shuffled join would defeat the point of the tiny
    bucket-max frame), and the exact stage must use the value-based
    RANGE frame (a ROWS frame would include price ties and break the
    dominance rule)."""
    spark.catalog.clearCache()
    p = _plan(QUERIES["skyline_pareto"](spark, SF))
    assert "BroadcastHashJoin" in p, p
    assert "RANGE BETWEEN" in p.upper() or "specifiedwindowframe(RangeFrame" in p, p


def test_session_error_overlap_no_nested_loop(spark):
    """The bucketed interval join exists to avoid the non-equi nested
    loop the oracle formulation would plan; the equi-join on the hour
    chunk must never degrade to BNLJ/cartesian."""
    spark.catalog.clearCache()
    p = _plan(QUERIES["session_error_overlap"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "Generate explode" in p, p  # the session-to-hours fan-out


def test_basket_lift_has_no_self_join(spark):
    """basket_brand_lift generates pairs from per-order arrays; the
    order-key self-join formulation (two shuffles of the full order-
    brand frame joined on l_orderkey) must not reappear."""
    spark.catalog.clearCache()
    p = _plan(QUERIES["basket_brand_lift"](spark, SF))
    assert "Generate explode" in p, p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_lateral_topk_decorrelates(spark):
    """The LATERAL correlated subquery must be decorrelated by Catalyst
    into a window/rank plan — not executed as a per-outer-row nested
    loop (the anti-plan a naive lateral implementation produces)."""
    spark.catalog.clearCache()
    p = _plan(QUERIES["lateral_top_parts"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "Window" in p, p


def test_sql_udf_inlines_into_codegen(spark):
    """A SQL-defined function must inline at resolution: the plan shows
    ordinary decimal arithmetic inside WholeStageCodegen — no Python
    eval node, no blackbox UDF invocation."""
    spark.catalog.clearCache()
    p = _plan(QUERIES["sql_udf_pricing"](spark, SF))
    # fully inlined: the function NAMES are gone from the physical plan,
    # replaced by the raw decimal arithmetic inside the hash aggregate
    assert "__disc_price" not in p and "__charge" not in p, p
    assert "sum((p" in p, p  # the inlined expression, aggregated directly
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "HashAggregate" in p, p


# ---------------------------------------------------------------------------
# Driver-side plan-BUILD budget (VERDICT r9 ask #7)
# ---------------------------------------------------------------------------

#: widest pure-build plans on the board (tools/build_time.py, r10 probe) —
#: the py4j-chatter class that PLANS.md's executed-plan facts cannot see.
#: Queries that intentionally EXECUTE jobs at build (iterative label
#: propagation, eager renumber offsets, centroid collects, checkpoint
#: drains) are excluded: their build wall measures that work, not chatter.
_PURE_BUILD_GATED = [
    "enrich_2of3",
    "embedding_project",
    "enrich_change_log",
    "q8_market_share",
    "fk_orphan_audit",
    "q7_volume_shipping",
    "revenue_share_rollup",
    "q9_product_profit",  # user_value_deciles renumbers: eager offset collect
    "norm_scalars",
    "q5_region_revenue",
]

#: warm min-of-3 budget per build. The r10 measured board's worst gated
#: query is ~0.7 s (enrich_2of3, after the change-log opt-out and
#: selectExpr fixture rewrite; embedding_project went 2.7 -> 0.25 s via
#: random_projection_sql); 1.5 s = headroom for this host's documented
#: ±30% noise band while still catching the multi-second chatter class
#: (contacts e2e measured ~9 s of build before normalize_sql).
_BUILD_BUDGET_S = 1.5


def test_plan_build_time_budget(spark):
    """Plan CONSTRUCTION wall (build-only, no execution) for the widest
    pure-build queries: py4j round-trips building expression trees are
    driver-side serial cost that grows with query WIDTH, not data — the
    one scale bottleneck executed-plan audits cannot see. Any query that
    breaches this budget gets the normalize_sql treatment (build hot
    projections as SQL strings: one JVM-side parse per projection)."""
    import time

    for name in _PURE_BUILD_GATED:
        QUERIES[name](spark, SF)  # warm: parquet schema inference etc.
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            QUERIES[name](spark, SF)
            el = time.perf_counter() - t0
            best = el if best is None or el < best else best
        assert best < _BUILD_BUDGET_S, (
            f"{name} plan build {best:.2f}s > {_BUILD_BUDGET_S}s — "
            "apply the normalize_sql treatment (see functions/"
            "normalize_sql.py, functions/vectors.py:random_projection_sql)"
        )


def test_gated_builds_execute_no_jobs(spark):
    """The budget above is honest only if the gated builds are PURE —
    a query that starts running Spark jobs at build time would be
    measuring execution, not chatter. Detected via job groups: any job
    submitted during the build lands in the group and fails this test
    (move the query to the executes-at-build class instead of gating).

    Exception: every ``spark.read.parquet`` runs one 1-task
    'parquet at ...' footer-inference job even on a warm path — a
    per-read constant, not query execution — so jobs whose stages are
    all schema inference are ignored."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    for name in _PURE_BUILD_GATED:
        group = f"buildgate-{name}"
        sc.setJobGroup(group, "build purity probe")
        try:
            QUERIES[name](spark, SF)
        finally:
            sc.setJobGroup(None, None)  # type: ignore[arg-type]
        real = []
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            stages = [
                st.getStageInfo(sid) for sid in (info.stageIds if info else [])
            ]
            names = [s.name for s in stages if s is not None]
            if names and all(n.startswith("parquet at") for n in names):
                continue  # schema-inference job, not execution
            real.append((jid, names))
        assert not real, (
            f"{name} executed Spark job(s) during plan build {real} "
            "— not a pure-build query; exclude it from the budget gate"
        )


def test_pair_generators_never_static_broadcast_corpus_frames(spark):
    """SCALE.md r10 100x probe finding: plan-time width stats price
    array columns like scalars, so the corpus-sized signature/shingle
    frames passed the broadcast threshold and OOM'd the driver at 100x
    (a ~550 MB build side estimated under 10 MB). The pair generators
    now pin SHUFFLE_HASH on corpus-derived join sides
    (similarity._no_static_broadcast); this asserts the property on the
    executed plans — meaningful at ANY sf, since the old plans
    broadcast these frames even at sf0.001."""
    for name in ("minhash_recall", "minhash_recall_capped",
                 "simhash_recall", "decontaminate", "prefix_jaccard_pairs",
                 "ngram_jaccard", "incremental_neardup"):
        p = _plan(QUERIES[name](spark, SF))
        # allowed broadcasts: 1-row scalar attachments (Identity
        # crossJoin) and the bounded hot-bucket sets, which appear only
        # as LeftAnti probes — every INNER pair/verify join must build
        # per-partition (shuffled hash), never a driver broadcast
        for line in p.splitlines():
            if "BroadcastHashJoin" in line and "Inner" in line:
                raise AssertionError(
                    f"{name} statically broadcasts an inner-join build "
                    f"side — corpus-scaling hazard:\n{line}"
                )
        spark.catalog.clearCache()


def _filters_below_spread(plan: str) -> list[str]:
    """Filter nodes in the subtree of any Repartition /
    RoundRobinPartitioning node of a plan tree string."""

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "Repartition" not in line and "RoundRobinPartitioning" not in line:
            continue
        for below in lines[i + 1:]:
            if depth(below) <= depth(line):
                break
            if below.lstrip(" :+-").startswith("Filter"):
                out.append(below)
    return out


def test_token_hashing_stays_above_the_spreading_exchange(spark):
    """The r15 regression: ``shingle_hash_frame`` exploded a bound
    ``__sh`` attribute, Catalyst inferred ``size(__sh) > 0`` for the
    generate and pushed it below the RoundRobinPartitioning exchange
    with the whole tokenize + hash + n-gram pipeline inlined (8
    ``xxhash64`` in the optimized plan, 6 of them in that filter), so
    the hashing ran on the unspread scan split — five consumers 3-16x
    slower with identical results. Guard every per-document hashing
    path: beneath the spread, only the token-count filter may run, and
    the shingle plan hashes exactly twice (per token, per window)."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        minhash_signatures,
        shingle_hash_frame,
        simhash64,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    frames = {
        "shingle_hash_frame": shingle_hash_frame(docs, "doc_id", "text", 3),
        "minhash_signatures": minhash_signatures(docs, "doc_id", "text", 3),
        "simhash64": simhash64(docs, "doc_id", "text"),
    }
    plans = {
        name: df._jdf.queryExecution().optimizedPlan().toString()
        for name, df in frames.items()
    }
    for name, p in plans.items():
        assert "Repartition" in p, f"{name} lost its spreading repartition:\n{p}"
        hashed = [f for f in _filters_below_spread(p) if "xxhash64" in f]
        assert not hashed, (
            f"{name}: a hash expression is filtered below the spreading "
            f"exchange:\n{hashed}"
        )
    assert plans["shingle_hash_frame"].count("xxhash64") <= 2, plans


def _ran_plan_trees(spark, after_id: int) -> list[str]:
    """The plan tree AQE actually ran, for every SQL execution with an id
    above ``after_id`` (checkpoint jobs included): the formatted UI
    description cut before its per-node details and before the
    ``Initial Plan`` copy of the tree."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    trees = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > after_id:
            tree = e.physicalPlanDescription().split("\n\n(1) ")[0]
            trees.append(tree.split("== Initial Plan ==")[0])
    return trees


def test_capped_neardup_explodes_shingles_once(spark):
    """The capped near-dup path tokenizes, hashes and explodes the
    corpus ONCE: the cap (``skew.cap_keys``) checkpoints the shingles,
    and its document-frequency count, the sizes and both join sides
    read the checkpoint. Counted over every plan the call runs — the
    cap's checkpoint jobs and the sink."""
    import re

    from bcg_contacts_data_pipeline_spark.operators.pins import PinScope
    from bcg_contacts_data_pipeline_spark.plans.registry import neardup_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    after = max(
        [execs.apply(i).executionId() for i in range(execs.size())], default=-1
    )
    with PinScope():
        neardup_pairs(docs).write.format("noop").mode("overwrite").save()
    trees = _ran_plan_trees(spark, after)
    assert len(trees) >= 2, trees  # the cap's checkpoint + the sink
    generates = sum(len(re.findall(r"\bGenerate \(\d+\)", t)) for t in trees)
    assert generates == 1, "\n\n".join(trees)


# ---------------------------------------------------------------------------
# Partitionless-window gate (VERDICT r10 ask #6)
# ---------------------------------------------------------------------------

#: Queries allowed to run an UNPARTITIONED window (plan signature:
#: Window over Exchange SinglePartition — every input row on one task),
#: each with its cardinality-bound class. Legitimate ONLY over a frame
#: something upstream has already shrunk, never over raw data:
#: - "agg": the exchange draws from an aggregation — input is one row
#:   per group-domain value (days, buckets).
#:   user_growth_curve: cumulative sum over one row per day.
#:   conversion_lag_curve: CDF over one row per whole-day lag bucket.
#: - "pruned:<marker>": the exchange draws from the bucket-prune
#:   broadcast join (marker = the prune column in the join condition) —
#:   input is the skyline candidate set, O(frontier) by the prune
#:   argument in the query's docstring (q_tpch.py skyline_pareto:
#:   stage-2 window safe BECAUSE stage 1 shrank the input). Its second
#:   single-partition exchange (the bucket-prior cum-max) is agg-fed
#:   and checked under the "agg" rule like the rest.
_PARTITIONLESS_WINDOW_WHITELIST = {
    "user_growth_curve": "agg",
    "conversion_lag_curve": "agg",
    "skyline_pareto": "pruned:bucket_prior_max",
}


def test_partitionless_windows_enumerated_and_agg_bounded(spark):
    """Two-layer gate. Layer 1: the generated PLANS.md fact sheet (one
    row per registered query, `1p-window` notes emitted by
    tools/plan_report.py's shared detector) must flag EXACTLY the
    whitelist — a new query sneaking in an unpartitioned window shows
    up as a PLANS.md drift the moment the sheet regenerates, and a
    stale sheet can't hide one already committed. Layer 2: rebuild the
    whitelisted plans live and assert every single-partition exchange
    feeding a window draws from an AGGREGATE subtree (the first plan
    node below the exchange is an aggregation, never a scan/join) — the
    cardinality bound that makes a one-task window safe at any SF."""
    import re
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from plan_report import count_partitionless_windows

    flagged = set()
    with open(os.path.join(ROOT, "PLANS.md")) as f:
        for line in f:
            m = re.match(r"\| (\w+) \|", line)
            if m and "1p-window" in line:
                flagged.add(m.group(1))
    assert flagged == set(_PARTITIONLESS_WINDOW_WHITELIST), (
        "PLANS.md's partitionless-window enumeration drifted from the "
        f"whitelist: flagged={sorted(flagged)} — either justify the new "
        "entry here or repartition the window"
    )

    for name, bound in sorted(_PARTITIONLESS_WINDOW_WHITELIST.items()):
        p = _plan(QUERIES[name](spark, SF))
        assert count_partitionless_windows(p) > 0, (
            f"{name} whitelisted but its plan no longer has an "
            "unpartitioned window — prune the whitelist"
        )
        marker = bound.split(":", 1)[1] if bound.startswith("pruned:") else None
        lines = p.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            # the exchange's input subtree starts on the next line;
            # demand the bound (an aggregation, or the declared prune
            # join) before any raw scan reaches it (scalar
            # cross-attaches and projections may sit between —
            # conversion_lag_curve crosses a 1-row total onto the
            # per-day aggregate — but a FileScan first means raw,
            # unbounded rows are entering a one-task window)
            bounded = False
            for nxt in lines[i + 1 :]:
                if "Aggregate" in nxt or (marker and marker in nxt):
                    bounded = True
                    break
                if "FileScan" in nxt:
                    break
            assert bounded, (
                f"{name}: single-partition exchange fed by neither an "
                f"aggregation nor the declared prune "
                f"(unbounded one-task window):\n{line}"
            )
        spark.catalog.clearCache()


FAMILIES = (
    "q_tpch", "q_contacts", "q_curation", "q_similarity", "q_temporal", "q_audit",
)


def test_registry_is_grouped_by_family():
    """Every registered query lives in one of the six family modules, the
    round-numbered modules are gone, and each family imports first, on
    its own, in a fresh interpreter (no import cycle through the facade)
    and registers exactly its own queries."""
    pkg = plans_pkg.__name__
    assert {fn.__module__ for fn in QUERIES.values()} <= {
        f"{pkg}.{f}" for f in FAMILIES
    }
    modules = {m.name for m in pkgutil.iter_modules(plans_pkg.__path__)}
    assert not {
        m for m in modules
        if m.startswith("queries_") or m == "oracle_templates"
    }, modules
    assert set(QUERIES) == set(ORACLE)
    for fam in FAMILIES:
        proc = subprocess.run(
            [sys.executable, "-c", (
                f"import {pkg}.{fam}\n"
                f"from {pkg}.registry import QUERIES\n"
                "print(' '.join(sorted(QUERIES)))\n"
            )],
            capture_output=True, text=True, timeout=120, cwd=ROOT,
        )
        assert proc.returncode == 0, f"{fam}: {proc.stderr[-2000:]}"
        mine = sorted(
            n for n, fn in QUERIES.items() if fn.__module__ == f"{pkg}.{fam}"
        )
        assert mine and proc.stdout.split() == mine, fam
