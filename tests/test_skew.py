"""Salted aggregation/join: semantics identical to unsalted, shuffle
reshaped. The key-frequency cap matches its Python model."""

from collections import defaultdict

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bcg_contacts_data_pipeline_spark.operators.pins import PinScope
from bcg_contacts_data_pipeline_spark.operators.skew import (
    cap_keys,
    salted_agg,
    salted_join,
)
from tests.test_properties import SETTINGS


def test_salted_agg_equals_plain(spark):
    df = spark.range(0, 10000).select(
        F.when(F.col("id") % 2 == 0, F.lit("HOT"))
        .otherwise(F.col("id").cast("string"))
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    got = {
        r.k: (r.n, r.total, r.mx)
        for r in salted_agg(
            df,
            ["k"],
            {
                "n": (F.count, F.sum, F.lit(1)),
                "total": (F.sum, F.sum, F.col("v")),
                "mx": (F.max, F.max, F.col("v")),
            },
        ).collect()
    }
    want = {
        r.k: (r.n, r.total, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("total"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6
        assert got[k][2] == want[k][2]


def test_salted_join_equals_plain(spark):
    fact = spark.range(0, 5000).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("fid")
    )
    dim = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dval")
    )
    got = sorted(
        map(tuple, salted_join(fact, dim, "k").select("fid", "dval").collect())
    )
    want = sorted(
        map(tuple, fact.join(dim, "k").select("fid", "dval").collect())
    )
    assert got == want


def test_salted_agg_spreads_hot_key(spark):
    """The operator's ACTUAL salt (deterministic content hash, not
    F.rand) must spread a hot key of distinct rows: 5000 HOT rows over
    16 salt buckets must hit nearly all buckets, and no bucket may hold
    a straggler-sized share."""
    from bcg_contacts_data_pipeline_spark.operators.skew import _content_salt

    df = spark.range(0, 5000).select(
        F.lit("HOT").alias("k"), F.col("id").cast("double").alias("v")
    )
    salted = df.withColumn("__salt", _content_salt(df, 16))
    sizes = {
        r["__salt"]: r["count"]
        for r in salted.groupBy("k", "__salt").count().collect()
    }
    assert len(sizes) >= 14  # ~uniform over 16 buckets
    assert max(sizes.values()) < 5000 * 0.2  # no bucket is a straggler


def test_salted_agg_reducer_side_spread(spark):
    """Reducer-partition histogram: after the phase-1 exchange on
    (k, __salt), the hot key's partials must occupy MULTIPLE shuffle
    partitions — the whole point of salting. Without the salt the hot
    key hashes to exactly one reducer."""
    from bcg_contacts_data_pipeline_spark.operators.skew import _content_salt

    df = spark.range(0, 5000).select(
        F.lit("HOT").alias("k"), F.col("id").cast("double").alias("v")
    )
    salted = df.withColumn("__salt", _content_salt(df, 16))
    # AQE's partition coalescing would re-merge the toy-sized partials
    # into one partition and mask the spread we're asserting; at real
    # scale the partials exceed the coalesce target and stay separate.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        phase1 = salted.groupBy("k", "__salt").count()
        hot_partitions = {
            r["p"]
            for r in phase1.select(
                F.spark_partition_id().alias("p")
            ).collect()
        }
        assert len(hot_partitions) > 1, (
            "hot-key partials landed on a single reducer; salting is not "
            "spreading the key"
        )
        unsalted_partitions = {
            r["p"]
            for r in df.groupBy("k")
            .count()
            .select(F.spark_partition_id().alias("p"))
            .collect()
        }
        assert len(unsalted_partitions) == 1  # the hazard salting removes
    finally:
        spark.conf.set(coalesce_key, prev)


def test_dedup_hot_key_merge_completes_with_bounded_reducer_input(spark):
    """SURVEY §4's real hazard on the KEYED path: one dedup key holding
    ~30% of all rows (the reference's `DEDUP_KEY=''` Frankenstein group,
    but for a legitimate key). AQE skew-split applies to joins, not
    aggregates, so the scale defense for the merge is map-side partial
    aggregation: each map task pre-combines its hot rows into ONE
    max_by partial, so the hot key's single reducer receives
    O(#map_partitions) rows, not O(0.3 * N).

    Asserted three ways: (1) the merge completes and is value-correct
    for the hot group; (2) the plan keeps partial_max_by upstream of the
    exchange; (3) the observed spread — hot rows occupy all 8 map
    partitions, so the reducer-side input for the hot key is 8 partials
    for 3,000 input rows (375x reduction at this toy size; at 100 TB the
    same bound is #map_tasks, independent of the group's row count)."""
    from bcg_contacts_data_pipeline_spark.operators.dedup import (
        dedup_key,
        most_complete_merge,
    )

    n = 10_000
    base = spark.range(n).select(
        F.when(F.col("id") % 10 < 3, F.lit("hot@corp.example"))
        .otherwise(
            F.concat(F.lit("u"), F.col("id"), F.lit("@corp.example"))
        )
        .alias("email"),
        F.concat(F.lit("name"), (F.col("id") % 50)).alias("fullname"),
        F.col("id").cast("string").alias("mobile"),
        F.col("id").alias("ord"),
    )
    df = base.repartition(8)

    merged = most_complete_merge(
        df,
        dedup_key("email", "fullname", "mobile"),
        value_cols=["fullname", "mobile"],
        order_by=F.col("ord"),
    )

    # (1) correctness of the hot group: longest value wins, ties toward
    # highest ord. Hot ids end in 0/1/2 -> max 4-digit mobile is "9992";
    # longest fullnames are the len-6 "nameXX" ones, latest is 9992%50=42.
    hot = merged.filter(F.col("dedup_key") == "hot@corp.example").collect()
    assert len(hot) == 1
    assert hot[0]["group_size"] == 3000
    assert hot[0]["mobile"] == "9992"
    assert hot[0]["fullname"] == "name42"
    assert merged.count() == n - 3000 + 1

    # (2) partial aggregation survives upstream of the exchange
    plan = merged._jdf.queryExecution().executedPlan().toString()
    below_exchange = plan.split("Exchange", 1)[1]
    assert "partial_max_by" in below_exchange, plan

    # (3) observed spread: hot rows really do occupy every map partition,
    # so the partial phase caps the hot reducer's input at 8 rows
    hot_map_parts = (
        df.select(F.spark_partition_id().alias("p"), "email")
        .filter(F.col("email") == "hot@corp.example")
        .groupBy("p")
        .count()
        .collect()
    )
    assert len(hot_map_parts) == 8, hot_map_parts
    assert sum(r["count"] for r in hot_map_parts) == 3000


def test_ngram_df_cap_bounds_hot_shingle_pairs(spark):
    """The posting-list frequency cap on ngram_jaccard_pairs — the thing
    that keeps the inverted-index self-join from going quadratic on a
    stop-shingle. Corpus: one shingle ("of the and") shared by 60 of 202
    docs (~30%), everything else unique except one rare shingle shared
    by exactly 2 docs. Uncapped, the hot posting list alone contributes
    C(60,2) = 1770 join pairs; with max_df=50 the hot shingle is dropped
    BEFORE the join, so the only surviving pair is the rare one — pair
    generation is bounded by the cap, not by the hot key's df² (at corpus
    scale: no posting list contributes more than max_df² pairs)."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        ngram_jaccard_pairs,
    )

    rows = [
        (i, f"u{i}a u{i}b u{i}c of the and") for i in range(60)  # hot
    ] + [
        (i, f"u{i}a u{i}b u{i}c u{i}d") for i in range(60, 200)  # unique
    ] + [
        (200, "z1 z2 z3"),  # rare shared shingle (df=2, under the cap)
        (201, "z1 z2 z3"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # threshold=0.0 exposes every generated co-occurrence pair, so the
    # counts below measure the JOIN's output, not the similarity filter.
    uncapped = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0)
    assert uncapped.count() == 1770 + 1

    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.0, max_df=50
    )
    got = capped.collect()
    assert len(got) == 1, got
    assert (got[0]["id_a"], got[0]["id_b"]) == (200, 201)
    # Jaccard over the capped shingle universe: both docs have exactly
    # the one (sub-cap) shingle -> 1/(1+1-1) = 1.0.
    assert got[0]["jaccard"] == 1.0

    # The cap (skew.cap_keys) drops the hot shingles with an anti-join
    # against the keys past max_df, and the pair plan reads the cap's
    # checkpointed shingles instead of re-exploding the corpus; the
    # uncapped plan explodes and anti-joins nothing.
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Generate" not in plan, plan
    plan = uncapped._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan and "Generate" in plan, plan


def test_dedup_components_pair_generation_is_capped(spark, tmp_path):
    """The production cluster query (dedup_components) must inherit the
    posting-list cap — round 6 left its pair generator uncapped, so a
    stop-shingle in f docs contributed f² join rows before the Jaccard
    filter even though the standalone neardup_prune was already capped.
    Driven END-TO-END through the registered query on a CAP-SENSITIVE
    corpus (the output discriminates capped from uncapped, so no plan
    inspection is needed — the final executed plan is checkpoint-
    truncated by connected_components anyway and can't show the
    cap; the plan-level cap pin lives in the test above)."""
    from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES

    # Hot cohort: 150 docs, each "h1 h2 h3 h4 uX" -> shingles
    # (h1 h2 h3), (h2 h3 h4), (h3 h4 uX): two shingles shared by all
    # 150 docs (df=150 > 100 -> capped away), one unique. Uncapped,
    # every hot pair shares 2 of 4 shingles -> Jaccard 2/(3+3-2)=0.5
    # >= 0.2 -> one giant 150-doc component. Capped, each hot doc keeps
    # only its unique shingle -> all singletons.
    rows = [(i, f"h1 h2 h3 h4 u{i}") for i in range(150)] + [
        (200, "z1 z2 z3 z4"),  # rare near-dup pair, shingles df=2
        (201, "z1 z2 z3 z4"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "documents.parquet")
    docs.write.parquet(path)

    out = QUERIES["dedup_components"](spark, str(tmp_path))
    got = {r["doc_id"]: (r["component"], r["component_size"]) for r in out.collect()}
    # capped: hot docs are singletons; rare pair clusters as (200, size 2)
    for i in range(150):
        assert got[i] == (i, 1), (i, got[i])
    assert got[200] == (200, 2) and got[201] == (200, 2)


def test_merge_empty_keys_hot_group_partial_aggregation(spark):
    """merge_empty_keys=True funnels every keyless row into ONE group —
    a hot aggregation key that AQE cannot split (skew-split applies to
    joins, not aggregates). The scale defense is map-side partial
    aggregation: each map task pre-combines its keyless rows to one
    partial, so the single reducer receives O(#map_tasks) rows, not
    O(N). Pin that the plan keeps partial_max_by UPSTREAM of the
    exchange (a plan regression to complete-mode aggregation would
    silently restore the O(N) straggler)."""
    from bcg_contacts_data_pipeline_spark.operators.dedup import (
        most_complete_merge,
    )

    df = spark.range(0, 1000).select(
        F.when(F.col("id") % 2 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("k"), F.col("id")))
        .alias("key"),
        F.col("id").cast("string").alias("v"),
    )
    merged = most_complete_merge(
        df, "key", ["v"], order_by=F.lit(0), merge_empty_keys=True
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan
    # tree printing puts upstream nodes BELOW: the partial aggregate must
    # appear after the Exchange line (= before it in dataflow order)
    below_exchange = plan.split("Exchange", 1)[1]
    assert "partial_max_by" in below_exchange, plan
    assert "partial_count" in below_exchange, plan


def test_lsh_band_bucket_cap_bounds_clone_cluster_pairs(spark):
    """A near-identical cluster collides in EVERY band, so without a
    bucket cap its f members contribute bands*f^2 candidate rows —
    AQE can split that join's work but not shrink its output. Corpus:
    40 exact clones plus two genuinely near-dup docs. Uncapped, the
    clone cluster dominates; with max_bucket=10 the clone buckets are
    dropped in every band (df=40 > 10) while the small pair survives.
    Same contract checked for both banded schemes."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        minhash_lsh_pairs,
        simhash_pairs,
    )

    clone_text = "the same boilerplate page body repeated across mirrors"
    # long near-dups (1 of 60 tokens differs) so the simhash hamming
    # distance is small — short texts flip too many bits per token
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [(i, clone_text) for i in range(40)] + [
        (100, base + " ending_one"),
        (101, base + " ending_two"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    mh_uncapped = minhash_lsh_pairs(
        docs, "doc_id", "text", verify_threshold=0.2
    )
    assert mh_uncapped.filter("id_a < 40").count() == 40 * 39 // 2

    mh = minhash_lsh_pairs(
        docs, "doc_id", "text", verify_threshold=0.2, max_bucket=10
    )
    got = {(r.id_a, r.id_b) for r in mh.collect()}
    assert (100, 101) in got
    assert not any(a < 40 for a, _ in got), got
    # capped: the band-bucket explode ran in the cap's checkpoint job
    # and the plan anti-joins the buckets past max_bucket
    plan = mh._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Generate" not in plan, plan
    plan = mh_uncapped._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan and "Generate" in plan, plan

    sh = simhash_pairs(docs, "doc_id", "text", max_bucket=10)
    sgot = {(r.id_a, r.id_b) for r in sh.collect()}
    assert (100, 101) in sgot
    assert not any(a < 40 for a, _ in sgot), sgot


# (k1, k2, doc) rows with repeated pairs: a document holding one key
# several times is the substring_spans / paragraph_dedup row shape
_cap_rows = st.lists(
    st.tuples(
        st.integers(0, 3), st.integers(0, 1), st.integers(0, 3)
    ),
    max_size=30,
)


@pytest.mark.parametrize("keys", [["k1"], ["k1", "k2"]])
@given(rows=_cap_rows, min_df=st.sampled_from([1, 2]), max_df=st.integers(1, 4))
@settings(**SETTINGS)
def test_cap_keys_matches_model(spark, keys, rows, min_df, max_df):
    """cap_keys keeps exactly the rows whose key is held by between
    min_df and max_df DISTINCT documents — repeated (key, doc) rows
    count once toward the key's frequency and are all kept or all
    dropped. Two-column keys are the (band, bh) / blocking-key shape."""
    docs = defaultdict(set)
    for k1, k2, doc in rows:
        docs[(k1, k2)[: len(keys)]].add(doc)
    want = sorted(
        r for r in rows if min_df <= len(docs[r[: len(keys)]]) <= max_df
    )
    df = spark.createDataFrame(rows, "k1 int, k2 int, doc int")
    with PinScope():
        got = sorted(
            tuple(r)
            for r in cap_keys(df, keys, "doc", max_df, min_df=min_df).collect()
        )
    assert got == want
